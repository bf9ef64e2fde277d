"""User-facing API mirroring the reference's ``extract_data`` surface
(reference extract.py:20-27 parameters), composed from the operator
layer. The reference's eager per-file loop (extract.py:136-194) becomes
ONE plan; its AOI dict becomes an ``aoi_name`` column. With ``save=True``
that plan runs once, into the GeoParquet output, and the frame returned
reads the output files back; with ``save=False`` it is returned lazily.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from gedixr_spark.constants import ALLOWED_PRODUCTS, effective_schema
from gedixr_spark.operators.filters import month_filter, quality_filter
from gedixr_spark.operators.joins import spatial_join_aoi
from gedixr_spark.operators.projections import with_geometry
from gedixr_spark.sinks.geoparquet import output_name, write_geoparquet
from gedixr_spark.sources.hdf5 import discover_granules, read_granules
from gedixr_spark.sources.shots import read_shots
from gedixr_spark.sources.vector import prepare_vec


def extract_data(
    spark: SparkSession,
    directory: str | Path,
    gedi_product: str = "L2B",
    variables: Sequence[tuple[str, str]] | None = None,
    beams: str | Sequence[str] | None = None,
    filter_month: tuple[int, int] | None = None,
    subset_vector=None,
    apply_quality_filter: bool = True,
    save: bool = True,
    output_dir: str | Path | None = None,
    granule_opener: Callable | None = None,
    error_acc=None,
    zorder: bool = False,
    zorder_files: int | None = None,
) -> tuple[DataFrame, str | None]:
    """Spark re-expression of the reference's primary entry point
    (``extract_data``, extract.py:20-229; lifecycle SURVEY.md §3.1).

    Plan: discover granules → month-prune the inventory (file pruning
    BEFORE open, extract.py:138-146) → mapInPandas HDF5 extraction →
    quality filter (extract.py:303-339) → geometry (extract.py:166-171)
    → optional AOI spatial join (extract.py:175-187) → GeoParquet sink
    partitioned by aoi_name (extract.py:196-220).

    Returns ``(shots, out_path)``. With ``save=True`` the plan runs once,
    for the write, and ``shots`` reads the saved output back
    (``read_shots`` with the written schema: same columns, order and
    types, geometry decoded from WKB). It depends on the files under
    ``out_path``, not on the granules: later actions open no granule and
    leave ``error_acc`` as the write left it. With ``save=False``,
    ``shots`` is the lazy plan and ``out_path`` is None.
    """
    if gedi_product not in ALLOWED_PRODUCTS:  # extract.py:89-91
        raise ValueError(f"gedi_product must be one of {ALLOWED_PRODUCTS}")
    layers = effective_schema(gedi_product, variables)  # extract.py:124

    inventory = discover_granules(spark, directory, gedi_product)
    if error_acc is None:
        from gedixr_spark.operators.stats import error_accumulator

        error_acc = error_accumulator(spark)  # A2, ancillary.py:10-20
    shots = read_granules(
        inventory,
        gedi_product,
        layers,
        beams=beams,
        filter_month=filter_month,
        granule_opener=granule_opener,
        error_acc=error_acc,
    )
    if filter_month is not None:
        # inventory pruning already skipped whole files; this row-level
        # guard keeps semantics exact if acq_time granularity differs
        shots = month_filter(shots, *filter_month)
    if apply_quality_filter:
        shots = quality_filter(shots)

    aoi_df = None
    if subset_vector is not None:
        aoi_df = prepare_vec(spark, subset_vector)
        # one grid-indexed broadcast join at any AOI count: rectangles
        # decided by bbox, other polygons by the JVM even-odd expression
        shots = spatial_join_aoi(shots, aoi_df)
    shots = with_geometry(shots)

    out_path = None
    if save:
        base = Path(output_dir or directory) / "extracted"
        name = output_name(gedi_product, apply_quality_filter)
        out_path = write_geoparquet(
            shots,
            base / name,
            partition_by="aoi_name" if aoi_df is not None else None,
            # zorder=True lays each output (partition) down as Morton
            # tiles so later bbox/AOI scans prune files (layout.py)
            zorder=zorder,
            zorder_files=zorder_files,
        )
        shots = read_shots(spark, out_path, schema=shots.schema)
    return shots, out_path
