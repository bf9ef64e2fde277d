"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; the configs below are the ones that also
matter on a real cluster (AQE, shuffle partition sizing, Arrow for the
Pandas-UDF paths). Nothing here is local-mode-specific except the master
default.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "gedixr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    - AQE on: runtime coalescing of shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching — at 100 TB the
      static plan is never exactly right.
    - Arrow on: every Pandas-UDF boundary (HDF5 reader, WKB codecs)
      moves data in Arrow batches, not pickled rows.
    - shuffle.partitions defaults to cores locally; on a cluster you'd
      size it so post-shuffle partitions land in the 64–256 MB range and
      let AQE coalesce.
    """
    # make this package importable inside Python workers (local mode
    # forks them with the driver's environment, not its sys.path)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-optimize (coalesce/skew-split) the stages that
        # feed a .cache()/.persist() too: off, a cached micro-batch
        # pins spark.sql.shuffle.partitions tiny partitions and every
        # downstream action pays that task count (measured: the CDC
        # mirror's cached per-key batch ran 32-partition stages for
        # KB-sized data); on, cached exchanges right-size by the AQE
        # advisory target at every scale. Trade-off per the docs is
        # only that a cache consumer can no longer REUSE the cached
        # partitioning to elide its own exchange — none of our cache
        # consumers joins/groups on the cached key without
        # re-aggregating, so nothing is lost.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """A small table the driver already holds (file inventory, AOIs,
    join index) as a ``LocalRelation``.

    Built from pandas, the rows cross to the JVM through Arrow (the
    setting above) and the plan is a ``LocalRelation``: a collect runs
    no job, filters and projections over it fold at optimization, and
    a broadcast of it starts no Python worker. ``createDataFrame`` of a
    Python list gives a ``LogicalRDD`` instead, whose every action runs
    tasks that unpickle the rows in Python workers. Arrow is on in
    ``get_spark``; a session without it falls back to the list path.
    pyspark sends an empty pandas frame down that list path too, so an
    empty table is built from an empty Arrow table, which stays local.
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    pdf = pd.DataFrame(rows, columns=schema.names)
    if pdf.empty:
        return spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False), schema)
    return spark.createDataFrame(pdf, schema)
