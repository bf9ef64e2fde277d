"""A1/A2 — filter statistics and error accounting (SURVEY.md §2.5).

The reference logs per-file ``filtered/total (pct%)`` (extract.py:334-338)
and keeps a global mutable error counter (ancillary.py:10-20). Spark-first
replacements: a grouped aggregation over a ``source_file`` column for the
per-file stats, ``df.observe`` for the global ones (no extra pass), and a
LongAccumulator for reader errors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from gedixr_spark.functions.scalar import pct
from gedixr_spark.operators.filters import quality_predicate


def filter_stats_per_file(df: DataFrame, file_col: str = "source_file") -> DataFrame:
    """Per-file quality-filter statistics: total, passed, filtered, pct
    (reference extract.py:329,334-338; format docs/quality.md:25-33) —
    one aggregation, no second scan."""
    passed = F.sum(quality_predicate().cast("long")).alias("passed")
    total = F.count(F.lit(1)).alias("total")
    return (
        df.groupBy(file_col)
        .agg(total, passed)
        .select(
            file_col,
            "total",
            "passed",
            (F.col("total") - F.col("passed")).alias("filtered"),
            pct(F.col("total") - F.col("passed"), F.col("total")).alias("pct_filtered"),
        )
    )


def observe_filter_stats(df: DataFrame, name: str = "quality_stats"):
    """Global filter stats piggybacked on the next action via
    ``df.observe`` — zero extra scans (SURVEY §7.3). Returns
    (instrumented_df, observation)."""
    obs = Observation(name)
    instrumented = df.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.sum(quality_predicate().cast("long")).alias("passed"),
    )
    return instrumented, obs


def error_accumulator(spark):
    """A2 — distributed error counter incremented inside reader UDFs
    (replaces the reference's mutable global, ancillary.py:10-20)."""
    return spark.sparkContext.accumulator(0)


# numeric typeName()s the profiler computes mean/stddev for
_NUMERIC = {"byte", "short", "integer", "long", "float", "double"}


def profile_table(df: DataFrame, rsd: float = 0.05) -> DataFrame:
    """One-pass column profiler: for every column — row count, null
    count, approximate distinct count (HLL++, relative sd ``rsd``),
    min/max (as strings, so one output schema fits all types), and
    mean/stddev for numeric columns.

    ONE aggregation job over a single scan: all per-column aggregates
    are laid side-by-side in a single ``agg`` (Catalyst fuses them into
    one partial/final pair, map-side combined), and the 1×(5·ncols)
    result row is unpivoted to long form with ``stack`` — still inside
    the plan, no driver loop over columns, no per-column job. This is
    the schema-drift/data-quality census you run after every ingest at
    100 TB: cost = one scan regardless of column count.

    Complex-typed columns (arrays/structs/maps/binary) get counts but
    null min/max — their ordering is undefined for a census.
    """
    simple: list[str] = []
    numeric: list[str] = []
    for f in df.schema.fields:
        t = f.dataType.typeName()
        if t in ("array", "struct", "map", "binary"):
            continue
        simple.append(f.name)
        if t in _NUMERIC or t.startswith("decimal"):
            numeric.append(f.name)

    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for c in df.columns:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"))
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"__dist_{c}"))
        if c in simple:
            aggs.append(F.min(c).cast("string").alias(f"__min_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"__max_{c}"))
        if c in numeric:
            aggs.append(F.avg(c).alias(f"__mean_{c}"))
            aggs.append(F.stddev_samp(c).alias(f"__std_{c}"))

    wide = df.agg(*aggs)

    def _maybe(prefix: str, c: str, cast: str) -> str:
        name = f"__{prefix}_{c}"
        return f"cast(`{name}` as {cast})" if name in wide.columns else f"cast(null as {cast})"

    tuples = ", ".join(
        f"'{c}', `__nulls_{c}`, `__dist_{c}`, "
        f"{_maybe('min', c, 'string')}, {_maybe('max', c, 'string')}, "
        f"{_maybe('mean', c, 'double')}, {_maybe('std', c, 'double')}"
        for c in df.columns
    )
    stacked = wide.selectExpr(
        "__n_rows as n_rows",
        f"stack({len(df.columns)}, {tuples}) as "
        "(column, n_nulls, approx_distinct, min_value, max_value, mean, stddev)",
    )
    dtypes = {c: t for c, t in df.dtypes}
    dtype_expr = F.create_map(
        *[x for c in df.columns for x in (F.lit(c), F.lit(dtypes[c]))]
    )
    return stacked.select(
        "column",
        dtype_expr[F.col("column")].alias("dtype"),
        "n_rows",
        "n_nulls",
        "approx_distinct",
        "min_value",
        "max_value",
        "mean",
        "stddev",
    )


def histogram(
    df: DataFrame, col: str, n_bins: int = 20, lo: float | None = None, hi: float | None = None
) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin, bin_lo, bin_hi,
    n_rows), all ``n_bins`` bins present (empty ones with 0).

    Two cheap passes when bounds aren't given (min/max agg, then the
    binned count — both map-side combining); one pass with explicit
    bounds. The bin id is pure column math (floor over the scaled
    value, top edge clamped into the last bin, the standard half-open
    [lo, hi) convention with hi inclusive in the final bin); the dense
    bin spine comes from a ``sequence`` explode joined to the counts —
    no driver-side loop. Values outside explicit bounds are clamped
    into the edge bins (callers filter first if they want them
    dropped); NULLs are excluded."""
    if n_bins <= 0:
        raise ValueError(f"n_bins must be > 0, got {n_bins}")
    if lo is None or hi is None:
        row = df.agg(
            F.min(F.col(col).cast("double")), F.max(F.col(col).cast("double"))
        ).collect()[0]
        lo = lo if lo is not None else row[0]
        hi = hi if hi is not None else row[1]
        if lo is None:
            raise ValueError(f"column {col} is all-null")
    if not hi > lo:
        hi = lo + 1.0  # degenerate constant column: one occupied bin
    width = (hi - lo) / n_bins
    c = F.col(col).cast("double")
    bin_id = F.least(
        F.greatest(F.floor((c - lo) / width), F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    counts = (
        df.filter(c.isNotNull())
        .groupBy(bin_id.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    spine = df.sparkSession.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    return (
        spine.join(counts, "bin", "left")
        .select(
            "bin",
            (F.lit(lo) + F.col("bin") * width).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * width).alias("bin_hi"),
            F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        )
        .orderBy("bin")
    )
