"""profile_table: one-pass column census. Exact facets (counts, nulls,
min/max, mean) are checked against DuckDB on the documents table; the
single-job claim is checked by plan (one Aggregate pair, one scan).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators.stats import profile_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture(scope="module")
def prof(docs):
    return {r["column"]: r for r in profile_table(docs).collect()}


def test_profiles_every_column(docs, prof):
    assert set(prof) == set(docs.columns)


def test_exact_facets_match_duckdb(prof, sf_dir):
    con = duckdb.connect()
    want = con.sql(
        f"""
        SELECT count(*), sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
               min(doc_id), max(doc_id), avg(doc_id),
               stddev_samp(doc_id), count(DISTINCT lang)
        FROM '{sf_dir}/documents.parquet'
        """
    ).fetchone()
    did = prof["doc_id"]
    assert did["n_rows"] == want[0]
    assert prof["lang"]["n_nulls"] == (want[1] or 0)
    assert int(did["min_value"]) == want[2]
    assert int(did["max_value"]) == want[3]
    assert did["mean"] == pytest.approx(want[4])
    assert did["stddev"] == pytest.approx(want[5])
    # HLL++ estimate close to exact on a small-cardinality column
    assert prof["lang"]["approx_distinct"] == pytest.approx(want[6], rel=0.1)


def test_dtype_and_nonnumeric_facets(prof, docs):
    dtypes = dict(docs.dtypes)
    for c, row in prof.items():
        assert row["dtype"] == dtypes[c]
    assert prof["text"]["mean"] is None and prof["text"]["stddev"] is None
    assert prof["text"]["min_value"] is not None  # strings still get min/max


def test_nulls_counted(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a"), (None, "b")], "x int, s string"
    )
    p = {r["column"]: r for r in profile_table(df).collect()}
    assert p["x"]["n_nulls"] == 1 and p["s"]["n_nulls"] == 1
    assert p["x"]["n_rows"] == 3


def test_complex_columns_census_only(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "id int, vec array<double>"
    )
    p = {r["column"]: r for r in profile_table(df).collect()}
    assert p["vec"]["n_nulls"] == 1
    assert p["vec"]["min_value"] is None and p["vec"]["mean"] is None
    assert p["vec"]["approx_distinct"] >= 1


def test_single_scan_single_aggregate(docs):
    """The profiler's cost contract: one scan, one partial/final
    aggregate pair, no join/union of per-column jobs."""
    plan = profile_table(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Union" not in plan and "Join" not in plan, plan


def test_math_sanity(prof):
    d = prof["doc_id"]
    assert float(d["min_value"]) <= d["mean"] <= float(d["max_value"])
    assert d["stddev"] is not None and math.isfinite(d["stddev"])


# ----------------------------------------------------- histogram / corr


def test_histogram_matches_duckdb(spark, sf_dir):
    from gedixr_spark.operators.stats import histogram

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    got = {r["bin"]: r["n_rows"] for r in histogram(docs, "doc_id", n_bins=10).collect()}
    lo, hi = duckdb.sql(
        f"SELECT min(doc_id), max(doc_id) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    width = (hi - lo) / 10
    want = dict(
        duckdb.sql(
            f"""
            SELECT least(greatest(cast(floor((doc_id - {lo}) / {width}) AS int), 0), 9)
                   AS bin, count(*) FROM '{sf_dir}/documents.parquet'
            GROUP BY 1
            """
        ).fetchall()
    )
    for b in range(10):
        assert got[b] == want.get(b, 0), (b, got[b], want.get(b))
    assert sum(got.values()) == docs.count()


def test_histogram_edges_and_empties(spark):
    from gedixr_spark.operators.stats import histogram

    df = spark.createDataFrame([(0.0,), (10.0,), (None,)], "x double")
    rows = histogram(df, "x", n_bins=5).collect()
    assert len(rows) == 5
    assert rows[0]["n_rows"] == 1 and rows[4]["n_rows"] == 1  # max → last bin
    assert sum(r["n_rows"] for r in rows) == 2  # null excluded
    assert rows[0]["bin_lo"] == 0.0 and rows[4]["bin_hi"] == 10.0


def test_histogram_constant_and_validation(spark):
    from gedixr_spark.operators.stats import histogram

    const = spark.createDataFrame([(7.0,), (7.0,)], "x double")
    rows = histogram(const, "x", n_bins=4).collect()
    assert sum(r["n_rows"] for r in rows) == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_bins"):
        histogram(const, "x", n_bins=0)
    allnull = spark.createDataFrame([(None,)], "x double")
    with _pytest.raises(ValueError, match="all-null"):
        histogram(allnull, "x")
