"""heavy_hitters (freqItems candidates + exact map-side-filtered
verification) and compression_ratio (zlib quality rail)."""

from __future__ import annotations

import os
import zlib

import duckdb
import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators.sketches import heavy_hitters
from gedixr_spark.operators.text import compression_ratio


def test_heavy_hitters_exact_matches_duckdb(spark, sf_dir):
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    got = [
        (r["item"], r["n_rows"]) for r in heavy_hitters(events, "event_type", 0.05).collect()
    ]
    want = duckdb.sql(
        f"""
        SELECT event_type, count(*) AS n FROM '{sf_dir}/events.parquet'
        GROUP BY event_type
        HAVING count(*) >= 0.05 * (SELECT count(*) FROM '{sf_dir}/events.parquet')
        ORDER BY n DESC, event_type ASC
        """
    ).fetchall()
    assert got == [(w[0], w[1]) for w in want]


def test_heavy_hitters_skewed_numeric_key(spark):
    # one hot key at 50%, long uniform tail
    df = spark.range(1000).select(
        F.when(F.col("id") < 500, 7).otherwise(F.col("id")).alias("k")
    )
    rows = heavy_hitters(df, "k", support=0.3).collect()
    assert len(rows) == 1
    assert rows[0]["item"] == 7 and rows[0]["n_rows"] == 500
    assert rows[0]["frac"] == pytest.approx(0.5)


def test_heavy_hitters_none_above_support(spark):
    df = spark.range(100).select(F.col("id").alias("k"))  # all unique
    out = heavy_hitters(df, "k", support=0.5)
    assert out.count() == 0
    assert out.columns == ["item", "n_rows", "frac"]


def test_heavy_hitters_candidates_only_mode(spark):
    df = spark.range(100).select((F.col("id") % 3).alias("k"))
    items = {r["item"] for r in heavy_hitters(df, "k", 0.2, exact=False).collect()}
    assert {0, 1, 2} <= items  # superset semantics


def test_heavy_hitters_validates(spark):
    df = spark.range(10)
    with pytest.raises(ValueError, match="support"):
        heavy_hitters(df, "id", support=0.0)


def test_compression_ratio_bands(spark):
    import random

    random.seed(13)
    noise = "".join(chr(random.randint(33, 126)) for _ in range(2000))
    rows = [
        (0, "spam " * 400),  # highly repetitive → very compressible
        (1, noise),  # random → incompressible
        (2, None),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["compression_ratio"] for r in compression_ratio(df).collect()}
    assert got[0] < 0.05
    assert got[1] > 0.7
    assert got[2] is None and got[3] is None
    # differential: exact zlib value for the repetitive doc
    raw = ("spam " * 400).encode()
    assert got[0] == pytest.approx(len(zlib.compress(raw, 6)) / len(raw))


def test_compression_ratio_is_map_only(spark, sf_dir):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = (
        compression_ratio(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
