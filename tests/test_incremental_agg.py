"""Incrementally-maintained aggregate == direct aggregate over the
full source, at every refresh point, while each refresh reads only the
delta."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gedixr_spark.operators.incremental import (
    init_incremental_agg,
    read_incremental_agg,
    refresh_incremental_agg,
)
from gedixr_spark.sinks.versioned import (
    commit_append,
    commit_delete,
    init_versioned,
    read_versioned,
)


def _mk(spark, rows):
    return spark.createDataFrame([Row(g=g, x=float(x)) for g, x in rows])


def _direct(spark, source):
    return (
        read_versioned(spark, source)
        .groupBy("g")
        .agg(
            F.count("x").alias("n_rows"),
            F.sum("x").alias("sum"),
            F.min("x").alias("min"),
            F.max("x").alias("max"),
            F.avg("x").alias("mean"),
        )
    )


def _as_dict(df):
    return {
        r["g"]: (r["n_rows"], r["sum"], r["min"], r["max"], r["mean"])
        for r in df.collect()
    }


def test_incremental_equals_direct_across_refreshes(spark, tmp_path):
    source = str(tmp_path / "src")
    state = str(tmp_path / "state")
    init_versioned(spark, source)
    init_incremental_agg(spark, state)

    batches = [
        [("a", 1), ("a", 3), ("b", 10)],
        [("b", 2), ("c", 7)],
        [("a", -5), ("c", 7), ("c", 1)],
    ]
    for batch in batches:
        commit_append(spark, source, _mk(spark, batch))
        out = refresh_incremental_agg(spark, source, state, ["g"], "x")
        assert out["n_keys"] is not None
        got = _as_dict(read_incremental_agg(spark, state))
        want = _as_dict(_direct(spark, source))
        assert got == want

    # no new source data → refresh is a no-op (watermark unchanged)
    out = refresh_incremental_agg(spark, source, state, ["g"], "x")
    assert out["n_keys"] is None and out["from_version"] == out["to_version"]


def test_refresh_refuses_non_append_source(spark, tmp_path):
    source = str(tmp_path / "src2")
    state = str(tmp_path / "state2")
    init_versioned(spark, source)
    init_incremental_agg(spark, state)
    commit_append(spark, source, _mk(spark, [("a", 1)]))
    refresh_incremental_agg(spark, source, state, ["g"], "x")
    commit_append(spark, source, _mk(spark, [("a", 2)]))
    commit_delete(spark, source, F.col("x") == 1.0)
    with pytest.raises(ValueError, match="append-only"):
        refresh_incremental_agg(spark, source, state, ["g"], "x")


def test_state_commit_carries_watermark_atomically(spark, tmp_path):
    from gedixr_spark.sinks.versioned import table_history

    source = str(tmp_path / "src3")
    state = str(tmp_path / "state3")
    init_versioned(spark, source)
    init_incremental_agg(spark, state)
    commit_append(spark, source, _mk(spark, [("a", 1)]))
    refresh_incremental_agg(spark, source, state, ["g"], "x")
    last = table_history(spark, state)[-1]
    assert last["op"] == "overwrite"
    assert last["meta"]["source_version"] == 1
