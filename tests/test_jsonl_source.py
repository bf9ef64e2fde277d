"""JSONL ingest: schema-pinned parse, corrupt-line quarantine, bronze
landing counts."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from gedixr_spark.sources.jsonl import DOCUMENT_SCHEMA, land_jsonl, read_jsonl


@pytest.fixture()
def dump(tmp_path):
    lines = [
        json.dumps({"doc_id": 1, "text": "hello", "lang": "en", "source": "web"}),
        json.dumps({"doc_id": 2, "text": "welt", "lang": "de", "source": "web"}),
        '{"doc_id": 3, "text": "truncat',  # torn line
        "not json at all",
        json.dumps({"doc_id": 4, "text": None, "lang": "fr", "source": "book"}),
        json.dumps({"doc_id": 5, "extra_field": 42, "text": "x"}),  # extra ignored
    ]
    p = tmp_path / "dump.jsonl"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_good_and_quarantine_split(spark, dump):
    good, bad = read_jsonl(spark, dump)
    rows = {r["doc_id"]: r for r in good.collect()}
    assert set(rows) == {1, 2, 4, 5}
    assert rows[1]["text"] == "hello"
    assert rows[4]["text"] is None  # legitimate null stays good
    assert rows[5]["lang"] is None  # missing field → null
    quarantined = [r["raw"] for r in bad.collect()]
    assert len(quarantined) == 2
    assert any("truncat" in q for q in quarantined)
    assert any("not json" in q for q in quarantined)
    assert all(r["source_file"].endswith("dump.jsonl") for r in bad.collect())


def test_schema_is_pinned_not_inferred(spark, dump):
    good, _ = read_jsonl(spark, dump)
    assert good.schema == DOCUMENT_SCHEMA
    # extra_field from line 6 must not leak into the schema
    assert "extra_field" not in good.columns


def test_custom_schema(spark, tmp_path):
    p = tmp_path / "k.jsonl"
    p.write_text('{"k": 7}\n{"k": "oops"}\n')
    schema = T.StructType([T.StructField("k", T.LongType())])
    good, bad = read_jsonl(spark, str(p), schema=schema)
    assert [r["k"] for r in good.collect()] == [7]
    assert bad.count() == 1  # type mismatch quarantined, not nulled


def test_land_jsonl_counts_and_outputs(spark, dump, tmp_path):
    dest = str(tmp_path / "bronze")
    res = land_jsonl(spark, dump, dest)
    assert res["n_good"] == 4
    assert res["n_quarantined"] == 2
    assert spark.read.parquet(dest).count() == 4
    q = spark.read.parquet(res["quarantine"])
    assert q.count() == 2 and set(q.columns) == {"source_file", "raw"}


def test_land_clean_dump_has_no_quarantine(spark, tmp_path):
    p = tmp_path / "clean.jsonl"
    p.write_text('{"doc_id": 1, "text": "a", "lang": "en", "source": "s"}\n')
    res = land_jsonl(spark, str(p), str(tmp_path / "out"))
    assert res == {
        "n_good": 1,
        "n_quarantined": 0,
        "dest": str(tmp_path / "out"),
        "quarantine": None,
    }


def test_blank_means_python_strip_blank(spark, tmp_path):
    """The r5 falsifier: a line of non-space whitespace ('\\x0c') is
    BLANK under the documented contract (Python str.strip()), not a
    quarantined parse failure. F.trim-as-blank got this wrong."""
    p = tmp_path / "ws.jsonl"
    lines = ["0", "\x0c", "\t \x0b", "\x1c\x1d", "  ", ""]
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    schema = T.StructType([T.StructField("k", T.LongType())])
    good, bad = read_jsonl(spark, str(p), schema=schema)
    n_nonblank = sum(1 for l in lines if l.strip())
    assert good.count() + bad.count() == n_nonblank == 1
    assert bad.count() == 1  # "0" is valid JSON but not a struct → quarantine


# ---------------------------------------------------------------- CSV
