"""Multimodal binary plumbing."""

from pyspark.sql import functions as F

from gedixr_spark.operators import multimodal


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "another document")], ["doc_id", "text"]
    )


def test_attach_payload_schema(spark):
    df = multimodal.attach_fake_payload(_docs(spark))
    types = dict(df.dtypes)
    assert types["payload"] == "binary"
    assert types["media_meta"].startswith("struct")
    r = df.filter(F.col("doc_id") == 1).first()
    assert len(r["payload"]) == 16  # md5 digest bytes
    assert r["media_meta"]["media_type"] == "image/fake"
