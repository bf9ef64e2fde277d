"""The event stream source the streaming sinks read (SURVEY.md §2.6:
the reference is batch-only; this is extension surface)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_event_stream(
    spark: SparkSession, path: str, schema, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based event stream: each new parquet file in ``path`` is a
    micro-batch (the 100 TB pattern: a landing prefix fed by ingest).
    ``max_files_per_trigger`` bounds batch size (and, in tests, forces
    multiple micro-batches so cross-batch state is actually exercised)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
