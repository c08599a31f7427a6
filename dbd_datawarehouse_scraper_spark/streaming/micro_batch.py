"""Micro-batch plumbing: checkpointed streams and two-sink writes.

The reference's hand-rolled incrementality — flush every 20 companies,
an int progress cursor, resume with ``--resume``
(scraper_v2.py:129, 1423-1435, 1746-1748) — maps to Structured
Streaming primitives:

- micro-batching   → the streaming engine's trigger cadence
- progress cursor  → ``checkpointLocation`` (exact offsets, not a row
                     count, so restarts are exactly-once per epoch)
- dual CSV outputs → ``foreachBatch`` writing fact + reject sinks from
                     one pass over each micro-batch
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ._store import run_epochs


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream (the hermetic stand-in for kafka/socket —
    schema must be explicit for streaming reads)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def two_sink_foreach_batch(
    stream_df: DataFrame,
    accept_predicate,
    fact_path: str,
    reject_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """foreachBatch writing accepted rows to the fact sink and rejected
    rows to the side-output sink — the streaming form of the
    reference's revenue/not-found CSV pair (scraper_v2.py:1346-1353).

    Each epoch writes into epoch-suffixed subdirectories, so a replayed
    epoch (failure before checkpoint commit) overwrites its own output
    instead of duplicating rows: idempotent, effectively exactly-once.
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        accepted = batch_df.filter(accept_predicate)
        rejected = batch_df.filter(~accept_predicate)
        accepted.write.mode("overwrite").parquet(f"{fact_path}/epoch={epoch_id}")
        rejected.write.mode("overwrite").parquet(f"{reject_path}/epoch={epoch_id}")

    return run_epochs(stream_df, write_batch, checkpoint, available_now)


def resume_anti_join(
    new_batch: DataFrame, existing_output: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Batch-mode resume (scraper_v2.py:1746-1748) done scalably: instead
    of an offset cursor, anti-join the input against keys already
    written — restart-safe regardless of input order changes."""
    return new_batch.join(
        existing_output.select(*key_cols).distinct(), key_cols, "left_anti"
    )
