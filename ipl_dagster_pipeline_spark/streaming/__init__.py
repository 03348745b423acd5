"""Streaming maintenance operators: one catch-up micro-batch driver.

Every maintenance stream (dedup index, SCD1 dimension, bucket rebuild,
sketch) is a file-source stream whose checkpointed offsets give each
arriving file to exactly one micro-batch, run as a catch-up
(``availableNow``) query through :func:`run_micro_batches`.  The stream
itself only supplies ``apply(batch_df)``.

Delivery is at-least-once: a batch whose ``apply`` crashed is replayed on
restart, and a lost checkpoint re-delivers every file.  Exactly-once effect
per input-file set comes from the sink, never from Spark's batch numbering:
either the apply is naturally idempotent (merge-upsert, partition
overwrite), or it commits through ``io.SnapshotTable`` with a ``meta`` tag
derived from the batch's input files and skips what
``SnapshotTable.committed`` already holds — the tag lands in the same
atomic manifest rename as the data it describes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def run_micro_batches(
    spark: SparkSession,
    input_dir: str,
    apply: Callable[[DataFrame], None],
    checkpoint_path: str,
    schema: StructType | str | None = None,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start a catch-up query calling ``apply`` on every non-empty
    micro-batch of the parquet files under ``input_dir``.

    ``schema`` defaults to the schema of the files already there.  Returns
    the StreamingQuery; callers ``awaitTermination()`` it.
    """
    reader = spark.readStream.schema(schema or spark.read.parquet(input_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.head(1):
            apply(batch_df)

    return (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
