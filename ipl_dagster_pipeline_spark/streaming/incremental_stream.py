"""Streaming late-data feature maintenance: the Structured-Streaming front-end
to ``plans.incremental``.

``plans.incremental.incremental_update`` rebuilds touched conv-hash buckets
when NEW SNAPSHOTS are committed; this module does the same when NEW FILES
LAND, driven by a file-source stream:

* the shared micro-batch driver (``streaming.run_micro_batches``) hands
  every file to one micro-batch (the streaming analog of the snapshot-id
  watermark), reading with the DECLARED transcript schema;
* each micro-batch finds the conv buckets its rows touch and rebuilds ONLY
  those buckets from full history, publishing with writer-pinned dynamic
  partition overwrite — idempotent, so a batch replayed after a crash or
  re-delivered after a lost checkpoint converges to the same table
  (exactly-once effect per input-file set, with no tag needed).

At 100 TB each micro-batch costs |touched buckets| × bucket-size, not the
table — identical math to the batch path, with arrival-driven scheduling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.features import build_turn_features
from ..plans.incremental import DEFAULT_BUCKETS, conv_bucket
from ..schema import TRANSCRIPT_SCHEMA
from . import run_micro_batches


def stream_incremental_features(
    spark: SparkSession,
    input_dir: str,
    tool_dim: DataFrame,
    features_path: str,
    checkpoint_path: str,
    gap_seconds: int = 1800,
    n_buckets: int = DEFAULT_BUCKETS,
):
    """Start (or catch up) the streaming bucket-rebuild maintenance query.

    Returns the StreamingQuery; callers ``awaitTermination()`` it.  A window
    feature of conversation X must be rebuilt whenever ANY turn of X arrives
    — so the batch's buckets are joined back to FULL history before the
    feature build, exactly like the batch incremental path.
    """

    def _rebuild(batch_df: DataFrame) -> None:
        touched = (
            batch_df.select(conv_bucket(F.col("conv_id"), n_buckets).alias("conv_bucket"))
            .distinct()
        )
        full = spark.read.parquet(input_dir).withColumn(
            "conv_bucket", conv_bucket(F.col("conv_id"), n_buckets)
        )
        affected = full.join(F.broadcast(touched), "conv_bucket")
        feats = build_turn_features(affected.drop("conv_bucket"), tool_dim, gap_seconds=gap_seconds)
        (
            feats.withColumn("conv_bucket", conv_bucket(F.col("conv_id"), n_buckets))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("conv_bucket")
            .parquet(features_path)
        )

    return run_micro_batches(spark, input_dir, _rebuild, checkpoint_path, TRANSCRIPT_SCHEMA)
