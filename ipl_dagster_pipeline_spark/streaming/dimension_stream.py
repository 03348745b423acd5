"""Streaming SCD1 dimension maintenance: MERGE-upsert per micro-batch.

The reference refreshes dimensions by re-fetching and truncate-replacing on
a cron cadence (sharing.py:142-149 — 1 run/min); freshness is bounded by
the cadence and every run pays the full table.  Here arriving change files
drive the maintenance instead:

* the shared micro-batch driver (``streaming.run_micro_batches``) hands
  every change file to one micro-batch;
* each micro-batch is reduced to its latest change per key (window over the
  BATCH, bounded by batch size), then merged into the current committed
  snapshot with :func:`operators.dimensions.merge_upsert` — updates win,
  unmatched keys insert, flagged rows delete;
* the result is committed atomically through ``io.SnapshotTable`` —
  readers only ever see a committed snapshot, and a batch replayed after a
  crash re-merges the same changes, converging to identical content
  (idempotent by the merge semantics, so no commit tag is needed).

Per-batch cost: |batch| + |current dimension| (one merge shuffle on the
key) — never fact-table-sized.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..io import SnapshotTable
from ..operators.dimensions import merge_upsert
from . import run_micro_batches


def stream_dimension_upsert(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    key_cols: list[str],
    order_col: str,
    checkpoint_path: str,
    delete_col: str | None = None,
):
    """Start (or catch up) the streaming dimension-maintenance query.

    Returns the StreamingQuery; callers ``awaitTermination()`` it.  The
    change-file schema is taken from the existing files in ``input_dir``;
    ``order_col`` must order changes (sequence number / event ts) so the
    batch-internal reduction and the merge precedence are deterministic.
    """
    schema = spark.read.parquet(input_dir).schema
    tbl = SnapshotTable(table_path)
    snap_cols = [c for c in schema.fieldNames() if c != delete_col]

    def _apply(batch_df) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if tbl.current_snapshot_id() is not None:
            cur = tbl.read(spark)
        else:
            cur = batch_df.select(*snap_cols).limit(0)
        tbl.commit(merge_upsert(cur, latest, key_cols, order_col=order_col, delete_col=delete_col))

    return run_micro_batches(spark, input_dir, _apply, checkpoint_path, schema)
