"""Streaming sketch maintenance: merge per-batch log-histogram sketches
into a committed SnapshotTable.

The point of a MERGEABLE sketch (sketches.py: UNION of inputs == merge of
sketches) is exactly this deployment: arriving data files are reduced to a
tiny per-batch register frame and MERGED into the durable sketch — the
monitoring quantiles stay fresh without ever rescanning history, and the
per-batch cost is |batch| + |current sketch| (the sketch side is O(buckets),
never data-sized).

Unlike the SCD1 stream (whose merge is naturally idempotent), a COUNT merge
replayed after a crash would double-count — and unlike the dedup index,
there is no content-level guard to fall back on.  Exactly-once per input
file is therefore carried by the sketch table itself: each commit records
the files it merged as ``meta={"files": [...]}``, in the same atomic
manifest rename as the merged sketch, and each micro-batch merges only rows
whose file is not in ``SnapshotTable.committed("files")`` (a broadcast
anti-join).  A crash after the commit replays a batch whose files are all
recorded; a lost checkpoint that re-delivers every file in one batch
neither double-counts history nor skips the genuinely new files.
Reference precedent for skip-if-done keyed on the artifact, not the
attempt: the If-Modified-Since fetch discipline (util/urllib.py:59-72).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..io import SnapshotTable
from ..operators.sketches import loghist_merge, loghist_sketch
from . import run_micro_batches


def stream_sketch_maintenance(
    spark: SparkSession,
    input_dir: str,
    table_path: str,
    value_col: str,
    group_cols: list[str] | None,
    checkpoint_path: str,
    schema=None,
    maintain_every: int = 20,
    keep_last: int = 3,
):
    """Start (or catch up) the streaming sketch-maintenance query.

    Returns the StreamingQuery; callers ``awaitTermination()`` it.  The
    maintained snapshot is always equal to ``loghist_sketch`` over every row
    processed so far (asserted in tests).  ``schema`` may be passed
    explicitly so the query can start on a fresh deployment before the
    first input file lands (round-5 ADVICE on the dedup stream).

    Housekeeping: every ``maintain_every`` commits old snapshots are expired
    (``keep_last`` retained) — a long-running stream stays O(keep_last) on
    disk instead of one full sketch copy per batch.  Expiration keeps the
    ``files`` tags, so replay skipping survives it; the tag set grows with
    the input FILE count, the growth rate of the stream's own checkpoint
    file log.
    """
    tbl = SnapshotTable(table_path)

    def _apply(batch_df) -> None:
        merged = spark.createDataFrame([(f,) for f in tbl.committed("files")], "__file string")
        fresh = batch_df.withColumn("__file", F.input_file_name()).join(
            F.broadcast(merged), "__file", "left_anti"
        )
        new_files = sorted(r[0] for r in fresh.select("__file").distinct().collect())
        if not new_files:  # crash replay / re-delivered lineage: no double count
            return
        delta = loghist_sketch(fresh.drop("__file"), value_col, group_cols)
        if tbl.current_snapshot_id() is not None:
            delta = loghist_merge(tbl.read(spark), delta)
        tbl.commit(delta, meta={"files": new_files})
        if maintain_every and len(tbl.snapshots()) >= maintain_every:
            tbl.expire_snapshots(keep_last=keep_last)

    return run_micro_batches(spark, input_dir, _apply, checkpoint_path, schema)
