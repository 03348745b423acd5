"""Streaming dedup-index maintenance: per-file micro-batches converge to the
full-recompute pair set; restarts with a shared checkpoint continue, replays
are absorbed by the index's batch-id idempotence."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ipl_dagster_pipeline_spark.operators.dedup_index import MinHashIndex
from ipl_dagster_pipeline_spark.operators.text_dedup import minhash_lsh_dedup
from ipl_dagster_pipeline_spark.streaming.dedup_stream import stream_dedup_index

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    df.count()
    return df


def _pairs_set(df):
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


def test_stream_converges_to_full_recompute(spark, docs, tmp_path):
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    # two arrival files — one micro-batch each via maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(f"{inp}/f1")
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(f"{inp}/f2")
    idx = MinHashIndex(str(tmp_path / "idx"))

    q = stream_dedup_index(
        spark, f"{inp}/*", idx, ckpt, max_files_per_trigger=1
    )
    q.awaitTermination(120)
    assert not q.isActive

    # ≥2 micro-batches actually ran (one per file) and each tagged the index
    batches = sorted(
        m["meta"]["batch_id"] for m in idx.docs.snapshots() if m.get("meta", {}).get("batch_id")
    )
    assert len(batches) == 2 and all(b.startswith("stream-") for b in batches)
    assert _pairs_set(idx.all_pairs(spark)) == _pairs_set(minhash_lsh_dedup(docs, threshold=0.5))


def test_stream_restart_continues_not_reindexes(spark, docs, tmp_path):
    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(f"{inp}/f1")
    idx = MinHashIndex(str(tmp_path / "idx"))
    q = stream_dedup_index(spark, f"{inp}/*", idx, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    n_docs_after_first = idx.docs.read(spark).count()

    # second run over the SAME checkpoint with a new arrival: only the new
    # file is processed (offsets), and the index grows by exactly that batch
    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(f"{inp}/f2")
    q2 = stream_dedup_index(spark, f"{inp}/*", idx, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(120)
    assert idx.docs.read(spark).count() == docs.count()
    assert n_docs_after_first < docs.count()
    assert _pairs_set(idx.all_pairs(spark)) == _pairs_set(minhash_lsh_dedup(docs, threshold=0.5))

    # replaying a committed stream batch tag by hand is a no-op (crash-replay)
    before = idx.docs.read(spark).count()
    n_pair_snaps = len(idx.pairs.snapshots())
    tag = idx.docs.snapshots()[0]["meta"]["batch_id"]
    idx.add_batch(docs.filter(F.col("doc_id") < 250), batch_id=tag)
    assert idx.docs.read(spark).count() == before
    assert len(idx.pairs.snapshots()) == n_pair_snaps


def test_stream_rejects_wrong_schema(spark, tmp_path):
    inp = str(tmp_path / "in")
    spark.range(5).select(F.col("id").alias("x")).write.parquet(f"{inp}/f1")
    idx = MinHashIndex(str(tmp_path / "idx"))
    with pytest.raises(ValueError, match="lacks index column"):
        stream_dedup_index(spark, f"{inp}/*", idx, str(tmp_path / "ckpt"))


def test_stream_starts_on_fresh_deployment_before_first_file(spark, docs, tmp_path):
    """Round-5 ADVICE: on a fresh deployment the input dir has no files yet —
    the query must still be startable (explicit schema, or fall back to the
    index's docs table) and then absorb the first arrivals."""
    import os

    inp, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(inp, exist_ok=True)
    idx = MinHashIndex(str(tmp_path / "idx"))
    # empty dir + empty index + no schema -> loud error, not a cryptic crash
    with pytest.raises(ValueError, match="schema"):
        stream_dedup_index(spark, f"{inp}/*", idx, ckpt)
    # explicit schema starts fine and drains nothing
    q = stream_dedup_index(spark, f"{inp}/*", idx, ckpt, schema=docs.schema)
    q.awaitTermination(60)
    assert not q.isActive
    assert idx.docs.current_snapshot_id() is None
    # first file lands -> catch-up run indexes it
    docs.filter(F.col("doc_id") < 100).coalesce(1).write.parquet(f"{inp}/f1")
    q2 = stream_dedup_index(spark, f"{inp}/*", idx, ckpt, schema=docs.schema)
    q2.awaitTermination(120)
    assert idx.docs.read(spark).count() == 100
    # an index with docs can infer the schema itself even if files vanish
    q3 = stream_dedup_index(spark, str(tmp_path / "in2") + "/*", idx, str(tmp_path / "ckpt2"))
    q3.awaitTermination(60)


def test_stream_dedup_fresh_checkpoint_still_indexes_new_files(spark, docs, tmp_path):
    """Round-6 ADVICE failure scenario: a lost checkpoint restarts batch
    numbering at 0, so an unscoped "stream-0" tag from the old lineage
    would silently skip the fresh lineage's first batch — including files
    the index has never seen.  Tags derived from the batch's file set
    process it; docs already indexed are dropped by the duplicate-id guard."""
    inp = str(tmp_path / "in")
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(f"{inp}/f1")
    idx = MinHashIndex(str(tmp_path / "idx"))
    q = stream_dedup_index(spark, f"{inp}/*", idx, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    n_first = idx.docs.read(spark).count()

    docs.filter(F.col("doc_id") >= 250).coalesce(1).write.parquet(f"{inp}/f2")
    # LOST checkpoint: fresh dir, batch ids restart at 0, both files delivered
    q2 = stream_dedup_index(spark, f"{inp}/*", idx, str(tmp_path / "ck2"))
    q2.awaitTermination(120)
    assert n_first < docs.count()
    assert idx.docs.read(spark).count() == docs.count()  # new file indexed once
    assert idx.docs.read(spark).groupBy("doc_id").count().filter("count > 1").count() == 0
