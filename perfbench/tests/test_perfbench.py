"""The benchmark's own tests: tiny smoke runs, generator determinism, and a
planted wrong output row that the checks must catch.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = 0.05


@pytest.fixture
def spark():
    from ipl_dagster_pipeline_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=4)


@pytest.mark.parametrize("workload", ["pit_build", "skewed_grouped", "corpus_dedup"])
def test_tiny_smoke_run(workload, spark, tmp_path, capsys):
    from perfbench.run import END_TO_END, run

    result = run(workload, seed=3, seconds=0.5, trace=False, work=str(tmp_path), scale=TINY)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert "manifest " in capsys.readouterr().out


def test_tiny_traced_run_reports_every_layer_metric(spark, tmp_path):
    from perfbench.run import PER_LAYER, run

    result = run("skewed_grouped", seed=3, seconds=0.5, trace=True, work=str(tmp_path), scale=TINY)
    assert result["correct"] is True
    assert list(result["metrics"]) == list(PER_LAYER)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["operators.sessionize.grouped.python_bytes_sent"] > 0
    assert m["operators.asof.cogrouped.python_bytes_returned"] > 0
    assert m["trace.overhead_ratio"] > 0
    assert result["metrics"]["operators.asof.cogrouped.python_bytes_sent"]["unit"] == "bytes"


def test_no_result_without_the_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(ROOT, "perfbench", f), "rb").read())
    proc = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "pit_build", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


# ---------------------------------------------------------------------------
# in-process: generators and checks
# ---------------------------------------------------------------------------


def test_transcript_inputs_are_seeded(tmp_path):
    from perfbench import gen

    sums = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        path = str(tmp_path / name)
        gen.write_transcripts(path, seed, n_convs=30, turns=10, hot_fraction=0.1)
        sums[name] = gen.content_checksum(path)
    assert sums["a"] == sums["b"]
    assert sums["a"] != sums["c"]


def test_docs_and_late_batches_are_seeded(tmp_path):
    from perfbench import gen

    a, b, c = gen.Corpus(5, 300), gen.Corpus(5, 300), gen.Corpus(6, 300)
    assert a.texts == b.texts and a.planted == b.planted and a.expected_pairs == b.expected_pairs
    assert a.texts != c.texts
    assert a.planted and a.expected_pairs <= {(x, y) for x, y, _ in a.planted}

    sums = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        late = gen.LateBatches(seed, n_convs=50, first_turn_idx=10)
        path = str(tmp_path / name)
        late.write(path, 0)
        sums.append(gen.content_checksum(path))
    assert sums[0] == sums[1] != sums[2]


def test_planted_wrong_row_fails_the_check(spark, tmp_path):
    from perfbench.run import check_ops
    from perfbench.trace import NullTracer
    from perfbench.workloads import SkewedGrouped

    wl = SkewedGrouped(spark, str(tmp_path), seed=2, scale=0.02, tracer=NullTracer())
    wl.setup()
    results = [wl.op(1), wl.op(2)]
    assert check_ops(wl, results) == 0

    # one extra output row whose session id no correct sessionizer gives
    victim = pq.read_table(os.path.join(results[1]["root"], "sessions")).slice(0, 1)
    wrong = victim.set_column(
        victim.schema.get_field_index("session_id"), "session_id", pa.array([999], pa.int32())
    )
    pq.write_table(wrong, os.path.join(results[1]["root"], "sessions", "part-planted.parquet"))
    failed = check_ops(wl, results)
    assert failed == 1
    assert failed / len(results) > 0
    assert any("sessions" in e for e in results[1]["errors"])
