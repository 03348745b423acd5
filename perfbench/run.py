"""Seeded benchmark of the transcript-feature engine.

    python3 perfbench/run.py --workload pit_build --seed 1 --seconds 1 --trace 0

Runs one workload (``WORKLOADS`` in ``workloads.py``) as a closed loop: one
client in this process issues one operation at a time to a Spark session on
``local[<cores available to this process>]``.  Set-up starts the session,
generates the inputs from ``--seed`` and builds the workload's state.  Ops
are then timed for ``--seconds`` (at least one), the first of them in a
fresh session, as each run of the engine's job CLIs pays it; every op's
output is checked (untimed), and the last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and the metrics.  ``--trace 0``
reports the end-to-end metrics.  ``--trace 1`` runs one untimed warm op,
times untraced ops for half the time, restarts the Spark context with the
event log on, times traced ops for the other half, materialises each
layer's plan prefix, and reports the per-layer metrics, tracing overhead
included.  Its spans and per-span event-log counters go to
``.perfbench/trace-<workload>-<seed>.json``.

``session.get_spark``'s defaults apply except the master, scratch
directories inside the checkout and, in the traced part, the event log;
``SPARK_GRAFT_*`` variables are cleared.  See ``README.md`` for the
workloads, metrics and checks.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pit_build", "skewed_grouped", "corpus_dedup")

END_TO_END = ("setup_s", "op_s", "rows_per_s", "write_amp", "peak_live_mb")
UNITS = {"setup_s": "s", "op_s": "s", "rows_per_s": "rows/s", "write_amp": "ratio", "peak_live_mb": "MB"}

# The per-layer metrics (BENCHMARK.json); a traced run prints all of them,
# 0 where its workload does not reach the layer.
PER_LAYER = (
    "sources.scan.self_s",
    "operators.asof.broadcast_range.self_s",
    "plans.features.rich.self_s",
    "plans.features.rich.shuffle_write_bytes",
    "plans.features.rich.spill_bytes",
    "operators.sessionize.session_aggregates.self_s",
    "io.commit.self_s",
    "io.commit.bytes",
    "metrics.lineage.self_s",
    "metrics.lineage.jobs",
    "checkpoint.stage.overhead_s",
    "checkpoint.resume_s",
    "io.write_day_partitioned.self_s",
    "io.write_day_partitioned.files",
    "operators.sessionize.grouped.self_s",
    "operators.sessionize.grouped.python_bytes_sent",
    "operators.sessionize.grouped.python_bytes_returned",
    "operators.sessionize.grouped.python_worker_s",
    "operators.asof.cogrouped.self_s",
    "operators.asof.cogrouped.python_bytes_sent",
    "operators.asof.cogrouped.python_bytes_returned",
    "operators.asof.cogrouped.python_worker_s",
    "partitioning.detect_hot_keys.self_s",
    "partitioning.detect_hot_keys.hot_keys",
    "partitioning.salted_agg.self_s",
    "partitioning.salted_agg.task_skew",
    "io.commit_append.self_s",
    "io.state_dirs",
    "io.read_incremental.self_s",
    "plans.incremental.update.self_s",
    "plans.incremental.update.touched_buckets",
    "plans.incremental.update.rebuild_amp",
    "operators.textstats.stats.self_s",
    "operators.text_dedup.exact.self_s",
    "operators.text_dedup.minhash_lsh.self_s",
    "operators.text_dedup.minhash_lsh.candidates",
    "operators.text_dedup.minhash_lsh.pairs",
    "operators.text_dedup.minhash_lsh.precision",
    "operators.text_dedup.minhash_lsh.shuffle_write_bytes",
    "operators.graph.duplicate_groups.self_s",
    "operators.graph.duplicate_groups.jobs",
    "operators.cleaning.curate.self_s",
    "spark.gc_s",
    "spark.spill_bytes",
    "trace.op_s",
    "trace.untraced_op_s",
    "trace.overhead_ratio",
)


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "bytes"
    if last in ("precision", "rebuild_amp", "task_skew", "overhead_ratio"):
        return "ratio"
    return "count"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class MemSampler:
    """Peak memory in use while ``active``: the driver JVM's memory pools
    right after its latest garbage collection (live data, neither the
    garbage G1 has yet to collect nor the heap it chose to reserve), plus
    the resident memory of this process and the Python workers.  The
    collectors are polled every 0.2 s, the process tree re-read once a
    second."""

    def __init__(self, jvm, period: float = 0.2, tree_every: int = 5) -> None:
        mf = jvm.java.lang.management.ManagementFactory
        self._runtime = mf.getRuntimeMXBean()
        self._jvm_pid = int(self._runtime.getPid())
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._counts = [-1] * len(self._gcs)
        self.period = period
        self.tree_every = tree_every
        self.active = False
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="mem-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def open_window(self) -> None:
        """Start sampling; collections from now on count (call it before
        ``settle``, whose full collection gives the starting live set)."""
        self._since = self._runtime.getUptime()
        self._last_end = -1
        self._live = 0
        self.active = True

    def jvm_live(self) -> int:
        """JVM memory in use after the latest collection in the window."""
        for i, g in enumerate(self._gcs):
            n = g.getCollectionCount()
            if n == self._counts[i]:
                continue
            self._counts[i] = n
            info = g.getLastGcInfo()
            if info is not None and info.getEndTime() >= max(self._since, self._last_end):
                self._last_end = info.getEndTime()
                after = info.getMemoryUsageAfterGc()
                self._live = sum(after.get(k).getUsed() for k in after.keySet())
        return self._live

    @staticmethod
    def tree() -> set[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, todo = set(), [os.getpid()]
        while todo:
            p = todo.pop()
            tree.add(p)
            todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
        return tree

    def rss(self, pids: set[int]) -> int:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        pids: set[int] = set()
        n = 0
        while not self._stop.wait(self.period):
            if self.active:
                if n % self.tree_every == 0:
                    pids = self.tree() - {self._jvm_pid}
                n += 1
                self.peak = max(self.peak, self.jvm_live() + self.rss(pids))


def start_session(work: str, event_dir: str | None = None):
    from ipl_dagster_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir, "spark.eventLog.compress": "false"}
        )
    spark = get_spark(app_name="perfbench", master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark and the Py4J gateway's JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort, then wait for it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def host_steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over this VM's
    CPUs (0 where the kernel does not report it): a diagnostic for runs
    slowed by neighbours, not a metric."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def settle(spark) -> None:
    """Collect garbage in both processes, so no op pays for the previous
    op's garbage."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def timed_ops(wl, seconds: float, sampler: MemSampler, tracer=None) -> list[dict]:
    """Closed loop: issue ops one after another until ``seconds`` elapsed
    (at least one op).  Each result carries its wall time, bytes written
    and, if it raised, the error."""
    results = []
    start = time.perf_counter()
    while not results or time.perf_counter() - start < seconds:
        wl.ops_issued += 1
        i = wl.ops_issued
        wl.before_op(i)
        sampler.open_window()
        settle(wl.spark)
        if tracer is not None:
            tracer.op_id = f"op{i}"
        t0 = time.perf_counter()
        try:
            res = wl.op(i)
            res["op_s"] = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            res = {"op_s": time.perf_counter() - t0, "error": traceback.format_exc()}
        finally:
            sampler.active = False
        res["op_id"] = f"op{i}" if tracer is not None else None
        if "error" not in res:
            res["written"] = wl.written_bytes(res)
        results.append(res)
    return results


def check_ops(wl, results: list[dict]) -> int:
    """Run the untimed output checks; return the number of failed ops."""
    failed = 0
    for res in results:
        errs = [res["error"]] if "error" in res else wl.check(res)
        res["errors"] = errs
    if results and "error" not in results[-1]:
        results[-1]["errors"] += wl.final_check()
    for res in results:
        if res["errors"]:
            failed += 1
            print(f"check failed ({wl.name} {res.get('op_id') or ''}): {res['errors']}", file=sys.stderr)
    return failed


def warm_op(wl) -> None:
    wl.ops_issued += 1
    wl.before_op(wl.ops_issued)
    wl.discard(wl.op(wl.ops_issued))


def setup(wl, phases: dict, warm_ops: int) -> dict:
    """Generate the inputs, build the workload's state from them and run
    ``warm_ops`` untimed ops; return the input manifest."""
    t0 = time.perf_counter()
    manifest = wl.setup()
    t1 = time.perf_counter()
    wl.prepare()
    t2 = time.perf_counter()
    for _ in range(warm_ops):
        warm_op(wl)
    phases.update({"generate": t1 - t0, "prepare": t2 - t1, "warm": time.perf_counter() - t2})
    return manifest


def end_to_end(wl, results: list[dict], setup_s: float, peak: int) -> dict:
    ok = [r for r in results if "error" not in r]
    times = [r["op_s"] for r in ok] or [r["op_s"] for r in results]
    return {
        "setup_s": setup_s,
        "op_s": statistics.median(times),
        "rows_per_s": wl.input_rows() * len(times) / sum(times),
        "write_amp": statistics.median(r["written"] / wl.input_bytes() for r in ok) if ok else 0.0,
        "peak_live_mb": peak / 1e6,
    }


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, scale: float = 1.0) -> dict:
    """One benchmark run; ``scale`` multiplies the input sizes (the
    benchmark's own tests use a small one)."""
    from perfbench.trace import NullTracer, Tracer, read_event_log, subtree_counters
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    wl = WORKLOADS[workload](spark, work, seed, scale, NullTracer())
    with MemSampler(spark.sparkContext._jvm) as sampler:
        phases = {"session": session_s}
        # Untraced runs time the first op of a fresh session: a warm op
        # would double a run's cost, and the run budget (4 + 22 runs per
        # workload in 3,420 s) cannot pay it.  Layer self times come from
        # warm plan prefixes, so the traced run compares warm ops.
        manifest = setup(wl, phases, warm_ops=1 if trace else 0)
        setup_s = phases["setup"] = time.perf_counter() - t0
        print("manifest " + json.dumps({"workload": wl.name, "seed": seed, **manifest}), flush=True)
        if trace:
            seconds /= 2
        t1, steal0 = time.perf_counter(), host_steal_s()
        results = timed_ops(wl, seconds, sampler)
        phases["ops"] = time.perf_counter() - t1
        steal = host_steal_s() - steal0
        metrics = end_to_end(wl, results, setup_s, sampler.peak)
        layer: dict = {}
        if trace:
            untraced = metrics["op_s"]
            spark.stop()
            event_dir = os.path.join(work, "eventlog")
            spark = start_session(work, event_dir)
            tracer = Tracer(spark.sparkContext)
            wl.spark, wl.tracer = spark, tracer
            wl.patch()
            try:
                # the new context starts new Python workers; warm them untraced
                warm_op(wl)
                traced = timed_ops(wl, seconds, sampler, tracer)
                tracer.op_id = None
                ok = [r for r in traced if "error" not in r]
                t = wl.run_prefixes(ok) if ok else {}
            finally:
                tracer.unpatch()
            failed_before = check_ops(wl, results)
            failed_traced = check_ops(wl, traced)
            spark.stop()
            groups = read_event_log(event_dir)
            g = {name: subtree_counters(tracer.spans, groups, f"prefix:{name}") for name in t}
            layer = wl.layers(t, g, ok, groups) if ok else {}
            layer["sources.scan.self_s"] = t.get("sources.scan", 0.0)
            layer["spark.gc_s"] = sum(v["gc_s"] for v in groups.values())
            layer["spark.spill_bytes"] = sum(v["spill_bytes"] for v in groups.values())
            traced_s = statistics.median(r["op_s"] for r in traced)
            layer.update({"trace.op_s": traced_s, "trace.untraced_op_s": untraced, "trace.overhead_ratio": traced_s / untraced})
            unknown = set(layer) - set(PER_LAYER)
            if unknown:
                raise RuntimeError(f"undeclared layer metrics: {sorted(unknown)}")
            write_trace(seed, wl, tracer, groups, layer)
            results = results + traced
            failed = failed_before + failed_traced
        else:
            t1 = time.perf_counter()
            failed = check_ops(wl, results)
            phases["checks"] = time.perf_counter() - t1
    summary = {
        "workload": wl.name,
        "ops": len(results),
        "failed": failed,
        "fail_ratio": failed / len(results),
        "op_times_s": [round(r["op_s"], 4) for r in results],
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "host_steal_s_during_ops": round(steal, 2),
    }
    print("summary " + json.dumps(summary), flush=True)
    if trace:
        out = {k: {"value": float(layer.get(k, 0.0)), "unit": layer_unit(k)} for k in PER_LAYER}
    else:
        out = {k: {"value": float(metrics[k]), "unit": UNITS[k]} for k in END_TO_END}
    return {"correct": failed == 0, "attempted": len(results), "failed": failed, "metrics": out}


def write_trace(seed: int, wl, tracer, groups: dict, layer: dict) -> None:
    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{wl.name}-{seed}.json")
    with open(path, "w") as fh:
        json.dump({"spans": tracer.spans, "groups": groups, "layers": layer}, fh, indent=1, default=str)
    print(f"trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "ipl_dagster_pipeline_spark")):
        print(f"perfbench: the engine package is not next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    args = parse_args(argv)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher too, would keep a perf-data file in
    # the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
