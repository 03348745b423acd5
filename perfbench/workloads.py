"""The three benchmark workloads.

Each workload generates its inputs from the seed (``setup``), runs one
operation per ``op`` call against the engine's public functions and commits
its result to disk, checks that result (``check``, untimed), and in the
traced run derives its layer metrics (``layers``) from spans around the op's
calls and from prefix materialisation: a noop write of the plan prefix that
ends at a layer, minus the noop write of the prefix before it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb
from pyspark.sql import functions as F

from ipl_dagster_pipeline_spark import checkpoint as ckpt_mod
from ipl_dagster_pipeline_spark.caching import tracked_scope
from ipl_dagster_pipeline_spark.checkpoint import CheckpointedPipeline
from ipl_dagster_pipeline_spark.io import SnapshotTable, write_day_partitioned
from ipl_dagster_pipeline_spark.metrics import partition_lineage, total_from_lineage
from ipl_dagster_pipeline_spark.operators.asof import asof_join_broadcast_range, asof_join_cogrouped
from ipl_dagster_pipeline_spark.operators.cleaning import curate_keepers
from ipl_dagster_pipeline_spark.operators.graph import duplicate_groups
from ipl_dagster_pipeline_spark.operators.sampling import hash_split
from ipl_dagster_pipeline_spark.operators.sessionize import session_aggregates, sessionize_grouped
from ipl_dagster_pipeline_spark.operators.text_dedup import (
    exact_dedup,
    lsh_candidates,
    minhash_lsh_dedup,
    minhash_signatures,
    shingles,
)
from ipl_dagster_pipeline_spark.operators.textstats import (
    with_lang_id,
    with_quality_scores,
    with_token_counts,
)
from ipl_dagster_pipeline_spark.partitioning import detect_hot_keys, salted_agg
from ipl_dagster_pipeline_spark.plans.features import build_rich_turn_features, build_turn_features
from ipl_dagster_pipeline_spark.plans.incremental import incremental_update, write_feature_buckets

from . import gen

GAP_SECONDS = 1800
PREFIX_REPS = 2


def _count(path: str, where: str = "") -> int:
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT count(*) FROM read_parquet('{gen.parquet_glob(path)}') {where}").fetchone()[0]
    finally:
        con.close()


def _sql(query: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        return con.execute(query).fetchall()
    finally:
        con.close()


def _table_checksum(df) -> tuple[int, int]:
    """(rows, checksum) the way ``metrics.partition_lineage`` sums them."""
    row = partition_lineage(df, "check").agg(F.sum("row_count"), F.sum("checksum")).collect()[0]
    return int(row[0] or 0), int(row[1] or 0)


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    return sum(size for p, (size, mtime) in after.items() if before.get(p) != (size, mtime))


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, scale: float, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.inputs = ""
        self.ops_issued = 0  # op numbers stay unique across the run's phases

    def n(self, base: int, floor: int = 1) -> int:
        return max(floor, int(round(base * self.scale)))

    def setup(self) -> dict:
        """Generate the inputs; return their manifest."""
        self.inputs = os.path.join(self.work, "inputs")
        os.makedirs(self.inputs)
        return self.generate()

    def generate(self) -> dict:
        raise NotImplementedError

    def prepare(self) -> None:
        """Build the state ops start from, once, from the last inputs."""

    def before_op(self, i: int) -> None:
        """Untimed per-op input preparation."""

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def op_root(self, i: int) -> str:
        return os.path.join(self.work, "ops", f"op{i}")

    def discard(self, res: dict) -> None:
        if "root" in res:
            shutil.rmtree(res["root"], ignore_errors=True)

    def input_rows(self) -> int:
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def written_bytes(self, res: dict) -> int:
        return gen.dir_bytes(res["root"])

    def check(self, res: dict) -> list[str]:
        return []

    def final_check(self) -> list[str]:
        return []

    def patch(self) -> None:
        """Wrap engine calls made inside the op (traced run only)."""

    def prefixes(self, results: list[dict]) -> dict:
        """name → builder of the DataFrame(s) whose noop write is timed."""
        return {}

    def layers(self, t: dict, g: dict, results: list[dict], groups: dict) -> dict:
        return {}

    # -- helpers ----------------------------------------------------------

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def call(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(name):
            return fn(*args, **kwargs)

    def run_prefixes(self, results: list[dict]) -> dict:
        """Median wall time of each prefix: build it and noop-write the
        frame(s) inside span ``prefix:<name>``.  Intermediates the build
        persists are released after each step, so no step reuses another's
        work.  ``self.prefix_write`` keeps the noop-write part alone (a
        build that runs jobs eagerly spends the rest)."""
        times: dict[str, list[float]] = {}
        writes: dict[str, list[float]] = {}
        for _rep in range(PREFIX_REPS):
            for name, build in self.prefixes(results).items():
                with tracked_scope(), self.tracer.span(f"prefix:{name}") as rec:
                    out = build()
                    t_built = time.perf_counter()
                    for df in out if isinstance(out, list) else [out]:
                        df.write.format("noop").mode("overwrite").save()
                times.setdefault(name, []).append(rec["end"] - rec["start"])
                writes.setdefault(name, []).append(rec["end"] - t_built)
        self.prefix_write = {k: _med(v) for k, v in writes.items()}
        return {k: _med(v) for k, v in times.items()}


def _snap_dir(root: str, stage: str) -> str:
    return SnapshotTable(os.path.join(root, stage)).snapshots()[-1]["data_dir"]


def _span_ops(results: list[dict]) -> list[str]:
    return [r["op_id"] for r in results if r.get("op_id")]


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


class PipelineWorkload(Workload):
    """Common tracing for the workloads that run a ``CheckpointedPipeline``:
    snapshot commits and lineage appends happen inside ``stage``, so they
    are reached by wrapping the engine's ``SnapshotTable.commit`` and the
    ``append_lineage`` the checkpoint module calls."""

    stages: tuple[str, ...] = ()

    def patch(self) -> None:
        self.tracer.patch(SnapshotTable, "commit", "io.commit")
        self.tracer.patch(ckpt_mod, "append_lineage", "metrics.lineage")

    def stage(self, pipe, name: str, fn):
        self.fns[name] = fn
        return self.call(f"checkpoint.stage.{name}", pipe.stage, name, fn)

    def stage_costs(self, results: list[dict], groups: dict) -> dict:
        """Per op, from the op's spans: a commit's own cost is its span less
        the noop write of the frame it commits (prefix ``stage:<name>``); a
        stage's overhead is its span less its commit and its fn's calls,
        i.e. the snapshot lookups, the read-back and the lineage append."""
        tr = self.tracer
        write_cost = sum(self.prefix_write.get(f"stage:{s}", 0.0) for s in self.stages)
        commit_self, lineage, overhead, lineage_jobs = [], [], [], []
        for op in _span_ops(results):
            spans = [s for s in tr.spans if s["op"] == op]
            by_id = {s["id"]: s for s in spans}
            first_pass = [
                s for s in spans
                if s["name"].startswith("checkpoint.stage.")
                and by_id.get(s["parent"], {}).get("name") != "checkpoint.resume"
            ]
            commits = [
                s for s in spans
                if s["name"] == "io.commit" and by_id.get(s["parent"], {}).get("name") != "io.commit_append"
            ]
            lin = [s for s in spans if s["name"] == "metrics.lineage"]
            commit_self.append(sum(_dur(s) for s in commits) - write_cost)
            lineage.append(sum(_dur(s) for s in lin))
            lineage_jobs.append(sum(groups.get(s["group"], {}).get("jobs", 0) for s in lin))
            overhead.append(
                sum(
                    _dur(st) - sum(_dur(c) for c in spans if c["parent"] == st["id"] and c["name"] != "metrics.lineage")
                    for st in first_pass
                )
            )
        return {
            "io.commit.self_s": _med(commit_self),
            "io.commit.bytes": _med(r["commit_bytes"] for r in results),
            "metrics.lineage.self_s": _med(lineage),
            "metrics.lineage.jobs": _med(lineage_jobs),
            "checkpoint.stage.overhead_s": _med(overhead),
        }


# ---------------------------------------------------------------------------
# pit_build
# ---------------------------------------------------------------------------


class PitBuild(PipelineWorkload):
    """The flagship path: a checkpointed PIT feature build, a rerun that must
    resume from the committed stages without recomputing, and then the
    late-data path: one seeded late batch appended to a snapshot table of
    the same transcripts and an incremental rebuild of only the feature
    buckets it touches."""

    name = "pit_build"
    stages = ("convert", "tool_dim", "features", "sessions")

    def generate(self) -> dict:
        self.n_convs, self.turns = self.n(400, 20), 50
        self.t_path = os.path.join(self.inputs, "transcripts")
        self.d_path = os.path.join(self.inputs, "tool_dim")
        gen.write_transcripts(self.t_path, self.seed, self.n_convs, self.turns)
        gen.write_tool_dim(self.d_path, self.seed, n_days=60)
        self.late = gen.LateBatches(self.seed, self.n_convs, self.turns)
        self.late_rows = self.late.convs_per_batch * self.late.turns_per_conv
        self.fns: dict = {}
        return {
            "rows": self.n_convs * self.turns,
            "bytes": gen.dir_bytes(self.t_path) + gen.dir_bytes(self.d_path),
            "hot_key_share": 0.0,
            "planted_pairs": 0,
            "late_rows_per_op": self.late_rows,
            "checksums": {"transcripts": gen.content_checksum(self.t_path), "tool_dim": gen.content_checksum(self.d_path)},
        }

    def prepare(self) -> None:
        """The base snapshot table of the transcripts and its bucketed
        features, which the late batches then update."""
        tables = os.path.join(self.inputs, "tables")
        self.table = SnapshotTable(os.path.join(tables, "transcripts"))
        self.features = os.path.join(tables, "features")
        self.since = self.table.commit(self.read(self.t_path))
        write_feature_buckets(build_turn_features(self.table.read(self.spark), self.read(self.d_path)), self.features)

    def before_op(self, i: int) -> None:
        self.batch = os.path.join(self.inputs, "late", f"batch{i}")
        self.late.write(self.batch, i)
        self.files_before = {**_files(self.table.root), **_files(self.features)}

    def input_rows(self) -> int:
        return self.n_convs * self.turns + self.late_rows

    def input_bytes(self) -> int:
        return gen.dir_bytes(self.t_path) + gen.dir_bytes(self.d_path) + gen.dir_bytes(self.batch)

    def _pipeline(self, root: str):
        spark = self.spark
        pipe = CheckpointedPipeline(spark, root)
        t = self.stage(pipe, "convert", lambda: self.read(self.t_path))
        d = self.stage(pipe, "tool_dim", lambda: self.read(self.d_path))
        f = self.stage(
            pipe, "features",
            lambda: self.call("plans.features.rich", build_rich_turn_features, t, d, gap_seconds=GAP_SECONDS),
        )
        self.stage(pipe, "sessions", lambda: self.call("operators.sessionize.session_aggregates", session_aggregates, f))
        return f

    def op(self, i: int) -> dict:
        root = self.op_root(i)
        features = self._pipeline(root)
        self.call("io.write_day_partitioned", write_day_partitioned, features, os.path.join(root, "publish"))
        lineage = os.path.join(root, "_lineage")
        lineage_before = len(_files(lineage))
        with self.tracer.span("checkpoint.resume"):
            self._pipeline(root)
        since = self.since
        with self.tracer.span("io.commit_append"):
            self.table.commit(self.read(self.batch), mode="append")
        with self.tracer.span("plans.incremental.update"):
            stats = incremental_update(self.spark, self.table, self.read(self.d_path), self.features, since_snapshot_id=since)
        self.since = stats["to_snapshot"]
        return {
            "root": root,
            "lineage_files": (lineage_before, len(_files(lineage))),
            "snapshots": {s: len(SnapshotTable(os.path.join(root, s)).snapshots()) for s in self.stages},
            "batch": self.batch,
            "since": since,
            **stats,
        }

    def check(self, res: dict) -> list[str]:
        errs = []
        root, n_in = res["root"], self.n_convs * self.turns
        feats = _snap_dir(root, "features")
        if (n := _count(feats)) != n_in:
            errs.append(f"features rows {n} != input turns {n_in}")
        if (n := _count(os.path.join(root, "publish"))) != n_in:
            errs.append(f"published rows {n} != input turns {n_in}")
        if (leak := _count(feats, "WHERE matched_effective_from > ts")) != 0:
            errs.append(f"{leak} rows matched a dim snapshot after their ts")
        lineage = os.path.join(root, "_lineage")
        recorded = total_from_lineage(self.spark, lineage, "features")
        committed = _table_checksum(self.read(feats))
        if committed != recorded:
            errs.append(f"features: lineage (rows, checksum) {recorded} != committed {committed}")
        lineage_rows = dict(
            _sql(
                f"SELECT stage, sum(row_count) FROM read_parquet('{gen.parquet_glob(lineage)}') l "
                "WHERE snapshot_id = (SELECT max(snapshot_id) FROM read_parquet("
                f"'{gen.parquet_glob(lineage)}') m WHERE m.stage = l.stage) GROUP BY stage"
            )
        )
        for stage in self.stages:
            if (n := _count(_snap_dir(root, stage))) != lineage_rows.get(stage):
                errs.append(f"stage {stage}: lineage rows {lineage_rows.get(stage)} != committed {n}")
        if any(n != 1 for n in res["snapshots"].values()):
            errs.append(f"rerun recomputed a stage: snapshots {res['snapshots']}")
        if res["lineage_files"][0] != res["lineage_files"][1]:
            errs.append(f"rerun appended lineage: files {res['lineage_files']}")
        if not 1 <= res["touched_buckets"] <= self.late.convs_per_batch:
            errs.append(f"touched buckets {res['touched_buckets']} outside 1..{self.late.convs_per_batch}")
        if res["rebuilt_rows"] < self.late_rows:
            errs.append(f"rebuilt {res['rebuilt_rows']} rows for {self.late_rows} late rows")
        return errs

    def final_check(self) -> list[str]:
        full = build_turn_features(self.table.read(self.spark), self.read(self.d_path))
        stored = self.read(self.features).select(*full.columns)
        want, got = _table_checksum(full), _table_checksum(stored)
        return [] if want == got else [f"bucketed features {got} != full rebuild {want}"]

    def prefixes(self, results: list[dict]) -> dict:
        last = results[-1]
        root = last["root"]
        t = lambda: self.read(self.t_path)  # noqa: E731
        d = lambda: self.read(self.d_path)  # noqa: E731
        feats = lambda: self.read(_snap_dir(root, "features"))  # noqa: E731
        return {
            "sources.scan": t,
            "operators.asof.broadcast_range": lambda: asof_join_broadcast_range(
                t().withColumn("text_len", F.length("text").cast("long")), d(), key="tool", ts_col="ts"
            ),
            "plans.features.rich": lambda: build_rich_turn_features(t(), d(), gap_seconds=GAP_SECONDS),
            "scan:features": feats,
            **{f"stage:{s}": self.fns[s] for s in self.stages},
            "publish_input": lambda: feats().withColumn("day", F.to_date("ts")),
            "scan:table": lambda: self.table.read(self.spark),
            "late_batch": lambda: self.read(last["batch"]),
            "io.read_incremental": lambda: self.table.read_incremental(self.spark, last["since"]),
        }

    def layers(self, t: dict, g: dict, results: list[dict], groups: dict) -> dict:
        def delta(a, b, key):
            return g[a][key] - g[b][key]

        tr = self.tracer
        ops = _span_ops(results)
        publish = [d for op in ops for d in tr.durations("io.write_day_partitioned", op)]
        resume = [d for op in ops for d in tr.durations("checkpoint.resume", op)]
        append = [d for op in ops for d in tr.durations("io.commit_append", op)]
        update = [d for op in ops for d in tr.durations("plans.incremental.update", op)]
        return {
            "operators.asof.broadcast_range.self_s": t["operators.asof.broadcast_range"] - t["sources.scan"],
            "plans.features.rich.self_s": t["plans.features.rich"] - t["operators.asof.broadcast_range"],
            "plans.features.rich.shuffle_write_bytes": delta("plans.features.rich", "operators.asof.broadcast_range", "shuffle_write_bytes"),
            "plans.features.rich.spill_bytes": delta("plans.features.rich", "operators.asof.broadcast_range", "spill_bytes"),
            "operators.sessionize.session_aggregates.self_s": t["stage:sessions"] - t["scan:features"],
            "checkpoint.resume_s": _med(resume),
            "io.write_day_partitioned.self_s": _med(publish) - t["publish_input"],
            "io.write_day_partitioned.files": _med(
                sum(1 for _r, _d, fs in os.walk(os.path.join(r["root"], "publish")) for f in fs if f.endswith(".parquet"))
                for r in results
            ),
            **self.stage_costs(results, groups),
            "io.commit_append.self_s": _med(append) - t["late_batch"],
            "io.state_dirs": _med(r["state_dirs"] for r in results),
            "io.read_incremental.self_s": t["io.read_incremental"],
            "plans.incremental.update.self_s": _med(update) - t["io.read_incremental"] - t["scan:table"],
            "plans.incremental.update.touched_buckets": _med(r["touched_buckets"] for r in results),
            "plans.incremental.update.rebuild_amp": _med(r["rebuilt_rows"] / self.late_rows for r in results),
        }

    def written_bytes(self, res: dict) -> int:
        res["commit_bytes"] = sum(gen.dir_bytes(_snap_dir(res["root"], s)) for s in self.stages)
        res["state_dirs"] = self._state_dirs()
        after = {**_files(self.table.root), **_files(self.features)}
        return gen.dir_bytes(res["root"]) + _written(self.files_before, after)

    def _state_dirs(self) -> int:
        """Length of the append chain a read of the table walks."""
        chain = 0
        for m in reversed(self.table.snapshots()):
            chain += 1
            if m["mode"] != "append":
                break
        return chain


# ---------------------------------------------------------------------------
# skewed_grouped
# ---------------------------------------------------------------------------


class SkewedGrouped(Workload):
    """Grouped-map and cogrouped pandas operators plus a salted rollup on
    transcripts where a few conversations are 50× longer than the rest."""

    name = "skewed_grouped"
    HOT_FRACTION = 0.002
    HOT_MULT = 50

    def generate(self) -> dict:
        self.n_convs, self.turns = self.n(400, 10), 50
        self.n_hot = max(1, int(self.n_convs * self.HOT_FRACTION))
        self.t_path = os.path.join(self.inputs, "transcripts")
        self.d_path = os.path.join(self.inputs, "tool_dim")
        gen.write_transcripts(
            self.t_path, self.seed, self.n_convs, self.turns, self.HOT_FRACTION, self.HOT_MULT
        )
        gen.write_tool_dim(self.d_path, self.seed, n_days=60)
        return {
            "rows": self.input_rows(),
            "bytes": self.input_bytes(),
            "hot_keys": self.n_hot,
            "hot_key_share": round(self.n_hot * self.turns * self.HOT_MULT / self.input_rows(), 4),
            "planted_pairs": 0,
            "late_rows_per_op": 0,
            "checksums": {"transcripts": gen.content_checksum(self.t_path), "tool_dim": gen.content_checksum(self.d_path)},
        }

    def input_rows(self) -> int:
        return (self.n_convs - self.n_hot) * self.turns + self.n_hot * self.turns * self.HOT_MULT

    def input_bytes(self) -> int:
        return gen.dir_bytes(self.t_path) + gen.dir_bytes(self.d_path)

    def _rollup(self, t, hot):
        tl = F.length("text").cast("long")
        return salted_agg(
            t,
            "conv_id",
            aggs={"n_turns": F.count(F.lit(1)), "chars": F.sum(tl), "last_ts": F.max("ts")},
            merges={"n_turns": F.sum("n_turns"), "chars": F.sum("chars"), "last_ts": F.max("last_ts")},
            hot_keys=hot,
        )

    def _hot(self, t):
        # a 10% sample: at 1% a 50x-hot key and the cutoff are both ~25 rows
        return detect_hot_keys(t, sample_fraction=0.1)

    def op(self, i: int) -> dict:
        root = self.op_root(i)
        t, d = self.read(self.t_path), self.read(self.d_path)
        with self.tracer.span("operators.sessionize.grouped"):
            sessionize_grouped(t, gap_seconds=GAP_SECONDS).write.parquet(os.path.join(root, "sessions"))
        with self.tracer.span("operators.asof.cogrouped"):
            asof_join_cogrouped(t, d, key="tool").write.parquet(os.path.join(root, "asof"))
        hot = self.call("partitioning.detect_hot_keys", self._hot, t)
        with self.tracer.span("partitioning.salted_agg"):
            self._rollup(t, hot).write.parquet(os.path.join(root, "rollup"))
        return {"root": root, "hot_keys": len(hot)}

    def check(self, res: dict) -> list[str]:
        root = res["root"]
        src = f"read_parquet('{gen.parquet_glob(self.t_path)}')"
        dim = f"read_parquet('{gen.parquet_glob(self.d_path)}')"
        want = {
            "sessions": f"""
                WITH d AS (
                    SELECT conv_id, turn_idx, ts,
                           CAST(epoch(ts) AS BIGINT)
                             - lag(CAST(epoch(ts) AS BIGINT)) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS gap
                    FROM {src})
                SELECT conv_id, turn_idx,
                       CAST(sum(CASE WHEN gap IS NULL OR gap > {GAP_SECONDS} THEN 1 ELSE 0 END)
                            OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
                FROM d""",
            "asof": f"""
                SELECT t.conv_id, t.turn_idx, d.effective_from AS matched_effective_from,
                       d.tool_category, d.cost_weight
                FROM {src} t ASOF LEFT JOIN {dim} d ON t.tool = d.tool AND t.ts >= d.effective_from""",
            "rollup": f"""
                SELECT conv_id, count(*) AS n_turns, sum(length(text)) AS chars, max(ts) AS last_ts
                FROM {src} GROUP BY conv_id""",
        }
        got_cols = {
            "sessions": "conv_id, turn_idx, session_id",
            "asof": "conv_id, turn_idx, matched_effective_from, tool_category, cost_weight",
            "rollup": "conv_id, n_turns, chars, last_ts",
        }
        errs = []
        for part, query in want.items():
            got = f"SELECT {got_cols[part]} FROM read_parquet('{gen.parquet_glob(os.path.join(root, part))}')"
            (n_got,) = _sql(f"SELECT count(*) FROM ({got})")[0]
            (n_want,) = _sql(f"SELECT count(*) FROM ({query})")[0]
            (diff,) = _sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({query}))")[0]
            if n_got != n_want or diff:
                errs.append(f"{part}: {n_got} rows vs DuckDB {n_want}, {diff} differ")
        return errs

    def prefixes(self, results: list[dict]) -> dict:
        t = lambda: self.read(self.t_path)  # noqa: E731
        d = lambda: self.read(self.d_path)  # noqa: E731

        def hot():
            self.last_hot = self._hot(t())
            return []

        return {
            "sources.scan": t,
            "operators.sessionize.grouped": lambda: sessionize_grouped(t(), gap_seconds=GAP_SECONDS),
            "operators.asof.cogrouped": lambda: asof_join_cogrouped(t(), d(), key="tool"),
            "partitioning.detect_hot_keys": hot,
            "partitioning.salted_agg": lambda: self._rollup(t(), self.last_hot),
        }

    def layers(self, t: dict, g: dict, results: list[dict], groups: dict) -> dict:
        out = {}
        for layer in ("operators.sessionize.grouped", "operators.asof.cogrouped"):
            out[f"{layer}.self_s"] = t[layer] - t["sources.scan"]
            for key in ("python_bytes_sent", "python_bytes_returned", "python_worker_s"):
                out[f"{layer}.{key}"] = g[layer][key]
        out["partitioning.detect_hot_keys.self_s"] = t["partitioning.detect_hot_keys"] - t["sources.scan"]
        out["partitioning.detect_hot_keys.hot_keys"] = _med(r["hot_keys"] for r in results)
        out["partitioning.salted_agg.self_s"] = t["partitioning.salted_agg"] - t["sources.scan"]
        out["partitioning.salted_agg.task_skew"] = g["partitioning.salted_agg"]["task_skew"]
        return out


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(PipelineWorkload):
    """Training-corpus curation, the stages of ``jobs/corpus_dedup.py``, on
    documents with planted exact and near duplicates."""

    name = "corpus_dedup"
    stages = ("stats", "exact", "pairs", "groups", "curated")

    def generate(self) -> dict:
        self.corpus = gen.Corpus(self.seed, self.n(1000, 50))
        self.docs = os.path.join(self.inputs, "documents")
        self.corpus.write(self.docs)
        self.fns: dict = {}
        return {
            "rows": self.input_rows(),
            "bytes": self.input_bytes(),
            "hot_key_share": 0.0,
            **self.corpus.manifest(),
            "late_rows_per_op": 0,
            "checksums": {"documents": gen.content_checksum(self.docs)},
        }

    def input_rows(self) -> int:
        return len(self.corpus.texts)

    def input_bytes(self) -> int:
        return gen.dir_bytes(self.docs)

    def op(self, i: int) -> dict:
        root = self.op_root(i)
        docs = self.read(self.docs)
        pipe = CheckpointedPipeline(self.spark, root)
        stats = self.stage(pipe, "stats", lambda: with_lang_id(with_quality_scores(with_token_counts(docs))))
        exact = self.stage(pipe, "exact", lambda: exact_dedup(docs))
        pairs = self.stage(pipe, "pairs", lambda: minhash_lsh_dedup(docs, threshold=gen.JACCARD_THRESHOLD))
        groups = self.stage(
            pipe, "groups", lambda: self.call("operators.graph.duplicate_groups", duplicate_groups, pairs)
        )
        self.stage(pipe, "curated", lambda: hash_split(curate_keepers(stats, exact, groups, min_alpha_ratio=0.5), "doc_id"))
        return {"root": root}

    def check(self, res: dict) -> list[str]:
        root = res["root"]
        got = set(_sql(f"SELECT doc_a, doc_b FROM read_parquet('{gen.parquet_glob(_snap_dir(root, 'pairs'))}')"))
        want = self.corpus.expected_pairs
        errs = []
        if got != want:
            errs.append(f"pairs: {len(want - got)} expected pairs missing, {len(got - want)} unexpected")
        if (n := _count(_snap_dir(root, "curated"))) != self.corpus.expected_curated:
            errs.append(f"curated {n} docs, expected {self.corpus.expected_curated}")
        return errs

    def written_bytes(self, res: dict) -> int:
        res["commit_bytes"] = sum(gen.dir_bytes(_snap_dir(res["root"], s)) for s in self.stages)
        return gen.dir_bytes(res["root"])

    def prefixes(self, results: list[dict]) -> dict:
        root = results[-1]["root"]
        snap = lambda s: self.read(_snap_dir(root, s))  # noqa: E731
        docs = lambda: self.read(self.docs)  # noqa: E731

        def candidates():
            self.n_candidates = lsh_candidates(minhash_signatures(shingles(docs()))).count()
            return []

        return {
            "sources.scan": docs,
            **{f"stage:{s}": self.fns[s] for s in self.stages},
            "scan:pairs": lambda: snap("pairs"),
            "scan:curate_inputs": lambda: [snap("stats"), snap("exact"), snap("groups")],
            "lsh_candidates": candidates,
        }

    def layers(self, t: dict, g: dict, results: list[dict], groups: dict) -> dict:
        n_pairs = _count(_snap_dir(results[-1]["root"], "pairs"))
        return {
            "operators.textstats.stats.self_s": t["stage:stats"] - t["sources.scan"],
            "operators.text_dedup.exact.self_s": t["stage:exact"] - t["sources.scan"],
            "operators.text_dedup.minhash_lsh.self_s": t["stage:pairs"] - t["sources.scan"],
            "operators.text_dedup.minhash_lsh.candidates": self.n_candidates,
            "operators.text_dedup.minhash_lsh.pairs": n_pairs,
            "operators.text_dedup.minhash_lsh.precision": n_pairs / self.n_candidates if self.n_candidates else 0.0,
            "operators.text_dedup.minhash_lsh.shuffle_write_bytes": g["stage:pairs"]["shuffle_write_bytes"],
            "operators.graph.duplicate_groups.self_s": t["stage:groups"] - t["scan:pairs"],
            "operators.graph.duplicate_groups.jobs": g["stage:groups"]["jobs"] - g["scan:pairs"]["jobs"],
            "operators.cleaning.curate.self_s": t["stage:curated"] - t["scan:curate_inputs"],
            **self.stage_costs(results, groups),
        }


WORKLOADS = {w.name: w for w in (PitBuild, SkewedGrouped, CorpusDedup)}
