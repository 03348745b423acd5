"""Seeded input generators and input manifests.

Every input is generated here, with numpy or ``random.Random`` seeded from
the run's seed, and written with pyarrow, so the engine only ever receives
parquet files and no Spark job runs before the first op.  The same seed
gives the same rows.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ipl_dagster_pipeline_spark.operators.text_dedup import (
    MINHASH_P,
    N_BANDS,
    N_HASHES,
    minhash_params,
)

START_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
ROLES = ("user", "assistant", "tool")
TOOLS = ("search", "code", "browse", "none", None)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_glob(path: str) -> str:
    """Every parquet file under a table directory, for DuckDB."""
    return f"{path}/**/*.parquet"


def content_checksum(path: str) -> str:
    """Order-insensitive checksum of a parquet table's rows (not its bytes:
    Spark's file names and row-group layout differ from run to run)."""
    con = duckdb.connect()
    try:
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) FROM read_parquet('{parquet_glob(path)}') t"
        ).fetchone()
    finally:
        con.close()
    return f"{n}:{h}"


# the transcript files a table is split into, as the engine's own generator
# writes it on four cores; fixed, so the inputs depend on the seed alone
TRANSCRIPT_FILES = 4


def write_transcripts(
    path: str, seed: int, n_convs: int, turns: int, hot_fraction: float = 0.0, hot_multiplier: int = 50
) -> None:
    """The rows ``sources.transcripts.synthesize_transcripts`` makes, drawn
    from a seeded numpy generator instead of ``xxhash64``: conversations
    ``c0..c{n_convs-1}``, the first ``hot_fraction`` of them
    ``hot_multiplier``× longer; one 64-bit draw per turn picks its gap (5%
    share the previous ts, else 1–3600 s), role, tool (a quarter null) and
    text suffix the way the engine's generator picks them from its hash."""
    rng = np.random.default_rng(seed)
    n_hot = max(1, int(n_convs * hot_fraction)) if hot_fraction > 0 else 0
    n_turns = np.where(np.arange(n_convs) < n_hot, turns * hot_multiplier, turns)
    conv_no = np.repeat(np.arange(n_convs), n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn_idx = np.arange(len(conv_no)) - np.repeat(starts, n_turns) + 1
    h = rng.integers(0, 2**62, size=len(conv_no), dtype=np.int64)
    gap = np.where(h % 20 == 0, 0, h % 3600 + 1)
    cum = np.cumsum(gap)
    offset = cum - np.repeat(cum[starts] - gap[starts], n_turns) + conv_no % 86400
    roles = np.array(ROLES, dtype=object)[h % 3]
    tools = np.array(["search", "code", "browse", None], dtype=object)[h % 4]
    table = pa.table(
        {
            "conv_id": pa.array([f"c{c}" for c in conv_no], pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array([f"msg-{c}-{t}-{x}" for c, t, x in zip(conv_no, turn_idx, h % 997)], pa.string()),
            "tool": pa.array(tools, pa.string()),
            "ts": pa.array(np.datetime64(START_TS.replace(tzinfo=None), "us") + offset.astype("timedelta64[s]"),
                           pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(path, exist_ok=True)
    # contiguous conversation ranges, one file each
    bounds = np.searchsorted(conv_no, np.linspace(0, n_convs, TRANSCRIPT_FILES + 1)[1:-1])
    for i, (lo, hi) in enumerate(zip([0, *bounds], [*bounds, len(conv_no)])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i}.parquet"))


def write_tool_dim(path: str, seed: int, n_days: int = 60) -> None:
    """One dimension snapshot per (tool, day), as
    ``sources.transcripts.synthesize_tool_dim`` makes them."""
    rng = np.random.default_rng([seed, 1])
    tools = ("search", "code", "browse", "none")
    h = rng.integers(0, 2**62, size=(len(tools), n_days), dtype=np.int64).ravel()
    days = np.tile(np.arange(n_days), len(tools))
    table = pa.table(
        {
            "tool": pa.array(np.repeat(np.array(tools, dtype=object), n_days), pa.string()),
            "effective_from": pa.array(np.datetime64(START_TS.replace(tzinfo=None), "us") + days.astype("timedelta64[D]"),
                                       pa.timestamp("us", tz="UTC")),
            "tool_category": pa.array(np.where(h % 2 == 0, "interact", "transact"), pa.string()),
            "cost_weight": pa.array(np.round((h % 1000) / 100.0, 4), pa.float64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# ---------------------------------------------------------------------------
# late batches
# ---------------------------------------------------------------------------


class LateBatches:
    """Seeded late turns for existing conversations ``c0..c{n_convs-1}``.

    Batch ``i`` picks ``convs_per_batch`` distinct conversations and gives
    each ``turns_per_conv`` new turns whose timestamps fall anywhere inside
    the base data's time range, so a late turn usually lands between
    existing turns and changes the features of the turns after it.
    ``turn_idx`` continues above ``first_turn_idx`` per conversation, so a
    (conv_id, turn_idx) pair is never reused.
    """

    def __init__(self, seed: int, n_convs: int, first_turn_idx: int, convs_per_batch: int = 10, turns_per_conv: int = 3):
        self.seed = seed
        self.n_convs = n_convs
        self.convs_per_batch = convs_per_batch
        self.turns_per_conv = turns_per_conv
        self.next_turn = {f"c{i}": first_turn_idx + 1 for i in range(n_convs)}

    def write(self, path: str, batch_no: int) -> int:
        rng = random.Random(self.seed * 1_000_003 + batch_no)
        rows: dict[str, list] = {c: [] for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
        for conv_no in sorted(rng.sample(range(self.n_convs), self.convs_per_batch)):
            conv = f"c{conv_no}"
            for _ in range(self.turns_per_conv):
                turn = self.next_turn[conv]
                self.next_turn[conv] = turn + 1
                rows["conv_id"].append(conv)
                rows["turn_idx"].append(turn)
                rows["role"].append(rng.choice(ROLES))
                rows["text"].append(f"late-{batch_no}-{conv}-{turn}-" + "x" * rng.randrange(1, 200))
                rows["tool"].append(rng.choice(TOOLS))
                rows["ts"].append(START_TS + dt.timedelta(seconds=rng.randrange(0, 2 * 86400)))
        table = pa.table(
            {
                "conv_id": pa.array(rows["conv_id"], pa.string()),
                "turn_idx": pa.array(rows["turn_idx"], pa.int32()),
                "role": pa.array(rows["role"], pa.string()),
                "text": pa.array(rows["text"], pa.string()),
                "tool": pa.array(rows["tool"], pa.string()),
                "ts": pa.array(rows["ts"], pa.timestamp("us", tz="UTC")),
            }
        )
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        return table.num_rows


# ---------------------------------------------------------------------------
# near-duplicate documents
# ---------------------------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
SHINGLE_K = 5
JACCARD_THRESHOLD = 0.5


def _norm(text: str) -> str:
    # text_dedup.normalize_text: lowercase, whitespace runs → one space, trim
    return " ".join(text.lower().split())


def _shingles(text: str) -> set[str]:
    norm = _norm(text)
    n = max(len(norm) - (SHINGLE_K - 1), 1)
    return {norm[i : i + SHINGLE_K] for i in range(n)}


def _band_keys(sh: set[str]) -> list[tuple[int, ...]]:
    """The LSH band keys ``text_dedup`` computes for a shingle set: one md5
    base per shingle, the affine minhash family mod P, bands of
    N_HASHES // N_BANDS consecutive minima."""
    base = np.array([int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P for s in sh], dtype=np.int64)
    mins = []
    for i in range(N_HASHES):
        a, b = minhash_params(i)
        mins.append(int(((base * a + b) % MINHASH_P).min()))
    r = N_HASHES // N_BANDS
    return [tuple(mins[b * r : (b + 1) * r]) for b in range(N_BANDS)]


class Corpus:
    """Seeded documents with planted duplicates and the expected outcome.

    Every doc is ``words_per_doc`` words drawn from a seeded vocabulary of
    pseudo-words.  A ``mutant_share`` of docs are single-word mutants of an
    earlier fresh doc, and an ``exact_share`` are exact copies of one (case
    and spacing changed, which ``normalize_text`` undoes).  Each fresh doc is
    the original of at most one planted doc, so every duplicate group has two
    members and the original, the smaller id, is its keeper.

    MinHash-LSH is approximate: a planted mutant pair whose band keys all
    differ is not a candidate however similar it is.  ``expected_pairs``
    therefore holds the planted pairs that the engine's own hash family and
    banding make candidates (recomputed here, independently of Spark) and
    that pass the Jaccard threshold; the check demands exactly these.
    """

    def __init__(self, seed: int, n_docs: int, words_per_doc: int = 60, mutant_share: float = 0.10,
                 exact_share: float = 0.02, vocab_size: int = 4000):
        rng = random.Random(seed)
        vocab = sorted({"".join(rng.choice(_LETTERS) for _ in range(rng.randint(3, 9))) for _ in range(vocab_size)})
        texts: list[str] = []
        self.planted: list[tuple[int, int, str]] = []
        fresh_unused: list[int] = []
        for doc_id in range(n_docs):
            u = rng.random()
            if fresh_unused and u < mutant_share:
                orig = fresh_unused.pop(rng.randrange(len(fresh_unused)))
                words = texts[orig].split(" ")
                pos = rng.randrange(len(words))
                words[pos] = rng.choice([w for w in rng.sample(vocab, 3) if w != words[pos]])
                texts.append(" ".join(words))
                self.planted.append((orig, doc_id, "mutant"))
            elif fresh_unused and u < mutant_share + exact_share:
                orig = fresh_unused.pop(rng.randrange(len(fresh_unused)))
                texts.append("  " + texts[orig].upper().replace(" ", "  ") + " ")
                self.planted.append((orig, doc_id, "exact"))
            else:
                texts.append(" ".join(rng.choice(vocab) for _ in range(words_per_doc)))
                fresh_unused.append(doc_id)
        self.texts = texts
        self.expected_pairs: set[tuple[int, int]] = set()
        for a, b, _kind in self.planted:
            sa, sb = _shingles(texts[a]), _shingles(texts[b])
            jac = len(sa & sb) / len(sa | sb)
            if jac >= JACCARD_THRESHOLD and any(x == y for x, y in zip(_band_keys(sa), _band_keys(sb))):
                self.expected_pairs.add((a, b))
        n_exact = sum(1 for *_x, kind in self.planted if kind == "exact")
        n_near = sum(1 for a, b, kind in self.planted if kind == "mutant" and (a, b) in self.expected_pairs)
        # exact copies fall to exact dedup; a found mutant falls to its keeper
        self.expected_curated = n_docs - n_exact - n_near

    def write(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        table = pa.table(
            {
                "doc_id": pa.array(range(len(self.texts)), pa.int64()),
                "text": pa.array(self.texts, pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, "part-0.parquet"))

    def manifest(self) -> dict:
        return {
            "planted_pairs": len(self.planted),
            "planted_mutants": sum(1 for *_x, k in self.planted if k == "mutant"),
            "planted_exact": sum(1 for *_x, k in self.planted if k == "exact"),
            "lsh_detectable_pairs": len(self.expected_pairs),
            "expected_curated": self.expected_curated,
        }
