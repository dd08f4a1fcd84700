"""The workloads: inputs, registration, warm-up, loop ops, checks.

Each workload drives only public sketchlib entry points. An op is one
public call; its check runs after the timed call, against exact counts
the input generator wrote, so checking never slows the measured time.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
from functools import partial

import numpy as np
import pandas as pd

import inputs

# The reference's k-mer configuration (w=2^20, h=7, conservative).
CM_CFG = dict(np_bits=20, nh=7, seed=137, conservative=True)
ROUNDS = 3
# build_offline runs driver-local at or below this many distinct keys.
# Lower than the library default (200k) so that kmers_dense takes the
# distributed multi-pass path at a size that fits the run budget, while
# transcripts_zipf (at most VOCAB_SIZE + 68 keys) stays driver-local.
LOCAL_THRESHOLD = 60_000
SALT_BUCKETS = 8


def _u64(a) -> np.ndarray:
    a = np.asarray(a)
    return a.view(np.uint64) if a.dtype == np.int64 else a.astype(np.uint64)


def check_cm(est: np.ndarray, true: np.ndarray, width: int, depth: int
             ) -> tuple[bool, str]:
    """One-sided on every key, and the e*N/w bound held by at least a
    1 - e^-depth share of keys."""
    est = est.astype(np.int64)
    if (est < true).any():
        return False, f"{int((est < true).sum())} keys under-estimated"
    eps = math.e * true.sum() / width
    rate = float(((est - true) <= eps).mean())
    if rate < 1 - math.exp(-depth):
        return False, f"epsilon-bound pass rate {rate:.4f}"
    return True, ""


class Ops:
    """Closed-loop op runner: times each call, then checks its result.

    An exception or a failed check makes the op failed; the run goes on.
    With a tracer, each op runs in its own span (its own job group)."""

    def __init__(self):
        self.tracer = None
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.cycle = 0
        self.n_cycles = 0

    def run(self, name: str, call, check=None):
        rec = {"op": name, "cycle": self.cycle, "ok": False, "s": None}
        self.records.append(rec)
        span = (self.tracer.span(name, len(self.records) - 1)
                if self.tracer is not None else contextlib.nullcontext())
        try:
            with span:
                t0 = time.perf_counter()
                out = call()
                rec["s"] = time.perf_counter() - t0
            ok, why = check(out) if check is not None else (True, "")
        except Exception as exc:  # noqa: BLE001 - a failed op, not a crash
            ok, why, out = False, f"{type(exc).__name__}: {exc}", None
        rec["ok"] = ok
        if not ok:
            self.errors.append(f"{name}: {why}")
        return out


class _Builds:
    """One CM build and one OCCM build per cycle over the same key stream."""

    col = ""

    def __init__(self):
        from sketchlib.sketches.cm import CMConfig
        self.cfg = CMConfig(**CM_CFG)

    def stream(self, df):
        return df

    def _cm(self, df, cfg):
        from sketchlib.aggregate import build_sketch
        from sketchlib.sketches.cm import CountMin
        return build_sketch(self.stream(df), self.col,
                            partial(CountMin, cfg), pre_aggregate=True)

    def _occm(self, df, cfg):
        from sketchlib.offline import build_offline
        return build_offline(self.stream(df), self.col, cfg, ROUNDS,
                             pre_aggregate=True,
                             local_threshold=LOCAL_THRESHOLD)

    def _check(self, sk):
        return check_cm(sk.estimate(self.keys), self.counts,
                        self.cfg.width, self.cfg.nh)

    def quick_warmup(self, ops: Ops) -> None:
        """One CM build on a slice with a narrow (w=2^10) sketch."""
        from sketchlib.sketches.cm import CMConfig
        narrow = CMConfig(**{**CM_CFG, "np_bits": 10})
        ops.run("cm_build", lambda: self._cm(self.small, narrow))

    def cycle(self, ops: Ops) -> None:
        ops.run("cm_build", lambda: self._cm(self.df, self.cfg), self._check)
        ops.run("occm_build", lambda: self._occm(self.df, self.cfg),
                self._check)

    def traced_extra(self, ops: Ops) -> None:
        pass

    def finish(self, ops: Ops) -> None:
        pass

    def properties(self) -> dict:
        updates = int(self.counts.sum())
        return {"rows": self.rows, "updates": updates,
                "distinct": len(self.keys),
                "distinct_ratio": len(self.keys) / updates}


class KmersDense(_Builds):
    """A k-mer-like u64 stream with a high distinct-key ratio."""

    name = "kmers_dense"
    col = "kmer"

    def __init__(self, cache: str, work: str, seed: int, size: str):
        super().__init__()
        self.dir = inputs.kmers(cache, seed, size)
        t = np.load(os.path.join(self.dir, "truth.npz"))
        self.keys, self.counts = _u64(t["keys"]), t["counts"].astype(np.int64)
        self.rows = int(self.counts.sum())

    def register(self, spark) -> None:
        self.df = spark.read.parquet(os.path.join(self.dir, "stream.parquet"))
        self.small = self.df.limit(20_000)

    def prepare(self, spark) -> None:
        pass


def _word_stream(df):
    from pyspark.sql import functions as F
    from sketchlib.tokenize import word_tokens
    return (word_tokens(df, extra_cols=("role",))
            .withColumn("token_u64", F.xxhash64("token")))


def _panel():
    from sketchlib.sketches.cm import CMConfig, CountMin
    from sketchlib.sketches.hll import HyperLogLog
    return {"cm": partial(CountMin, CMConfig(np_bits=16, nh=3, seed=137,
                                             conservative=False)),
            "hll": partial(HyperLogLog, 12)}


def _hash_strings(spark, cols: dict) -> pd.DataFrame:
    """Spark's xxhash64 of each (kind, val) row, or of val alone where
    kind is -1: exactly what transcript_tokens and word_tokens compute,
    without running them."""
    from pyspark.sql import functions as F
    return (spark.createDataFrame(pd.DataFrame(cols)).select(
        F.when(F.col("kind") >= 0, F.xxhash64(F.col("kind").cast("int"), "val"))
        .otherwise(F.xxhash64("val")).alias("h")).toPandas())


class TranscriptsZipf(_Builds):
    """Zipf transcripts: CM and OCCM builds over transcript_tokens, then
    an append to an Icebergish source table, a refresh of its per-role
    sketch table and a probe of the refreshed ``cm`` panel."""

    name = "transcripts_zipf"
    col = "token_u64"
    PROBES_PER_ROLE = 5_000

    def __init__(self, cache: str, work: str, seed: int, size: str):
        super().__init__()
        self.dir = inputs.transcripts(cache, seed, size)
        self.work, self.seed = work, seed
        t = np.load(os.path.join(self.dir, "truth.npz"))
        self.truth_npz = {k: t[k] for k in ("words", "roles", "tools")}
        self.rows = int(t["rows"])
        self.deltas = sorted(d for d in os.listdir(self.dir)
                             if d.startswith("delta-"))
        self.role_words = {
            part: np.load(os.path.join(self.dir, part, "truth.npz"))["words"]
            for part in ["source"] + self.deltas}
        self.factories = _panel()
        self.catalog = None

    def stream(self, df):
        from sketchlib.tokenize import transcript_tokens
        return transcript_tokens(df)

    def register(self, spark) -> None:
        self.spark = spark
        self.df = spark.read.parquet(os.path.join(self.dir, "data"))
        self.small = self.df.limit(5_000)

    def prepare(self, spark) -> None:
        """Exact counts hashed as the tokenizers hash them, the fixed
        probe set, and the source and sketch tables."""
        from sketchlib.iceberg import IcebergishCatalog
        t = self.truth_npz
        vals, kinds, counts = [], [], []
        for kind, names, n in (
                (0, [f"tok{i}" for i in range(inputs.VOCAB_SIZE)],
                 t["words"].sum(axis=0)),
                (1, [f"tool_{i:02d}" for i in range(inputs.N_TOOLS)],
                 t["tools"]),
                (2, inputs.ROLES, t["roles"])):
            keep = np.flatnonzero(n)
            vals += [names[i] for i in keep]
            kinds += [kind] * len(keep)
            counts.append(n[keep])
        rng = np.random.default_rng([self.seed, 4])
        roles, words = [], []
        for role in inputs.ROLES:
            rest = rng.choice(np.arange(1_000, inputs.VOCAB_SIZE),
                              self.PROBES_PER_ROLE - 1_000, replace=False)
            words.append(np.concatenate([np.arange(1_000), rest]))
            roles += [role] * self.PROBES_PER_ROLE
        words = np.concatenate(words)
        # one hashing job: the truth keys (kind, value) and the probe
        # words, which word_tokens hashes as the string "w:" + word
        n_keys = len(vals)
        hashed = _hash_strings(spark, {
            "kind": np.int32(kinds + [-1] * len(words)),
            "val": vals + [f"w:tok{w}" for w in words]})["h"].to_numpy()
        self.keys = _u64(hashed[:n_keys])
        self.counts = np.concatenate(counts).astype(np.int64)
        self.probe_pdf = pd.DataFrame({"role": roles, "word": words,
                                       "token_u64": hashed[n_keys:]})
        self.probes = spark.createDataFrame(self.probe_pdf)

        self.catalog = IcebergishCatalog(os.path.join(self.work, "catalog"))
        self.catalog.append("src", spark.read.parquet(
            os.path.join(self.dir, "source", "data")))
        self.source_words = self.role_words["source"].copy()
        self.appended = 0
        self._refresh()

    def _append(self):
        part = self.deltas[self.appended % len(self.deltas)]
        df = self.spark.read.parquet(os.path.join(self.dir, part, "data"))
        before = len(self.catalog.snapshots("src"))
        snap = self.catalog.append("src", df)
        self.source_words += self.role_words[part]
        self.appended += 1
        return before, snap

    def _check_append(self, out):
        before, snap = out
        ok = (self.catalog.current_snapshot("src") == snap
              and len(self.catalog.snapshots("src")) == before + 1)
        return ok, "" if ok else "append did not commit one snapshot"

    def _refresh(self):
        from sketchlib.incremental import refresh_sketch_table
        return refresh_sketch_table(
            self.spark, self.catalog, "src", "sk", ["role"], "token_u64",
            self.factories, prepare=_word_stream, salt_buckets=SALT_BUCKETS)

    def _check_refresh(self, out):
        ok = (out["mode"] == "incremental" and out["source_snapshot"]
              == self.catalog.current_snapshot("src"))
        return ok, "" if ok else f"refresh returned {out}"

    def _probe(self):
        from sketchlib.incremental import load_sketch_table, probe_grouped
        sk = load_sketch_table(self.spark, self.catalog, "sk", name="cm")
        return probe_grouped(self.probes, sk, ["role"], "token_u64").toPandas()

    def _check_probe(self, out):
        if len(out) != len(self.probe_pdf):
            return False, f"{len(out)} probe rows for {len(self.probe_pdf)}"
        role = np.array([inputs.ROLES.index(r) for r in out["role"]])
        true = self.source_words[role, out["word"].to_numpy()]
        bad = int((out["est_count"].to_numpy() < true).sum())
        return bad == 0, f"{bad} probes under-estimated"

    def cycle(self, ops: Ops) -> None:
        super().cycle(ops)
        ops.run("append", self._append, self._check_append)
        ops.run("refresh", self._refresh, self._check_refresh)
        ops.run("probe", self._probe, self._check_probe)

    def traced_extra(self, ops: Ops) -> None:
        from sketchlib.tokenize import transcript_tokens
        ops.run("tokenize", lambda: transcript_tokens(self.df).write
                .format("noop").mode("overwrite").save())

    def finish(self, ops: Ops) -> None:
        """The refreshed sketch table must be bit-identical to a
        from-scratch build over the final source snapshot."""
        from sketchlib.aggregate import build_grouped_sketches_multi

        def blobs(df):
            return {(r["role"], r["name"]): bytes(r["sketch"])
                    for r in df.collect()}

        def rebuild():
            full = build_grouped_sketches_multi(
                _word_stream(self.catalog.load_table(self.spark, "src")),
                ["role"], "token_u64", self.factories)
            return blobs(full), blobs(self.catalog.load_table(self.spark,
                                                              "sk"))

        def same(out):
            ok = out[0] == out[1]
            return ok, "" if ok else "refreshed table differs from rebuild"
        ops.run("verify_rebuild", rebuild, same)

    def sketch_table_size(self) -> tuple[int, int]:
        """Rows and total blob bytes of the current sketch table."""
        pdf = self.catalog.load_table(self.spark, "sk").toPandas()
        return len(pdf), int(sum(len(b) for b in pdf["sketch"]))


WORKLOADS = {w.name: w for w in (TranscriptsZipf, KmersDense)}
