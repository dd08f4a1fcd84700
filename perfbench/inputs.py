"""Seeded benchmark inputs, written once per (kind, seed, size) as parquet.

Every generator is a pure function of its seed and size, runs on the
driver with numpy + pyarrow (no Spark), and knows its own exact counts,
so the correctness checks never trust the library to compute the truth.
Inputs are cached under ``<cache>/<kind>-s<seed>-<size>/``; a directory
is published with an atomic rename only after its files are complete.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
ROLES = ["user", "assistant", "system", "tool"]
ROLE_P = [0.40, 0.40, 0.05, 0.15]
N_TOOLS = 64
HOT_EVERY, HOT_MULT = 100, 25
TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])

# "full" is what the benchmark measures; "tiny" is for the smoke test.
# transcripts: (conversations, refresh source conversations,
# conversations per delta, deltas); kmers: distinct keys.
SIZES = {
    "full": {"transcripts": (5_000, 1_000, 1_000, 8), "kmers": 80_000},
    "tiny": {"transcripts": (300, 100, 50, 2), "kmers": 3_000},
}


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    return np.cumsum(w / w.sum())


def _publish(cache: str, name: str, write) -> str:
    """Run ``write(tmp_dir)`` unless ``name`` is cached; return its dir."""
    final = os.path.join(cache, name)
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    os.replace(tmp, final)
    return final


def _conversations(rng: np.random.Generator, first: int, n: int,
                   vocab: pa.Array, cdf: np.ndarray):
    """Transcript rows for conversations ``first..first+n-1`` plus their
    exact token counts: ``(table, word_counts[role, word], role_counts,
    tool_counts)``. Distribution after sketchlib.synth: 2-15 turns,
    every HOT_EVERY-th conversation HOT_MULT times longer, 5-120 Zipf
    words per turn, a tool name on every tool turn."""
    conv = np.arange(first, first + n)
    n_turns = rng.integers(2, 16, size=n)
    n_turns[conv % HOT_EVERY == 0] *= HOT_MULT
    conv_of_turn = np.repeat(conv, n_turns)
    starts = np.cumsum(n_turns) - n_turns
    turn_idx = (np.arange(n_turns.sum()) - np.repeat(starts, n_turns))
    n_rows = len(conv_of_turn)
    role = rng.choice(len(ROLES), size=n_rows, p=ROLE_P)
    n_words = rng.integers(5, 121, size=n_rows)
    words = np.searchsorted(cdf, rng.random(int(n_words.sum())))
    offsets = np.concatenate([[0], np.cumsum(n_words)]).astype(np.int32)
    text = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(offsets), vocab.take(words)), " ")
    tool_idx = np.minimum(rng.zipf(1.3, size=n_rows) - 1, N_TOOLS - 1)
    is_tool = role == ROLES.index("tool")
    tool = pa.array([f"tool_{t:02d}" if f else None
                     for t, f in zip(tool_idx, is_tool)], pa.string())
    ts = (np.datetime64("2026-01-01T00:00:00", "us")
          + (conv_of_turn % 86_400 * 1_000_000).astype("timedelta64[us]")
          + (turn_idx * 45 * 1_000_000).astype("timedelta64[us]"))
    table = pa.table({
        "conv_id": pa.array(np.char.add(
            "conv", np.char.zfill(conv_of_turn.astype("U8"), 8))),
        "turn_idx": pa.array(turn_idx.astype(np.int32)),
        "role": pa.array(np.array(ROLES)[role]),
        "text": text, "tool": tool, "ts": pa.array(ts),
    }, schema=TRANSCRIPT_SCHEMA)
    role_word = np.repeat(role, n_words) * VOCAB_SIZE + words
    return (table, np.bincount(role_word, minlength=len(ROLES) * VOCAB_SIZE)
            .reshape(len(ROLES), VOCAB_SIZE),
            np.bincount(role, minlength=len(ROLES)),
            np.bincount(tool_idx[is_tool], minlength=N_TOOLS))


def _write_transcripts(out: str, rng: np.random.Generator, first: int,
                       n: int, files: int) -> None:
    """Write ``n`` conversations as ``files`` parquet files under
    ``out/data`` and their exact counts as ``out/truth.npz``."""
    vocab = pa.array([f"tok{i}" for i in range(VOCAB_SIZE)])
    cdf = _zipf_cdf(VOCAB_SIZE, ZIPF_S)
    words = np.zeros((len(ROLES), VOCAB_SIZE), np.int64)
    roles = np.zeros(len(ROLES), np.int64)
    tools = np.zeros(N_TOOLS, np.int64)
    rows = 0
    data = os.path.join(out, "data")
    os.makedirs(data)
    per = -(-n // files)
    for i, lo in enumerate(range(first, first + n, per)):
        table, w, r, t = _conversations(rng, lo, min(per, first + n - lo),
                                        vocab, cdf)
        pq.write_table(table, os.path.join(data, f"part-{i:03d}.parquet"))
        words += w
        roles += r
        tools += t
        rows += table.num_rows
    np.savez(os.path.join(out, "truth.npz"), rows=rows, words=words,
             roles=roles, tools=tools)


def transcripts(cache: str, seed: int, size: str) -> str:
    """``transcripts_zipf`` input: a table of Zipf transcripts, and a
    separate source table with a pool of deltas to append to it."""
    n, n_src, n_delta, n_deltas = SIZES[size]["transcripts"]

    def write(tmp):
        rng = np.random.default_rng([seed, 1])
        _write_transcripts(tmp, rng, 0, n, 8)
        _write_transcripts(os.path.join(tmp, "source"), rng, n, n_src, 2)
        for d in range(n_deltas):
            _write_transcripts(os.path.join(tmp, f"delta-{d}"), rng,
                               n + n_src + d * n_delta, n_delta, 1)
    return _publish(cache, f"transcripts-s{seed}-{size}", write)


def kmers(cache: str, seed: int, size: str) -> str:
    """``kmers_dense`` input: a shuffled u64 stream in which each of
    ``n`` distinct random keys occurs 1 + Poisson(3) times and 0.5% of
    them are repeats occurring 10-60 times more (about 4.7x coverage)."""
    n = SIZES[size]["kmers"]

    def write(tmp):
        rng = np.random.default_rng([seed, 2])
        keys = np.unique(rng.integers(-2**63, 2**63 - 1, size=n,
                                      dtype=np.int64))
        mult = 1 + rng.poisson(3.0, size=keys.size)
        repeats = rng.random(keys.size) < 0.005
        mult[repeats] *= rng.integers(10, 61, size=int(repeats.sum()))
        stream = rng.permutation(np.repeat(keys, mult))
        pq.write_table(pa.table({"kmer": stream}),
                       os.path.join(tmp, "stream.parquet"),
                       row_group_size=1 << 18)
        np.savez(os.path.join(tmp, "truth.npz"), keys=keys, counts=mult)
    return _publish(cache, f"kmers-s{seed}-{size}", write)
