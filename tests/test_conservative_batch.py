"""The conservative batch kernels equal a per-key sequential loop.

``CountMin`` (conservative ``update`` / ``update_weighted``),
``CountMinPacked`` (conservative) and
``OfflineCountMin.update_count_collision_batch`` apply a batch as its
sorted, weight-combined (key, count) list. Their result must be the
same ``core`` / ``collision`` arrays as applying those keys one at a
time in index order with the reference rule (include/ocm.h:57-67 and
:301-348, c occurrences collapsed to one raise by c). The oracle below
is written here, one numpy call per key, independently of the
kernels' scheduling. Narrow widths (2^4-2^10) make almost every key
share a cell; 2^16 mixes shared and unshared keys.
"""

from __future__ import annotations

import pathlib
import struct

import numpy as np
from hypothesis import given, settings, strategies as st

from sketchlib.hashing import row_positions
from sketchlib.sketches.cm import (CMConfig, CountMin, OfflineCountMin,
                                   _pack_u64)
from sketchlib.sketches.packedcm import CountMinPacked

_U64 = np.uint64
_BITS = st.sampled_from([4, 5, 6, 8, 10, 16])


def _stream(seed: int, n: int, pool: int, weighted: bool):
    """``n`` values drawn with repeats from ``pool`` random u64 keys."""
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, 2**64 - 1, size=pool, dtype=_U64)
    vals = keys[rng.integers(0, pool, size=n)]
    weights = rng.integers(1, 6, size=n) if weighted else None
    return vals, weights


def _combined(vals, weights):
    """The batch as sorted (key, summed count) pairs, in plain Python."""
    acc: dict[int, int] = {}
    ws = [1] * len(vals) if weights is None else weights.tolist()
    for v, w in zip(vals.tolist(), ws):
        acc[v] = acc.get(v, 0) + w
    keys = sorted(acc)
    return np.array(keys, dtype=_U64), [acc[k] for k in keys]


def _oracle_cm(core, seeds, np_bits, vals, weights, mask=None):
    u, counts = _combined(vals, weights)
    cols = row_positions(u, seeds, np_bits).astype(np.int64)
    rows = np.arange(core.shape[0])
    for t, c in enumerate(counts):
        p = cols[:, t]
        v = core[rows, p]
        new = np.maximum(v, v.min() + _U64(c))
        core[rows, p] = new if mask is None else new & _U64(mask)
    return core


def _oracle_occm(core, coll, seeds, np_bits, vals, weights, round_,
                 total_round):
    u, counts = _combined(vals, weights)
    cols = row_positions(u, seeds, np_bits).astype(np.int64)
    rows = np.arange(core.shape[0])
    for t, c in enumerate(counts):
        p = cols[:, t]
        col = coll[rows, p]
        mc = col.min()
        if mc < round_ - 1:
            sel = col == mc
            v = core[rows[sel], p[sel]]
            core[rows[sel], p[sel]] = np.maximum(v, v.min() + _U64(c))
        else:
            v = core[rows, p]
            mn = v.min()
            if round_ < total_round:
                over = v > mn
                coll[rows[over], p[over]] = round_
            core[rows, p] = np.maximum(v, mn + _U64(c))


_batches = st.tuples(st.integers(0, 2**32 - 1), st.integers(1, 1500),
                     st.integers(1, 2000), st.booleans())


@settings(max_examples=40, deadline=None)
@given(np_bits=_BITS, nh=st.sampled_from([1, 3, 4, 7]),
       batches=st.lists(_batches, min_size=1, max_size=3))
def test_conservative_cm_matches_sequential(np_bits, nh, batches):
    cm = CountMin(CMConfig(np_bits, nh, 137, True))
    want = cm.core.copy()
    for seed, n, pool, weighted in batches:
        vals, weights = _stream(seed, n, pool, weighted)
        if weights is None:
            cm.update(vals)
        else:
            cm.update_weighted(vals, weights)
        _oracle_cm(want, cm.seeds, np_bits, vals, weights)
        assert np.array_equal(cm.core, want)


@settings(max_examples=30, deadline=None)
@given(np_bits=_BITS, nbits=st.sampled_from([3, 8, 16, 64]),
       batches=st.lists(_batches, min_size=1, max_size=3))
def test_conservative_packed_matches_sequential(np_bits, nbits, batches):
    """Packed counters wrap at 2^nbits; the oracle cuts each stored
    value to ``nbits`` exactly as ``PackedVector.set`` does."""
    cfg = CMConfig(np_bits, 5, 11, True)
    pk = CountMinPacked(cfg, nbits=nbits)
    want = np.zeros((cfg.nh_odd, cfg.width), dtype=_U64)
    for seed, n, pool, weighted in batches:
        vals, weights = _stream(seed, n, pool, weighted)
        if weights is None:
            pk.update(vals)
        else:
            pk.update_weighted(vals, weights)
        _oracle_cm(want, pk.seeds, np_bits, vals, weights,
                   mask=int(pk.pv.mask))
        assert np.array_equal(pk.to_unpacked().core, want)


@settings(max_examples=30, deadline=None)
@given(np_bits=_BITS, total_round=st.integers(1, 4),
       seed=st.integers(0, 2**32 - 1), n=st.integers(1, 1500),
       pool=st.integers(1, 2000), weighted=st.booleans(),
       preseed=st.booleans())
def test_occm_batch_matches_sequential(np_bits, total_round, seed, n, pool,
                                       weighted, preseed):
    """Rounds 0..total_round (the last one marks nothing). A pre-seeded
    collision table makes the ``mc < round_ - 1`` branch run."""
    vals, weights = _stream(seed, n, pool, weighted)
    ocm = OfflineCountMin(CMConfig(np_bits, 7, 137, True))
    if preseed:
        ocm.collision[:] = np.random.default_rng(seed).integers(
            0, total_round + 1, size=ocm.collision.shape, dtype=np.int32)
    want_core = ocm.core.copy()
    want_coll = ocm.collision.copy()
    for r in range(total_round + 1):
        ocm.clear_core()
        want_core[:] = 0
        ocm.update_count_collision_batch(vals, r, total_round, weights=weights)
        _oracle_occm(want_core, want_coll, ocm.seeds, np_bits, vals,
                     weights, r, total_round)
        assert np.array_equal(ocm.core, want_core)
        assert np.array_equal(ocm.collision, want_coll)
        assert ocm.collision.dtype == np.int32


def _occm_bytes_via_u64(sk: OfflineCountMin) -> bytes:
    """``OfflineCountMin.to_bytes`` as it was written with the collision
    table widened to uint64 before packing."""
    c = sk.config
    code, payload = _pack_u64(sk.core)
    ccode, cpayload = _pack_u64(sk.collision.astype(_U64))
    return (sk.MAGIC
            + struct.pack("<BIIQBBB", 3, c.np_bits, c.nh, c.seed,
                          1 if c.conservative else 0, code, ccode)
            + payload + cpayload)


def test_occm_blob_bytes_unchanged():
    """Dense (narrow) and sparse (wide) collision tables, with round
    numbers that need 1, 2 and 4 bytes, keep their exact wire bytes and
    round-trip to an int32 table."""
    vals, weights = _stream(5, 4000, 3000, True)
    codes = set()
    for np_bits, top in ((6, 0), (14, 0), (14, 300), (6, 70000)):
        sk = OfflineCountMin(CMConfig(np_bits, 7, 137, True))
        for r in range(3):
            sk.clear_core()
            sk.update_count_collision_batch(vals, r, 3, weights=weights)
        sk.collision.reshape(-1)[::97] += top
        blob = sk.to_bytes()
        assert blob == _occm_bytes_via_u64(sk)
        codes.add(blob[4 + struct.calcsize("<BIIQBB")])
        back = OfflineCountMin.from_bytes(blob)
        assert back.collision.dtype == np.int32
        assert np.array_equal(back.collision, sk.collision)
        assert np.array_equal(back.core, sk.core)
    assert codes == {0, 0x80, 0x81, 2}


def test_no_per_key_numpy_fallback():
    src = pathlib.Path(__file__).resolve().parents[1] / "sketchlib" / "sketches"
    for path in src.glob("*.py"):
        text = path.read_text()
        assert "for t in np.flatnonzero(" not in text, path.name
        assert "np.isin(flat" not in text, path.name
