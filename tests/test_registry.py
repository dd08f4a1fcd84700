"""The blob registry and ``fold_blobs``: every sketch class with a MAGIC
is registered under a MAGIC of its own, and folding blobs is exactly
deserialize-and-merge (a single blob round-trips byte-identically,
which incremental refresh relies on for groups a delta leaves alone)."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import numpy as np
import pytest

import sketchlib.sketches as S
from sketchlib.sketches.base import _REGISTRY, deserialize, fold_blobs
from sketchlib.sketches.cm import CMConfig

_CM = CMConfig(np_bits=10, nh=3, seed=7, conservative=False)


def _u64(rng, n):
    return rng.integers(0, 5_000, n).astype(np.uint64) * np.uint64(
        0x9E3779B97F4A7C15)


def _floats(rng, n):
    return rng.lognormal(0.0, 1.5, n)


def _offline_cm():
    sk = S.OfflineCountMin(_CM)
    sk.update = sk.update_count_batch
    return sk


# one small instance per registered type and the data it takes
CASES = {
    S.CountMin: (lambda: S.CountMin(_CM), _u64),
    S.OfflineCountMin: (_offline_cm, _u64),
    S.HyperLogLog: (lambda: S.HyperLogLog(10), _u64),
    S.BloomFilter: (lambda: S.BloomFilter(12, 3), _u64),
    S.TDigest: (S.TDigest, _floats),
    S.KLL: (lambda: S.KLL(64), _floats),
    S.CountSketch: (lambda: S.CountSketch(10, 3), _u64),
    S.PCSA: (lambda: S.PCSA(16), _u64),
    S.MinHashBottomK: (lambda: S.MinHashBottomK(64), _u64),
    S.HeavyKeeper: (lambda: S.HeavyKeeper(8, 3), _u64),
    S.CountingBloom: (lambda: S.CountingBloom(10, 3, 8), _u64),
    S.CountMinLog: (lambda: S.CountMinLog(10, 3), _u64),
    S.CountSketch4W: (lambda: S.CountSketch4W(10, 3), _u64),
    S.OnePermMinHash: (lambda: S.OnePermMinHash(8), _u64),
    S.CountingMinHash: (lambda: S.CountingMinHash(64), _u64),
    S.FilterHLL: (lambda: S.FilterHLL(10, 12, 3), _u64),
    S.HyperBitBit: (S.HyperBitBit, _u64),
    S.ModSketch: (S.ModSketch, _u64),
    S.PCBF: (lambda: S.PCBF(4, 10, 3), _u64),
    S.VACSketch: (lambda: S.VACSketch(4, 10, 3), _u64),
    S.HyperMinHash: (lambda: S.HyperMinHash(8, 6), _u64),
    S.SetSketch: (lambda: S.SetSketch(8), _u64),
    S.DDSketch: (S.DDSketch, _floats),
    S.FrequentDirections: (lambda: S.FrequentDirections(8, 6),
                           lambda rng, n: rng.normal(size=(n // 50, 6))),
    S.MisraGries: (lambda: S.MisraGries(64), _u64),
    S.CountMinPacked: (lambda: S.CountMinPacked(_CM), _u64),
}


def _classes_with_magic():
    for mod in pkgutil.iter_modules(S.__path__):
        m = importlib.import_module(f"sketchlib.sketches.{mod.name}")
        for _, cls in inspect.getmembers(m, inspect.isclass):
            if cls.__module__ == m.__name__ and "MAGIC" in vars(cls):
                yield cls


def test_every_sketch_class_with_magic_is_registered():
    classes = list(_classes_with_magic())
    assert classes
    for cls in classes:
        assert _REGISTRY.get(cls.MAGIC) is cls, cls.__name__


def test_magics_are_unique():
    classes = list(_classes_with_magic())
    magics = [cls.MAGIC for cls in classes]
    assert len(set(magics)) == len(magics), sorted(magics)
    assert all(len(m) == 4 for m in magics)


def test_cases_cover_the_registry():
    assert set(CASES) == set(_REGISTRY.values())


def _blob(cls, seed):
    factory, data = CASES[cls]
    sk = factory()
    sk.update(data(np.random.default_rng(seed), 2_000))
    return sk.to_bytes()


@pytest.mark.parametrize("cls", list(CASES), ids=lambda c: c.__name__)
def test_fold_blobs_is_deserialize_and_merge(cls):
    a, b = _blob(cls, 1), _blob(cls, 2)
    assert a[:4] == cls.MAGIC
    assert fold_blobs([a]).to_bytes() == a
    assert fold_blobs([a, b]).to_bytes() == \
        deserialize(a).merge(deserialize(b)).to_bytes()
    assert fold_blobs([]) is None
