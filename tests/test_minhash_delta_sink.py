"""minhash_delta_sink under replay, and what it leaves cached.

The sink's ``per_batch`` is called directly with static DataFrames, as
``foreachBatch`` would call it. A crash after the index append but
before the ``_epoch_<id>`` marker is injected by deleting the marker
and calling the same epoch again.
"""

from __future__ import annotations

import os

from sketchlib.streaming import minhash_delta_sink

_BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
         "away into the deep dark quiet forest tonight")
_OTHER = ("totally different text about ships sailing the wide open sea "
          "under a red morning sky")


def _batches(spark):
    b0 = [(i, f"{_BASE} variant {i}") for i in range(4)]
    b1 = [(100, f"{_BASE} variant 0"),           # cross-batch identical
          (101, _OTHER), (102, _OTHER),          # in-batch identical
          (103, f"{_OTHER} again"),
          (104, f"{_BASE} variant 7")]
    schema = "doc_id long, text string"
    return (spark.createDataFrame(b0, schema),
            spark.createDataFrame(b1, schema))


def _pairs(spark, pairs_dir):
    rows = (spark.read.option("basePath", pairs_dir).parquet(pairs_dir)
            .collect())
    return {(r["id_a"], r["id_b"], r["epoch"], round(r["jaccard"], 12))
            for r in rows}


def test_replay_after_index_append_gives_clean_pairs(spark, tmp_path):
    b0, b1 = _batches(spark)
    clean = minhash_delta_sink(str(tmp_path / "ia"), str(tmp_path / "pa"),
                               threshold=0.6)
    clean(b0, 0)
    clean(b1, 1)

    crashed = minhash_delta_sink(str(tmp_path / "ib"), str(tmp_path / "pb"),
                                 threshold=0.6)
    crashed(b0, 0)
    crashed(b1, 1)
    os.remove(tmp_path / "ib" / "_epoch_1")   # append done, marker lost
    crashed(b1, 1)

    want = _pairs(spark, str(tmp_path / "pa"))
    got = _pairs(spark, str(tmp_path / "pb"))
    assert got == want
    assert (101, 102, 1, 1.0) in got
    assert (0, 100, 1, 1.0) in got


def test_sink_batch_releases_its_persisted_frames(spark, tmp_path):
    b0, b1 = _batches(spark)
    sink = minhash_delta_sink(str(tmp_path / "i"), str(tmp_path / "p"),
                              threshold=0.6)
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    sink(b0, 0)
    assert jsc.getPersistentRDDs().size() == base
    sink(b1, 1)
    assert jsc.getPersistentRDDs().size() == base
