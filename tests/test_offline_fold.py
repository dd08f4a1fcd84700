"""The executor fold stage of distributed offline passes: with more
input partitions than ``tree_width``, partials are folded on executors
before the driver fold, and the result must not change."""

from __future__ import annotations

import numpy as np
import pytest

from sketchlib.offline import build_offline
from sketchlib.sketches.cm import CMConfig
from sketchlib.synth import transcripts
from sketchlib.tokenize import transcript_tokens

from tests.test_offline_spark import ROUNDS, _sim_plain_ocm


@pytest.fixture(scope="module")
def tokens(spark):
    t = transcript_tokens(transcripts(spark, 200, seed=11,
                                      partitions=5)).cache()
    t.count()
    return t


@pytest.fixture(scope="module")
def vals(tokens):
    return (tokens.select("token_u64").toPandas()["token_u64"]
            .to_numpy().view(np.uint64))


def test_plain_ocm_fold_stage_bitexact_vs_frozen_sim(tokens, vals):
    assert tokens.rdd.getNumPartitions() > 2
    cfg = CMConfig(np_bits=10, nh=5, seed=137, conservative=False)
    dist = build_offline(tokens, "token_u64", cfg, ROUNDS, tree_width=2)
    sim = _sim_plain_ocm(vals, cfg, ROUNDS)
    np.testing.assert_array_equal(dist.collision, sim.collision)
    np.testing.assert_array_equal(dist.core, sim.core)


def test_occm_fold_stage_one_sided(tokens, vals):
    u, true = np.unique(vals, return_counts=True)
    cfg = CMConfig(np_bits=9, nh=5, seed=137, conservative=True)
    occm = build_offline(tokens, "token_u64", cfg, ROUNDS, tree_width=2)
    assert (occm.estimate(u) >= true.astype(np.uint64)).all()
