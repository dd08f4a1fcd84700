"""Where the offline round loop runs, and that it does not change the
sketch: a pre-aggregated build whose task-capped key table is one
partition runs every round in one task (one job); with ``checkpoint_dir``
the same build runs one job per pass. Both give the same bytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sketchlib.offline import build_offline
from sketchlib.sketches.cm import CMConfig
from sketchlib.synth import transcripts
from sketchlib.tokenize import transcript_tokens


@pytest.fixture(scope="module")
def tokens(spark):
    t = transcript_tokens(transcripts(spark, 200, seed=11,
                                      partitions=5)).cache()
    t.count()
    return t


def _jobs(spark, group: str, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _one_task(df, cfg, rounds):
    return build_offline(df, "token_u64", cfg, rounds, pre_aggregate=True,
                         local_threshold=0)


def _per_pass(df, cfg, rounds, ckpt):
    return build_offline(df, "token_u64", cfg, rounds, pre_aggregate=True,
                         local_threshold=0, checkpoint_dir=str(ckpt))


@pytest.mark.parametrize("conservative", [False, True])
@pytest.mark.parametrize("rounds", [1, 2, 3])
def test_one_task_bitexact_vs_per_pass(tokens, tmp_path, conservative,
                                       rounds):
    cfg = CMConfig(np_bits=9, nh=3, seed=7, conservative=conservative)
    one = tokens.coalesce(1)
    a = _one_task(one, cfg, rounds)
    b = _per_pass(one, cfg, rounds, tmp_path / "ckpt")
    assert a.core.any()
    if rounds == 3:  # plain OCM marks round r's collisions as r - 1
        assert a.collision.any()
    assert a.core.tobytes() == b.core.tobytes()
    assert a.collision.tobytes() == b.collision.tobytes()


@pytest.mark.parametrize("conservative", [False, True])
def test_empty_input_all_zero_on_both_paths(tokens, tmp_path,
                                            conservative):
    cfg = CMConfig(np_bits=8, nh=3, seed=7, conservative=conservative)
    empty = tokens.filter(F.lit(False))
    a = _one_task(empty, cfg, 3)
    b = _per_pass(empty, cfg, 3, tmp_path / "ckpt")
    for sk in (a, b):
        assert not sk.core.any() and not sk.collision.any()
        assert sk.core.shape == (cfg.nh, cfg.width)


@pytest.mark.parametrize("conservative,passes", [(False, 5), (True, 3)])
def test_one_task_runs_all_rounds_in_one_job(spark, tokens, tmp_path,
                                             conservative, passes):
    """The one-task build's job count does not grow with the rounds;
    the checkpointed build runs one more job per extra pass."""
    cfg = CMConfig(np_bits=9, nh=3, seed=7, conservative=conservative)
    one = tokens.coalesce(1)
    tag = f"one-task-{conservative}"
    _, one_1 = _jobs(spark, tag + "-1", lambda: _one_task(one, cfg, 1))
    _, one_3 = _jobs(spark, tag + "-3", lambda: _one_task(one, cfg, 3))
    _, pp_1 = _jobs(spark, tag + "-pp1",
                    lambda: _per_pass(one, cfg, 1, tmp_path / "a"))
    _, pp_3 = _jobs(spark, tag + "-pp3",
                    lambda: _per_pass(one, cfg, 3, tmp_path / "b"))
    assert one_3 == one_1
    assert pp_1 == one_1
    assert pp_3 - pp_1 == passes - 1


def test_partition_count_read_once_per_build(spark, tokens):
    """A raw input with an exchange: each pass runs the exchange's map
    stage and its own result stage, and nothing else — reading the
    input's partition count again in a pass would run the map stage
    once more. A 3-round plain OCM build has 5 passes, a 1-round one 1."""
    cfg = CMConfig(np_bits=9, nh=3, seed=7, conservative=False)
    # a fresh frame per build: a DataFrame keeps its .rdd once read
    _, j1 = _jobs(spark, "raw-1", lambda: build_offline(
        tokens.repartition(7), "token_u64", cfg, 1))
    _, j3 = _jobs(spark, "raw-3", lambda: build_offline(
        tokens.repartition(7), "token_u64", cfg, 3))
    assert j3 - j1 == 2 * (5 - 1)
