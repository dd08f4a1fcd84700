"""Offline (multi-round) CM orchestrator — the reference's flagship.

Re-expresses the reference driver loop (reference: main.cpp:35-90) for
Spark. Where the round loop runs:

  * on the driver, when a pre-aggregated (key, count) table has at most
    ``local_threshold`` distinct keys (no checkpointing);
  * in ONE task, when the pre-aggregated table is one partition after
    its task cap — up to max(500k, nh*w/4) distinct keys (no
    checkpointing): one job, one blob back, no broadcast or fold;
  * otherwise in one Spark job per pass over the token DataFrame: the
    driver holds the small round state, which moves via broadcast
    (driver -> executors) and a blob fold (executors -> driver):

  OCM (plain offline, main.cpp:35-62):
    round r>0: collision pass — broadcast previous round's (core,
      collision); executors compute order-independent collision flags
      against that *frozen* state (include/ocm.h:350-377 semantics with
      the in-pass mutation removed — documented variant, SURVEY.md
      §7.5); flags OR-merge via treeReduce; driver applies
      collision = max(collision, flag * (r-1)).
    every round: count pass — broadcast frozen collision table;
      executors run the plain offline count (include/ocm.h:283-299),
      which is order-independent given frozen collisions, so partials
      sum-merge EXACTLY like plain CM (distributed == sequential
      bit-exact for this variant).

  OCCM (conservative offline, main.cpp:63-90, effective semantics —
    the r>0 pre-pass is dead code, SURVEY.md O16):
    every round: one combined count+collision pass
      (include/ocm.h:301-348); per-partition sequential-equivalent
      batch kernel; merge core by sum, collision by max. Order-
      dependent like conservative CM; keeps est >= true.

Checkpoint/resume: after each completed pass the merged state is
committed to a CheckpointStore snapshot with per-partition lineage;
a rerun resumes from the latest committed pass.
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from sketchlib.aggregate import _collapse
from sketchlib.checkpoint_io import CheckpointStore, Snapshot, sketch_fill_metrics
from sketchlib.hashing import as_u64
from sketchlib.sketches.cm import CMConfig, OfflineCountMin


def _config_key(cfg: CMConfig, rounds: int) -> str:
    return f"np{cfg.np_bits}_nh{cfg.nh}_s{cfg.seed}_{'occm' if cfg.conservative else 'ocm'}_n{rounds}"


def _fold_payloads(frames, kind: str) -> tuple[list, object]:
    """Fold ``(lineage, payload)`` rows: lineage lists concatenate,
    collision-flag bitmaps OR, count partials merge. Returns
    ``(lineage, acc)``; acc is a uint8 bitmap, an OfflineCountMin or
    None. The executor fold stage and the driver both use this."""
    lineage: list = []
    acc = None
    for pdf in frames:
        for lg, pl in zip(pdf["lineage"], pdf["payload"]):
            lineage.extend(json.loads(lg))
            if kind == "collision":
                arr = np.frombuffer(bytes(pl), dtype=np.uint8)
                acc = arr.copy() if acc is None else acc | arr
            else:
                sk = OfflineCountMin.from_bytes(bytes(pl))
                acc = sk if acc is None else acc.merge(sk)
    return lineage, acc


def _run_pass(df: DataFrame, col: str, cfg: CMConfig, kind: str,
              round_: int, total_round: int,
              state: OfflineCountMin, n_parts: int, tree_width: int = 8,
              weighted: bool = False) -> tuple[OfflineCountMin, list]:
    """One full-input Spark job; kind in {'count', 'collision', 'occm'}.

    ``n_parts`` is ``df``'s partition count, computed once per build:
    asking a plan with an exchange for it runs the exchange's map stage.
    ``weighted`` means ``df`` is pre-grouped (col, __cnt) pairs — the
    scale path where the JVM hash aggregate did the counting."""
    sc = df.sparkSession.sparkContext
    # round 0's collision table is all zeros — don't ship 4B/cell of
    # zeros to every executor; the kernel re-creates it locally
    coll_shape = state.collision.shape
    b_coll = sc.broadcast(state.collision if state.collision.any()
                          else None)
    b_core = sc.broadcast(state.core if kind == "collision" else None)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        local = OfflineCountMin(cfg)
        coll = (b_coll.value.copy() if b_coll.value is not None
                else np.zeros(coll_shape, dtype=np.int32))
        local.collision = coll
        rows = 0
        if kind == "collision":
            flags = np.zeros_like(local.collision, dtype=bool)
            for pdf in batches:
                if not len(pdf):
                    continue
                rows += int(pdf["__cnt"].sum()) if weighted else len(pdf)
                flags |= local.mark_collisions_batch(
                    as_u64(pdf[col]), round_, b_core.value, coll)
            payload = np.packbits(flags.reshape(-1)).tobytes()
        elif kind == "count":
            for pdf in batches:
                if not len(pdf):
                    continue
                w = pdf["__cnt"].to_numpy() if weighted else None
                rows += int(w.sum()) if weighted else len(pdf)
                local.update_count_batch(as_u64(pdf[col]), weights=w)
            payload = local.to_bytes()
        else:  # occm combined — conservative is batching-sensitive, so
            # process the partition as ONE batch: the result is then a
            # pure function of the partition's multiset (Arrow batch
            # size no longer matters; driver-local == one-partition)
            vs, ws = [], []
            for pdf in batches:
                if not len(pdf):
                    continue
                vs.append(as_u64(pdf[col]))
                if weighted:
                    ws.append(pdf["__cnt"].to_numpy())
            if vs:
                v = np.concatenate(vs)
                w = np.concatenate(ws) if weighted else None
                rows += int(w.sum()) if weighted else len(v)
                local.update_count_collision_batch(v, round_, total_round,
                                                   weights=w)
            # ship only deltas implied by kernel type: core (sum-merge)
            # and collision (max-merge)
            payload = local.to_bytes()
        yield pd.DataFrame({"lineage": [json.dumps(
                                [{"partition_id": pid, "rows": rows}])],
                            "payload": [payload]})

    cols = [col, "__cnt"] if weighted else [col]
    parts = df.select(*cols).mapInPandas(
        partial, schema="lineage string, payload binary")

    # tree stage on the Arrow path (no RDD/pickle round trip); lineage
    # rides along as JSON so no second job is needed
    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lin, acc = _fold_payloads(batches, kind)
        if acc is not None:
            out = acc.tobytes() if kind == "collision" else acc.to_bytes()
            yield pd.DataFrame({"lineage": [json.dumps(lin)],
                                "payload": [out]})

    # the fold stage exists to bound driver fan-in; when there are
    # already <= tree_width partials it would only add a stage that
    # shuffles every multi-MB blob once more — pull them directly
    if n_parts > tree_width:
        parts = (parts.repartition(tree_width)
                 .mapInPandas(fold, schema="lineage string, payload binary"))
    lineage, acc = _fold_payloads([parts.toPandas()], kind)

    if acc is None:  # an empty table has no partition: nothing to add
        acc = state
    elif kind == "collision":
        flags = np.unpackbits(acc)[:state.collision.size].astype(bool)
        state.collision = np.maximum(
            state.collision,
            np.where(flags.reshape(state.collision.shape),
                     np.int32(round_ - 1), np.int32(0)))
        acc = state
    # else: partials each started from the broadcast collision table;
    # the max-merge keeps it plus any new marks (occm); core summed
    b_coll.destroy()
    b_core.destroy()
    return acc, lineage


def _build_local_weighted(vals: np.ndarray, weights: np.ndarray,
                          cfg: CMConfig, rounds: int) -> OfflineCountMin:
    """The whole round loop over one pre-aggregated (key, count) table,
    on the driver or inside one task — identical batch kernels (they
    are order-independent over a batch), so the result is bit-identical
    to a one-partition per-pass run, without 2n-1 Spark jobs +
    broadcasts."""
    state = OfflineCountMin(cfg)
    for r in range(rounds):
        if not cfg.conservative:
            if r > 0:
                flags = state.mark_collisions_batch(
                    vals, r, state.core, state.collision)
                state.collision = np.maximum(
                    state.collision,
                    np.where(flags, np.int32(r - 1), np.int32(0)))
            state.clear_core()
            state.update_count_batch(vals, weights=weights)
        else:
            state.clear_core()
            state.update_count_collision_batch(vals, r, rounds,
                                               weights=weights)
    return state


def _build_one_task(df: DataFrame, col: str, cfg: CMConfig,
                    rounds: int) -> OfflineCountMin:
    """Every round inside the task of a one-partition pre-aggregated
    table. With one partition the merged state after a pass IS that
    task's local state, so the next round's broadcast would only hand
    the task back its own table: same computation, same row order, one
    job and one blob instead of a job, broadcast and blob per pass."""
    def loop(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vs, ws = [np.zeros(0, np.uint64)], [np.zeros(0, np.int64)]
        for pdf in batches:
            vs.append(as_u64(pdf[col]))
            ws.append(pdf["__cnt"].to_numpy())
        sk = _build_local_weighted(np.concatenate(vs), np.concatenate(ws),
                                   cfg, rounds)
        yield pd.DataFrame({"payload": [sk.to_bytes()]})

    out = (df.select(col, "__cnt")
           .mapInPandas(loop, schema="payload binary").toPandas())
    if not len(out):  # an empty table has no partition
        return OfflineCountMin(cfg)
    return OfflineCountMin.from_bytes(bytes(out["payload"].iloc[0]))


def build_offline(df: DataFrame, col: str, cfg: CMConfig, rounds: int,
                  checkpoint_dir: str | None = None,
                  tree_width: int = 8,
                  pre_aggregate: bool = False,
                  local_threshold: int = 200_000,
                  input_snapshot: str | None = None) -> OfflineCountMin:
    """Multi-round OCM/OCCM build over ``df[col]`` (int64/uint64 tokens).

    With ``checkpoint_dir``, each completed pass commits a snapshot and
    a rerun resumes from the last committed pass (bit-identical result
    to an uninterrupted run — tested).

    ``pre_aggregate=True`` is the scale path: the (token, count) table
    is computed ONCE by a JVM hash aggregate and persisted, so each of
    the 2n-1 passes re-reads |distinct| weighted rows instead of
    re-scanning the raw stream — the offline algorithm's multi-pass
    cost collapses to one scan plus n cheap sketch passes. Without
    checkpointing, the pre-aggregated round loop runs

      * on the driver when the table has ≤ ``local_threshold`` rows —
        the broadcast-threshold analog: 2n-1 Spark jobs + state
        broadcasts would cost more than the kernels themselves;
      * in one task when the task-capped table is one partition, which
        it is up to max(500k, nh*w/4) distinct keys: one job returns
        one blob, with no state broadcast, per-pass blob or fold;
      * in one job per pass otherwise (two or more partitions).

    With ``checkpoint_dir`` or ``pre_aggregate=False`` every pass is
    its own job. The driver and one-task loops give the sketch of a
    one-partition per-pass run, bit for bit.
    """
    store = CheckpointStore(checkpoint_dir) if checkpoint_dir else None
    key = _config_key(cfg, rounds)
    state = OfflineCountMin(cfg)
    weighted = False
    persisted = None
    n_distinct = None
    n_parts = None
    if pre_aggregate:
        df = _collapse(df, [], col, pre_aggregate=True)
        weighted = True

    def materialize(grouped):
        # persist the weighted key table and cap the per-pass task
        # count. Partial-blob economics: every map task ships ONE full
        # sketch blob (8B core + 4B collision per cell) through the
        # fold, and AQE cannot re-coalesce a cached plan's partitions
        # (canChangeCachedPlanOutputPartitioning=false), so the
        # weighted table keeps all shuffle partitions — measured at
        # sf0.1 that is 32 tasks x 84MB of payload per pass for
        # microseconds of kernel work. Cap tasks so per-task kernel
        # work (~rows) stays comparable to the blob each task adds.
        nonlocal persisted, n_distinct
        persisted = grouped.persist()
        n_distinct = persisted.count()  # materializes the persist
        blob_cells = cfg.nh << cfg.np_bits
        rows_per_task = max(500_000, blob_cells // 4)
        k = min(int(grouped.sparkSession.sparkContext.defaultParallelism),
                max(1, -(-n_distinct // rows_per_task)))
        if k < persisted.rdd.getNumPartitions():
            return persisted.coalesce(k)
        return persisted

    if pre_aggregate and store is None:
        df = materialize(df)
        if local_threshold > 0 and n_distinct <= local_threshold:
            pdf = persisted.toPandas()
            persisted.unpersist()
            return _build_local_weighted(as_u64(pdf[col]),
                                         pdf["__cnt"].to_numpy(), cfg, rounds)
        n_parts = df.rdd.getNumPartitions()  # cached plan: runs no job
        if n_parts <= 1:
            try:
                return _build_one_task(df, col, cfg, rounds)
            finally:
                persisted.unpersist()

    def passes():
        for r in range(rounds):
            if not cfg.conservative:
                if r > 0:
                    yield r, "collision"
                yield r, "count"
            else:
                yield r, "occm"

    try:
        for r, kind in passes():
            snap_id = f"{key}_r{r}_{kind}"
            if store is not None:
                found = store.find(snap_id)
                if found is not None:
                    recorded = found[0]["config"].get("input_snapshot")
                    if recorded != input_snapshot:
                        raise ValueError(
                            f"checkpoint {snap_id} was built from input "
                            f"snapshot {recorded!r}, not {input_snapshot!r}"
                            " — resuming across different input data "
                            "would corrupt the sketch; restart with a "
                            "fresh checkpoint dir (or, when calling "
                            "build_offline directly, pass "
                            f"input_snapshot={recorded!r})")
                    state = OfflineCountMin.from_bytes(found[1])
                    continue
            if pre_aggregate and persisted is None:
                # deferred until a pass actually has to run: a fully
                # checkpointed resume must stay free of input scans
                df = materialize(df)
            if n_parts is None:
                n_parts = df.rdd.getNumPartitions()
            if kind in ("count", "occm"):
                state.clear_core()  # main.cpp:49/76: zero counters,
                # keep marks
            state, lineage = _run_pass(df, col, cfg, kind, r, rounds,
                                       state, n_parts, tree_width,
                                       weighted=weighted)
            if store is not None:
                store.commit(
                    Snapshot(snapshot_id=snap_id,
                             config={**json.loads(json.dumps(cfg.__dict__)),
                                     "input_snapshot": input_snapshot},
                             round_=r, pass_name=kind, blob_file="",
                             lineage=lineage,
                             metrics=sketch_fill_metrics(state.core)),
                    state.to_bytes())
    finally:
        if persisted is not None:
            persisted.unpersist()
    return state


def build_offline_from_table(spark, catalog, table: str, cfg: CMConfig,
                             rounds: int,
                             checkpoint_dir: str | None = None,
                             snapshot_id: str | None = None,
                             tokenizer=None, col: str = "token_u64",
                             **kwargs) -> tuple[OfflineCountMin, str]:
    """Multi-round build over an Icebergish TABLE with snapshot pinning.

    Resolves the input snapshot ONCE and scans it for the build's whole
    lifetime (the Iceberg job-scoped-snapshot contract): a fresh build
    pins the table's current snapshot into the checkpoint store; a
    resumed build reuses the PINNED snapshot even if the table has
    since received appends, so every pass — before and after the
    interruption — reads identical data. Passing an explicit
    ``snapshot_id`` that conflicts with an existing pin raises instead
    of mixing inputs. Returns ``(sketch, snapshot_id_used)``.
    """
    if tokenizer is None:
        from sketchlib.tokenize import transcript_tokens
        tokenizer = transcript_tokens
    pin_key = f"{table}:{_config_key(cfg, rounds)}"
    store = CheckpointStore(checkpoint_dir) if checkpoint_dir else None
    pinned = store.get_pin(pin_key) if store is not None else None
    if snapshot_id is not None and pinned is not None \
            and snapshot_id != pinned:
        raise ValueError(
            f"checkpoint dir already pins input snapshot {pinned!r} for "
            f"this build config; got snapshot_id={snapshot_id!r}")
    snap = snapshot_id or pinned or catalog.current_snapshot(table)
    if snap is None:
        raise ValueError(f"table {table!r} has no snapshots")
    # resolve the snapshot BEFORE pinning it: pinning a bogus
    # --snapshot id would permanently wedge the checkpoint dir (every
    # later run resolves the pin and fails; the correct id then trips
    # the pin-conflict check above)
    toks = tokenizer(catalog.load_table(spark, table, snap))
    if store is not None and pinned is None:
        store.set_pin(pin_key, snap)
    sk = build_offline(toks, col, cfg, rounds,
                       checkpoint_dir=checkpoint_dir,
                       input_snapshot=snap, **kwargs)
    return sk, snap
