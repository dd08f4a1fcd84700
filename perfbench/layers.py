"""Per-layer metrics of a traced run, named after the library's modules.

Every workload reports every name in ``UNITS``; a layer the workload
does not exercise reads 0. Stage-derived values are per op: the median,
over the traced ops of one kind, of the sum over that op's stages.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from ledger import self_times
from workloads import ROUNDS

UNITS = {
    "session.jvm_start_s": "s", "session.cold_setup_s": "s",
    "session.start_s": "s", "session.warmup_s": "s",
    "tokenize.s": "s", "tokenize.rows_out": "count",
    "aggregate.preagg.stage_s": "s", "aggregate.preagg.cpu_s": "s",
    "aggregate.preagg.gc_s": "s", "aggregate.preagg.tasks": "count",
    "aggregate.preagg.shuffle_write_bytes": "bytes",
    "aggregate.kernel.stage_s": "s", "aggregate.kernel.tasks": "count",
    "aggregate.kernel.rows_in": "count", "aggregate.kernel.python_s": "s",
    "aggregate.kernel.python_boot_s": "s",
    "aggregate.kernel.arrow_bytes_in": "bytes",
    "aggregate.fold.stage_s": "s", "aggregate.fold.cpu_s": "s",
    "aggregate.fold.tasks": "count",
    "aggregate.fold.shuffle_read_bytes": "bytes",
    "aggregate.driver.collect_s": "s",
    "sketches.cm.update_weighted_s": "s", "sketches.cm.keys_per_s": "keys/s",
    "sketches.cm.to_bytes_s": "s", "sketches.cm.from_bytes_s": "s",
    "sketches.cm.merge_s": "s", "sketches.cm.estimate_s": "s",
    "sketches.cm.blob_bytes": "bytes", "sketches.cm.fill_ratio": "ratio",
    "sketches.ocm.update_count_collision_s": "s",
    "sketches.ocm.blob_bytes": "bytes",
    "offline.jobs": "count", "offline.local_path": "count",
    "offline.persist_s": "s", "offline.pass_s": "s",
    "offline.kernel.stage_s": "s", "offline.kernel.tasks": "count",
    "offline.fold.stage_s": "s", "offline.fold.shuffle_read_bytes": "bytes",
    "offline.driver_s": "s",
    "iceberg.append_s": "s", "iceberg.bytes_written": "bytes",
    "iceberg.commit_s": "s",
    "incremental.delta_build.stage_s": "s",
    "incremental.write.stage_s": "s", "incremental.merge.python_s": "s",
    "incremental.driver_s": "s",
    "incremental.groups": "count", "incremental.blob_bytes": "bytes",
    "incremental.probe.stage_s": "s", "incremental.probe.python_s": "s",
    "incremental.probe.shuffle_bytes": "bytes",
    "incremental.probe.driver_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.gc_s": "s",
    "spark.plan_s": "s",
    "op.cm_build_s": "s", "op.occm_build_s": "s", "op.append_s": "s",
    "op.refresh_s": "s", "op.probe_s": "s",
    "op.unattributed_s": "s", "op.unattributed_share_max": "ratio",
    "tracing.overhead_s": "s",
}


# Times of layers that only one workload uses, and times that read 0 on
# most runs on a 4-vCPU host. They go to the ledger and the summary line, not to the
# result line, where a time that reads 0 on every run looks made up.
LEDGER_ONLY = {
    "aggregate.preagg.gc_s", "aggregate.kernel.python_boot_s", "spark.gc_s",
    "tokenize.s", "iceberg.append_s", "iceberg.commit_s",
    "incremental.delta_build.stage_s", "incremental.write.stage_s",
    "incremental.merge.python_s", "incremental.driver_s",
    "incremental.probe.stage_s", "incremental.probe.python_s",
    "incremental.probe.driver_s", "op.append_s", "op.refresh_s",
    "op.probe_s", "offline.kernel.stage_s", "offline.fold.stage_s",
}


def _wall(stage) -> float:
    return stage["completed"] - stage["submitted"]


def _sum(stages, key) -> float:
    return float(sum(s.get(key, 0) for s in stages))


def _is_pandas(stage) -> bool:
    return "python_s" in stage


def _per_op(span) -> dict:
    """Layer values of one op span."""
    st = span["stages"]
    t = self_times(span)
    v = {"spark.jobs": len(span["jobs"]), "spark.tasks": _sum(st, "tasks"),
         "spark.gc_s": _sum(st, "gc_s"), "spark.plan_s": t["driver_before_s"]}
    name = span["name"]
    v[f"op.{name}_s"] = t["wall_s"]
    pandas = [s for s in st if _is_pandas(s)]
    feeds_fold = any(s["shuffle_write_bytes"] > 0 for s in pandas)
    kernel = [s for s in pandas if s["shuffle_write_bytes"] > 0 or not feeds_fold]
    fold = [s for s in pandas if s not in kernel]
    plain = [s for s in st if not _is_pandas(s)]
    if name == "cm_build":
        # scan, pre-aggregate | kernel (writes the fold shuffle) | fold
        plain = [s for s in st if s["input_bytes"] > 0]
        kernel = [s for s in st if s not in plain
                  and s["shuffle_write_bytes"] > 0]
        fold = [s for s in st if s not in plain and s not in kernel]
        for layer, group in (("preagg", plain), ("kernel", kernel),
                             ("fold", fold)):
            p = f"aggregate.{layer}."
            v[p + "stage_s"] = sum(map(_wall, group))
            v[p + "tasks"] = _sum(group, "tasks")
        v["aggregate.preagg.cpu_s"] = _sum(plain, "cpu_s")
        v["aggregate.preagg.gc_s"] = _sum(plain, "gc_s")
        v["aggregate.preagg.shuffle_write_bytes"] = _sum(
            plain, "shuffle_write_bytes")
        v["aggregate.kernel.rows_in"] = _sum(kernel, "shuffle_read_records")
        v["aggregate.kernel.python_s"] = _sum(kernel, "python_s")
        v["aggregate.kernel.python_boot_s"] = _sum(kernel, "python_boot_s")
        v["aggregate.kernel.arrow_bytes_in"] = _sum(kernel, "arrow_bytes_in")
        v["aggregate.fold.cpu_s"] = _sum(fold, "cpu_s")
        v["aggregate.fold.shuffle_read_bytes"] = _sum(
            fold, "shuffle_read_bytes")
        v["aggregate.driver.collect_s"] = t["driver_after_s"]
    elif name == "occm_build":
        persist = sum(map(_wall, plain))
        v["offline.jobs"] = len(span["jobs"])
        v["offline.local_path"] = 0 if pandas else 1
        v["offline.persist_s"] = persist
        v["offline.pass_s"] = (t["wall_s"] - t["driver_before_s"]
                               - persist) / ROUNDS
        v["offline.kernel.stage_s"] = sum(map(_wall, kernel))
        v["offline.kernel.tasks"] = _sum(kernel, "tasks")
        v["offline.fold.stage_s"] = sum(map(_wall, fold))
        v["offline.fold.shuffle_read_bytes"] = _sum(fold, "shuffle_read_bytes")
        v["offline.driver_s"] = t["driver_after_s"]
    elif name == "tokenize":
        v["tokenize.s"] = t["wall_s"]
    elif name == "append":
        v["iceberg.append_s"] = t["wall_s"]
        v["iceberg.bytes_written"] = _sum(st, "output_bytes")
        v["iceberg.commit_s"] = t["driver_after_s"]
    elif name == "refresh":
        write = [s for s in st if s["output_bytes"] > 0]
        v["incremental.delta_build.stage_s"] = sum(
            _wall(s) for s in st if s not in write)
        v["incremental.write.stage_s"] = sum(map(_wall, write))
        v["incremental.merge.python_s"] = _sum(write, "python_s")
        v["incremental.driver_s"] = t["driver_after_s"]
    elif name == "probe":
        v["incremental.probe.stage_s"] = sum(map(_wall, st))
        v["incremental.probe.python_s"] = _sum(st, "python_s")
        v["incremental.probe.shuffle_bytes"] = _sum(st, "shuffle_read_bytes")
        v["incremental.probe.driver_s"] = t["driver_after_s"]
    v["_unattributed_s"] = t["unattributed_s"]
    v["_wall_s"] = t["wall_s"]
    return v


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def microbench(wl) -> dict:
    """Driver-side kernel calls on the workload's own pre-aggregated
    (key, count) pairs, with the sketch configuration it builds."""
    from sketchlib.sketches.cm import CountMin, OfflineCountMin
    keys, counts, cfg = wl.keys, wl.counts, wl.cfg
    cm = CountMin(cfg)
    _, upd = _timed(lambda: cm.update_weighted(keys, counts))
    blob, to_b = _timed(cm.to_bytes)
    other, from_b = _timed(lambda: CountMin.from_bytes(blob))
    _, merge = _timed(lambda: other.merge(cm))
    _, est = _timed(lambda: cm.estimate(keys))
    v = {"sketches.cm.update_weighted_s": upd,
         "sketches.cm.keys_per_s": len(keys) / upd,
         "sketches.cm.to_bytes_s": to_b, "sketches.cm.from_bytes_s": from_b,
         "sketches.cm.merge_s": merge, "sketches.cm.estimate_s": est,
         "sketches.cm.blob_bytes": len(blob),
         "sketches.cm.fill_ratio": float(np.count_nonzero(cm.core))
         / cm.core.size}
    ocm = OfflineCountMin(cfg)

    def rounds():
        for r in range(ROUNDS):
            ocm.clear_core()
            ocm.update_count_collision_batch(keys, r, ROUNDS, weights=counts)
    _, occ = _timed(rounds)
    v["sketches.ocm.update_count_collision_s"] = occ
    v["sketches.ocm.blob_bytes"] = len(ocm.to_bytes())
    return v


def per_layer(wl, spans, cycle_s, untraced_cycle_s, setup) -> dict:
    """All per-layer metrics of one traced run."""
    values = {k: 0.0 for k in UNITS}
    ops = [(s, _per_op(s)) for s in spans if s["parent"] is None]
    by_key: dict[str, list] = {}
    for _, v in ops:
        for key, x in v.items():
            by_key.setdefault(key, []).append(x)
    # each layer key comes from one op kind: its median over those ops
    for key, xs in by_key.items():
        if key in UNITS:
            values[key] = statistics.median(xs)
    by_cycle: dict[int, dict] = {}
    for s, v in ops:
        if s["cycle"] == 0:  # an extra op outside the cycles
            continue
        c = by_cycle.setdefault(s["cycle"], {})
        for key in ("spark.jobs", "spark.tasks", "spark.gc_s",
                    "_unattributed_s"):
            c[key] = c.get(key, 0.0) + v[key]
    for key in ("spark.jobs", "spark.tasks", "spark.gc_s"):
        values[key] = statistics.median(c[key] for c in by_cycle.values())
    values["op.unattributed_s"] = statistics.median(
        c["_unattributed_s"] for c in by_cycle.values())
    values["op.unattributed_share_max"] = max(
        v["_unattributed_s"] / v["_wall_s"] for s, v in ops
        if s["name"] in ("cm_build", "occm_build", "refresh"))
    values.update(microbench(wl))
    names = {s["name"] for s, _ in ops}
    if "tokenize" in names:
        values["tokenize.rows_out"] = wl.properties()["updates"]
    if "refresh" in names:
        values["incremental.groups"], values["incremental.blob_bytes"] = (
            wl.sketch_table_size())
    values["session.jvm_start_s"] = setup["jvm_s"]
    values["session.cold_setup_s"] = setup["cold_s"]
    values["session.start_s"] = statistics.median(setup["session_s"])
    values["session.warmup_s"] = statistics.median(setup["warmup_s"])
    values["tracing.overhead_s"] = (statistics.median(cycle_s)
                                    - statistics.median(untraced_cycle_s))
    return {k: {"value": float(values[k]), "unit": UNITS[k]} for k in UNITS}
