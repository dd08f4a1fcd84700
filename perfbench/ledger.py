"""Traced-run ledger: spans from the benchmark side, stage metrics from Spark.

Each public library call the benchmark makes runs inside a span. The
span id becomes the Spark job group, so every job the call starts can be
found again with ``statusTracker().getJobIdsForGroup`` and every stage of
those jobs read from ``statusStore().lastStageAttempt``. The SQL plan
metrics of the pandas-UDF nodes (Python time, Arrow bytes) come from the
SQL status store of the executions that ran those jobs.

Spans and stage records are kept in memory and written out once, after
the measured loop.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

PANDAS_NODES = ("MapInPandas", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas")
PY_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "arrow_bytes_in",
    "data returned from Python workers": "arrow_bytes_out",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1,
          "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"([0-9.]+) (ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")
_STAGE = re.compile(r"stage (\d+)\.\d+:")


def parse_metric(text: str) -> tuple[float, int | None]:
    """``(total, stage)`` from a formatted SQL metric such as
    ``'total (min, med, max (stageId: taskId))\\n3.2 s (..., (stage 12.0:
    task 22))'``; the stage is the one that ran the slowest task."""
    last = text.strip().splitlines()[-1]
    m = _VALUE.search(last)
    st = _STAGE.search(last)
    return (float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0,
            int(st.group(1)) if st else None)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_s(opt) -> float | None:
    """Seconds since the epoch of a Scala ``Option[Date]``, or None."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


class Tracer:
    """Spans around library calls, each its own Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"span-{len(self.spans)}", "name": name, "op": op,
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self) -> list[dict]:
        """Attach to each span its jobs and their completed stages, with
        the SQL plan metrics of the pandas nodes that ran in each stage."""
        store = self.sc._jsc.sc().statusStore()
        stages: dict[int, dict] = {}
        for rec in self.spans:
            rec["jobs"] = sorted(self.sc.statusTracker()
                                 .getJobIdsForGroup(rec["id"]))
            rec["stages"], rec["job_times"] = [], []
            for job in rec["jobs"]:
                jd = store.job(job)
                if jd.completionTime().isDefined():
                    rec["job_times"].append(
                        {"job": job, "submitted": _opt_s(jd.submissionTime()),
                         "completed": _opt_s(jd.completionTime())})
                for sid in _iter(jd.stageIds()):
                    st = _stage(store, sid, job)
                    if st is not None:
                        stages[sid] = st
                        rec["stages"].append(st)
            rec["stages"].sort(key=lambda s: s["stage"])
        self._python_metrics(stages)
        return self.spans

    def _python_metrics(self, stages: dict[int, dict]) -> None:
        """Add the pandas-node SQL metrics to the stage that ran them.

        A metric over several tasks names the stage of its slowest task.
        A single-task metric names none; it goes to the execution's one
        single-task stage that no other pandas node claimed and, if that
        leaves several, that reads no input files."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _iter(sql.executionsList()):
            ex_stages = [stages[s] for s in _iter(ex.stages()) if s in stages]
            if not ex_stages:
                continue
            values = sql.executionMetrics(ex.executionId())
            claimed, unplaced = set(), []
            for node in _iter(sql.planGraph(ex.executionId()).allNodes()):
                if node.name() not in PANDAS_NODES:
                    continue
                parsed = {}
                for m in _iter(node.metrics()):
                    key = PY_METRICS.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        parsed[key] = parse_metric(v.get())
                named = {s for _, s in parsed.values() if s in stages}
                if len(named) == 1:
                    sid = named.pop()
                    claimed.add(sid)
                    _add(stages[sid], parsed)
                else:
                    unplaced.append(parsed)
            single = [s for s in ex_stages
                      if s["tasks"] == 1 and s["stage"] not in claimed]
            if len(single) > 1:  # a pandas node runs after an exchange
                single = [s for s in single if s["input_bytes"] == 0]
            if len(unplaced) == 1 and len(single) == 1:
                _add(single[0], unplaced[0])


def _stage(store, sid: int, job: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(sid)
    except Exception:  # noqa: BLE001 - never attempted: a skipped stage
        return None
    if sd.status().toString() != "COMPLETE":
        return None
    return {"stage": sid, "job": job, "name": sd.name(),
            "submitted": _opt_s(sd.submissionTime()),
            "completed": _opt_s(sd.completionTime()),
            "tasks": sd.numTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_bytes": sd.inputBytes(),
            "output_bytes": sd.outputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_read_records": sd.shuffleReadRecords(),
            "shuffle_write_bytes": sd.shuffleWriteBytes()}


def _add(stage: dict, parsed: dict) -> None:
    stage["pandas_nodes"] = stage.get("pandas_nodes", 0) + 1
    for key, (total, _) in parsed.items():
        stage[key] = stage.get(key, 0.0) + total


def self_times(span: dict) -> dict:
    """Split a span's wall time into driver time outside its jobs (before
    the first job, and after or between jobs), stage time (the union of
    its stage intervals) and the remainder: job time no stage covers."""
    lo, hi = span["start"], span["end"]
    jobs = [(j["submitted"], j["completed"]) for j in span["job_times"]]
    stages = [(s["submitted"], s["completed"]) for s in span["stages"]]
    in_jobs = _union_len(jobs, lo, hi)
    in_stages = _union_len(stages, lo, hi)
    before = min([a for a, _ in jobs] + [hi]) - lo
    wall = hi - lo
    return {"wall_s": wall, "stage_s": in_stages,
            "driver_before_s": max(0.0, before),
            "driver_after_s": max(0.0, wall - in_jobs - max(0.0, before)),
            "unattributed_s": max(0.0, in_jobs - in_stages)}


def _union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
