"""Layer spans with Spark counters attributed to them.

A span wraps one call into a layer's public function. Entering a span
sets a fresh Spark job group, so every job the call submits (including
broadcast and adaptive-execution jobs, which inherit the submitting
thread's properties) is tagged with it. After a pass, ``collect`` reads
the jobs of each span from Spark's status store, which works with the
UI disabled, and turns them into per-layer counters.

``self_s`` is a span's wall time minus the part of it covered by the
union of its jobs' [submit, complete] intervals: the time the layer
spends in driver-side Python and JVM planning rather than waiting on
Spark jobs.

Spans are kept in memory; ``dump`` writes them out once, at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

JOIN_NODES = ("Join", "CartesianProduct")


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, layer: str, op: str | None = None):
        yield

    def add(self, layer: str, key: str, value: float) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pass_no = 0
        self._seq = 0
        self._last_execution = self._max_execution_id()
        self.extra: dict[tuple[str, str], float] = {}

    # -- recording ---------------------------------------------------------

    @contextmanager
    def span(self, layer: str, op: str | None = None):
        """Spans do not nest: the workloads call one layer at a time."""
        self._seq += 1
        group = f"perfbench-{self.pass_no}-{self._seq}"
        self.sc.setJobGroup(group, layer, False)
        rec = {"layer": layer, "op": op, "group": group, "pass": self.pass_no,
               "start": time.time()}
        try:
            yield
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def add(self, layer: str, key: str, value: float) -> None:
        """A layer-specific count measured by the workload itself."""
        k = (layer, key)
        self.extra[k] = self.extra.get(k, 0.0) + value

    # -- attribution -------------------------------------------------------

    def _max_execution_id(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def _join_rows_by_job(self) -> dict[int, int]:
        """Summed numOutputRows of join nodes per SQL execution started
        since the last call, keyed by each of the execution's job ids."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out: dict[int, int] = {}
        newest = self._last_execution
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._last_execution:
                break
            newest = max(newest, eid)
            metrics = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            rows = 0
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not any(j in node.name() for j in JOIN_NODES):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() == "number of output rows":
                        v = metrics.get(metric.accumulatorId())
                        if v.isDefined():
                            rows += int(str(v.get()).replace(",", ""))
            it = ex.jobs().keySet().iterator()
            while it.hasNext():
                out[int(it.next())] = rows
                rows = 0  # count an execution once, on its first job
        self._last_execution = newest
        return out

    def collect(self) -> dict[str, dict[str, float]]:
        """Per-layer counters for the spans of the current pass."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        join_rows = self._join_rows_by_job()
        layers: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            if sp["pass"] != self.pass_no:
                continue
            agg = layers.setdefault(sp["layer"], {})
            wall = sp["end"] - sp["start"]
            intervals = []
            stages: set[int] = set()
            c = {"jobs": 0, "tasks": 0, "stages": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
                 "join_rows": 0}
            for jid in tracker.getJobIdsForGroup(sp["group"]):
                c["jobs"] += 1
                c["join_rows"] += join_rows.get(int(jid), 0)
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    intervals.append((jd.submissionTime().get().getTime() / 1000.0,
                                      jd.completionTime().get().getTime() / 1000.0))
                sids = jd.stageIds()
                for i in range(sids.size()):
                    stages.add(int(sids.apply(i)))
            for sid in stages:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["input_bytes"] += st.inputBytes()
            covered = _covered(intervals, sp["start"], sp["end"])
            c["wall_s"] = wall
            c["self_s"] = max(0.0, wall - covered)
            if sp["op"] and sp["op"].startswith("read"):
                c["read_input_bytes"] = c["input_bytes"]
            for k, v in c.items():
                agg[k] = agg.get(k, 0) + v
        for (layer, key), v in self.extra.items():
            layers.setdefault(layer, {})[key] = v
        self.extra = {}
        return layers

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
