"""Spans, job groups and Spark-side counts for the traced run.

Everything is read from outside the package: spans wrap the benchmark's
own calls into it, jobs and tasks come from Spark's status tracker by job
group, and operator metrics come from the SQL status store, which holds
the metrics of each query's final adaptive plan once the action is done.
The untraced run uses ``NullTracer``, whose spans and groups do nothing.
"""

from __future__ import annotations

import contextlib
import re
import sys
import time

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_LABEL_RE = re.compile(r'label="(.*?)"(?: tooltip|\])')


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_value(text: str) -> float | None:
    """First number of a SQL metric's display string, in bytes, seconds or
    plain units. Sizes are shown to one decimal of their unit, so byte
    figures carry that rounding."""
    m = _VALUE_RE.match(text)
    if not m:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def parse_plan_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(operator name, {metric: total}) for each operator in a plan graph's
    DOT rendering (``SparkPlanGraph.makeDotFile``)."""
    nodes = []
    for label in _LABEL_RE.findall(dot):
        m = re.search(r"<b>(.*?)</b>", label)
        if not m:
            continue  # a WholeStageCodegen cluster, not an operator
        items = [x for x in label[m.end():].split("<br>") if x]
        metrics, i = {}, 0
        while i < len(items):
            item = items[i]
            if "(min, med, max (stageId: taskId))" in item:
                # "name total (min, med, max ...)" then the values on the next line
                name = re.split(r" total \(| \(min", item)[0]
                if i + 1 < len(items):
                    val = parse_value(items[i + 1])
                    if val is not None:
                        metrics[name] = val
                i += 2
                continue
            if ": " in item:
                name, _, text = item.partition(": ")
                val = parse_value(text)
                if val is not None:
                    metrics[name] = val
            i += 1
        nodes.append((m.group(1).strip(), metrics))
    return nodes


class SparkProbe:
    """Reads Spark's status tracker, status stores and JVM counters."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the actions that just returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def execution_count(self) -> int:
        return self._sql_store.executionsCount()

    def sql_nodes(self, first: int) -> list[tuple[str, dict[str, float]]]:
        """Operators (with metrics) of every SQL execution from index
        ``first`` on, in the order they ran."""
        n = self._sql_store.executionsCount() - first
        out = []
        if n <= 0:
            return out
        execs = self._sql_store.executionsList(first, n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            dot = self._sql_store.planGraph(eid).makeDotFile(self._sql_store.executionMetrics(eid))
            out.extend(parse_plan_dot(dot))
        return out

    def jobs(self, groups) -> list[int]:
        ids = []
        for g in groups:
            ids.extend(self.sc.statusTracker().getJobIdsForGroup(g))
        return sorted(set(ids))

    def tasks(self, job_ids) -> int:
        tracker = self.sc.statusTracker()
        stages = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        total = 0
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is not None:
                total += st.numCompletedTasks
        return total

    def job_records(self, job_ids) -> list[dict]:
        """Id, call site, and submitted/completed wall-clock seconds of each
        finished job."""
        store = self._jsc.statusStore()
        out = []
        for jid in job_ids:
            data = store.job(jid)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined() and done.isDefined():
                out.append({
                    "id": jid,
                    "name": data.name(),
                    "start": sub.get().getTime() / 1e3,
                    "end": done.get().getTime() / 1e3,
                })
        return out

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3


def busy_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    busy, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            busy += b - a
            end = b
    return busy


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def job_group(self, suffix: str):
        return contextlib.nullcontext()


class Tracer:
    """Records one span per layer call: name, start, end, parent span and
    pass id, all kept in memory. ``job_group`` tags the Spark jobs started
    inside it with the current pass (and an optional call suffix)."""

    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pass_id: str | None = None
        self.groups: list[str] = []
        self._stack: list[int] = []

    def begin_pass(self, pass_id: str) -> None:
        self.pass_id = pass_id
        self.groups = []
        self._set_group(f"{pass_id}")

    def _set_group(self, group: str) -> None:
        if group not in self.groups:
            self.groups.append(group)
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def job_group(self, suffix: str):
        outer = self.pass_id
        self._set_group(f"{outer}:{suffix}")
        try:
            yield
        finally:
            self._set_group(outer)

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "pass": self.pass_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def total(self, pass_id: str, name: str) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans if s["pass"] == pass_id and s["name"] == name
        )
