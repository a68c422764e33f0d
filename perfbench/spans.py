"""Per-layer spans, attributed from Spark's own status stores.

A span wraps one call into a package module's public function.  While it is
open, the span's Spark job group is set, so every job the call runs carries
the group.  After the op, :meth:`Tracer.collect` reads the in-process status
stores once (the UI is off; the stores are still kept):

- ``AppStatusStore.jobsList`` / ``stageList`` give each job's group, interval
  and stages, and each stage's task count, executor cpu, GC time, shuffle
  write bytes and spill;
- the SQL status store's plan graphs and ``executionMetrics`` give the
  Python-boundary cost: ``time to ... Python workers`` and ``data sent to /
  returned from Python workers`` on UDF nodes, and the same byte counters
  on Python data-source scans (``BatchScan tikv_scandump``).  Those scans
  report no worker time, so their ``python_worker_s`` is the duration of
  the whole-stage-codegen stage that reads them, which bounds the Python
  reader's time.  Scan-node metrics go to the ``sources.scandump`` layer,
  not to the span whose query contains the scan.

:func:`session_span` measures a ``get_spark`` call the same way: every job
and SQL execution of a fresh context up to that point belongs to it.

Spans stay in memory; the caller writes them out at run end.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import time
from dataclasses import dataclass, field

COUNTERS = (
    "wall_s",
    "self_s",
    "driver_s",
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_worker_s",
    "python_bytes",
)
SCANDUMP = "sources.scandump"
_SCANDUMP_NODE = "BatchScan tikv_scandump"


@dataclass(eq=False)
class Span:
    sid: int
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str = ""
    jobs: list = field(default_factory=list)  # (submission_s, completion_s)
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric: ``'4,568'``, ``'2.6 s'``, ``'75.0 KiB'``,
    or the multi-task form ``'total (min, med, max ...)\\n<total> (...)'``
    (seconds for times, bytes for sizes)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Tracer:
    """Spans for one traced run.  ``enabled=False`` makes :meth:`span` a
    plain no-op, so untraced ops run the same code with no job groups."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.spark = spark
        self.sc = spark.sparkContext
        self._seen_jobs = -1
        self._seen_execs = 0
        self._mapper = None

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        group = f"perfbench-{next(self._ids)}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, layer, time.time(), parent=parent, group=group)
        self.spans.append(sp)
        self._stack.append(sid)
        self.sc.setJobGroup(group, layer, False)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer.group, outer.layer, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ---------------------------------------------------------------- stores

    def _json(self, obj):
        if self._mapper is None:
            jvm = self.sc._jvm
            mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            mapper.registerModule(getattr(scala, "MODULE$"))
            self._mapper = mapper
        return json.loads(self._mapper.writeValueAsString(obj))

    def collect(self, spans: list[Span], default: Span | None = None) -> None:
        """Fill ``counts`` of ``spans`` from the status stores (call after
        the op, outside its timing).  Jobs outside every span's group go to
        ``default`` when given."""
        by_group = {s.group: s for s in spans}
        for s in spans:
            s.counts = dict.fromkeys(COUNTERS, 0.0)
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        jobs = [j for j in self._json(store.jobsList(None)) if j["jobId"] > self._seen_jobs]
        if jobs:
            self._seen_jobs = max(j["jobId"] for j in jobs)
        stage_owner = {}
        job_owner = {}
        for j in jobs:
            sp = by_group.get(j.get("jobGroup"), default)
            if sp is None:
                continue
            job_owner[j["jobId"]] = sp
            sp.counts["jobs"] += 1
            done = j.get("completionTime") or time.time() * 1000
            sp.jobs.append((j["submissionTime"] / 1000.0, done / 1000.0))
            for sid in j["stageIds"]:
                stage_owner[sid] = sp
        if stage_owner:
            stages = self._json(
                store.stageList(
                    jvm.java.util.ArrayList(), False, False,
                    self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
                )
            )
            for st in stages:
                sp = stage_owner.get(st["stageId"])
                if sp is None or st["status"] == "SKIPPED":
                    continue
                c = sp.counts
                c["stages"] += 1
                c["tasks"] += st["numCompleteTasks"]
                c["task_cpu_s"] += st["executorCpuTime"] / 1e9
                c["gc_s"] += st["jvmGcTime"] / 1e3
                c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
        self._collect_sql(job_owner, by_group)
        for s in spans:
            s.counts["wall_s"] = s.wall
            s.counts["driver_s"] = s.wall - union_length(
                (max(a, s.start), min(b, s.end)) for a, b in s.jobs if b > s.start and a < s.end
            )
            kids = [(k.start, k.end) for k in spans if k.parent == s.sid]
            s.counts["self_s"] = s.wall - union_length(kids)

    def _collect_sql(self, job_owner: dict, by_group: dict) -> None:
        sq = self.spark._jsparkSession.sharedState().statusStore()
        n = sq.executionsCount()
        if n == self._seen_execs:  # executionsList refuses a count of 0
            return
        execs = sq.executionsList(self._seen_execs, n - self._seen_execs)
        self._seen_execs = n
        scandump = next((s for s in by_group.values() if s.layer == SCANDUMP), None)
        for i in range(execs.size()):
            e = execs.apply(i)
            owners = {job_owner.get(int(j)) for j in _scala_keys(e.jobs())} - {None}
            if not owners:
                continue
            owner = min(owners, key=lambda s: s.start)
            values = sq.executionMetrics(e.executionId())
            graph = sq.planGraph(e.executionId())
            nodes = [graph.allNodes().apply(k) for k in range(graph.allNodes().size())]
            metrics = {node.id(): _node_metrics(node, values) for node in nodes}
            plan = _Plan(nodes, graph.edges(), metrics)
            scan_ids = {n.id() for n in nodes if n.name() == _SCANDUMP_NODE}
            readers = {p for s in scan_ids for p in plan.parents[s]} | scan_ids
            for node in nodes:
                nid = node.id()
                is_scan = nid in scan_ids
                target = scandump if (is_scan and scandump is not None) else owner
                for name, text in metrics[nid].items():
                    if "Python workers" not in name:
                        continue
                    v = metric_value(text)
                    key = "python_worker_s" if name.startswith("time") else "python_bytes"
                    target.counts[key] += v
                if is_scan:
                    _add(target, "input_rows", plan.rows(nid))
                if node.getClass().getSimpleName() == "SparkPlanGraphCluster":
                    members = node.nodes()
                    if any(members.apply(m).id() in readers for m in range(members.size())):
                        (scandump or owner).counts["python_worker_s"] += metric_value(
                            metrics[nid].get("duration", "0")
                        )
            # a full-outer join below a broadcast is a checksum-localization
            # join (targeted_diff's per-bucket triples): the broadcast carries
            # the mismatched buckets; any other full-outer join is a row diff
            joins = {n.id() for n in nodes if n.name().endswith("Join") and "FullOuter" in n.desc()}
            localized = set()
            for node in nodes:
                if node.name() == "BroadcastExchange":
                    below = plan.descendants(node.id()) & joins
                    if below:
                        localized |= below
                        _max(owner, "mismatched_buckets", plan.rows(node.id()))
            for j in joins - localized:
                _add(owner, "join_input_rows", sum(plan.first_rows(c) for c in plan.children[j]))


class _Plan:
    """One SQL execution's plan graph: edges run child -> parent."""

    def __init__(self, nodes, edges, metrics: dict):
        self.metrics = metrics
        self.children = {n.id(): [] for n in nodes}
        self.parents = {n.id(): [] for n in nodes}
        for k in range(edges.size()):
            e = edges.apply(k)
            self.children.setdefault(e.toId(), []).append(e.fromId())
            self.parents.setdefault(e.fromId(), []).append(e.toId())

    def rows(self, nid) -> float:
        return metric_value(self.metrics.get(nid, {}).get("number of output rows", "0"))

    def first_rows(self, nid) -> float:
        """Rows flowing out of ``nid``: its own row count, or the shuffle
        records its exchange wrote, else the first such count below it."""
        m = self.metrics.get(nid, {})
        for name in ("number of output rows", "shuffle records written"):
            if name in m:
                return metric_value(m[name])
        return sum(self.first_rows(c) for c in self.children.get(nid, ()))

    def descendants(self, nid) -> set:
        out, todo = set(), list(self.children.get(nid, ()))
        while todo:
            c = todo.pop()
            if c not in out:
                out.add(c)
                todo.extend(self.children.get(c, ()))
        return out


def _add(span: Span, key: str, v: float) -> None:
    span.counts[key] = span.counts.get(key, 0.0) + v


def _max(span: Span, key: str, v: float) -> None:
    span.counts[key] = max(span.counts.get(key, 0.0), v)


def session_span(spark, start: float, end: float) -> Span:
    """The ``session`` span of a ``get_spark`` call that ran from ``start``
    to ``end`` (epoch seconds) and created ``spark``'s context."""
    sp = Span(0, "session", start, end, group="")
    Tracer(spark, enabled=True).collect([sp], default=sp)
    return sp


def _scala_keys(m) -> list:
    it = m.keys().iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _node_metrics(node, values) -> dict:
    out = {}
    ms = node.metrics()
    for i in range(ms.size()):
        m = ms.apply(i)
        v = values.get(m.accumulatorId())
        if v.isDefined():
            out[m.name()] = v.get()
    return out
