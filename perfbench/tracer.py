"""Spans around the benchmark's calls into the library, plus Spark counters.

Two implementations share one interface:

* :class:`NullTracer` (``--trace 0``) calls straight through. It makes no
  py4j call of its own, sets no job group and reads no status store, so an
  op costs exactly what an uninstrumented loop costs.
* :class:`Tracer` (``--trace 1``) keeps a span tree per op in memory:
  one span per library call (named after the layer, e.g. ``plans`` or
  ``operators.spatial_knn``), ``catalyst.plan`` (forcing
  ``queryExecution().executedPlan()``, the lazy value the action then
  reuses) and ``spark.execute`` (the action). It counts py4j round trips by
  wrapping the gateway client, tags every op's jobs with a job group, and
  after the op reads the in-process ``AppStatusStore`` (which works with
  the UI disabled) for job, stage and task counters. Jobs are attributed
  to the innermost span that was open when they were submitted.

All tracer bookkeeping that talks to the JVM runs with the py4j counter
paused and outside the op's timed interval.
"""

from __future__ import annotations

import hashlib
import re
import time
from contextlib import contextmanager

from py4j import protocol as proto
from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    ("spill_bytes", "memoryBytesSpilled", 1),
)

# py4j releases a Python-side JVM reference with this command whenever the
# Python garbage collector runs; it is not a call the code made, so it is
# never counted
RELEASE_COMMAND = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

_TREE_PREFIX = re.compile(r"^[\s:+\-|]*")
_CODEGEN = re.compile(r"^\*\(\d+\)\s*")
_OP_NAME = re.compile(r"^[A-Za-z][A-Za-z0-9_]*")


def plan_fingerprint(plan_text: str) -> str:
    """md5 of the physical operator sequence (tree depth + operator name).

    Expression ids, plan ids, literals and codegen stage numbers never
    reach the digest, so the same query shape hashes the same across
    seeds and runs."""
    ops = []
    for line in plan_text.splitlines():
        prefix = _TREE_PREFIX.match(line).group(0)
        body = _CODEGEN.sub("", line[len(prefix):])
        name = _OP_NAME.match(body)
        if name:
            ops.append(f"{len(prefix) // 3}:{name.group(0)}")
    return hashlib.md5("\n".join(ops).encode()).hexdigest()


class NullTracer:
    """Tracing off: every hook is a plain call."""

    enabled = False

    @contextmanager
    def op(self, template: str):
        yield

    def call(self, layer: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    def collect(self, df):
        return df.collect()

    def explain(self, df) -> None:
        pass

    def note(self, key: str, value: float) -> None:
        pass


class Span:
    __slots__ = ("name", "start", "end", "parent", "py4j", "children")

    def __init__(self, name, start, parent, py4j):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.py4j = py4j
        self.children = []


class Tracer:
    """Tracing on. Holds every op record in memory; the runner writes them out at the end."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.records: list[dict] = []
        self.py4j_calls = 0
        self._counting = True
        self._stack: list[Span] = []
        self._actions: list = []
        self._notes: dict[str, float] = {}
        self._seq = 0
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if self._counting and not command.startswith(RELEASE_COMMAND):
                self.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted
        self._client, self._send = client, send

    def close(self) -> None:
        self._client.send_command = self._send

    @contextmanager
    def _uncounted(self):
        self._counting = False
        try:
            yield
        finally:
            self._counting = True

    # -- spans ---------------------------------------------------------------

    def _push(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.time(), parent, self.py4j_calls)
        if parent is not None:
            parent.children.append(span)
        self._stack.append(span)
        return span

    def _pop(self, span: Span) -> None:
        span.end = time.time()
        span.py4j = self.py4j_calls - span.py4j
        self._stack.pop()

    @contextmanager
    def op(self, template: str):
        self._seq += 1
        group = f"perfbench-{self._seq}"
        with self._uncounted():
            self.sc.setJobGroup(group, template, False)
        self._actions, self._notes = [], {}
        root = self._push("op")
        failed = True
        try:
            yield
            failed = False
        finally:
            self._pop(root)
            with self._uncounted():
                self.records.append(self._record(template, group, root, failed))
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, layer: str, fn, *args, **kwargs):
        span = self._push(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self._pop(span)

    def collect(self, df):
        span = self._push("catalyst.plan")
        try:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        finally:
            self._pop(span)
        span = self._push("spark.execute")
        try:
            rows = df.collect()
        finally:
            self._pop(span)
        self._actions.append((qe, span, len(rows)))
        return rows

    def explain(self, df) -> None:
        """Fingerprint the plan of a frame the op writes rather than collects."""
        self._actions.append((df._jdf.queryExecution(), None, 0))

    def note(self, key: str, value: float) -> None:
        """Attach a workload-computed layer counter to the current op."""
        self._notes[key] = value

    # -- status store --------------------------------------------------------

    def _jobs(self, group: str) -> list[dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid,
                "submit": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "complete": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": 0,
                "tasks": 0,
                **{name: 0 for name, _, _ in STAGE_FIELDS},
            }
            sids = jd.stageIds()
            for i in range(sids.length()):
                try:
                    st = store.lastStageAttempt(sids.apply(i))
                except Py4JJavaError:  # a stage that never got an attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                job["stages"] += 1
                job["tasks"] += st.numTasks()
                for name, getter, scale in STAGE_FIELDS:
                    job[name] += getattr(st, getter)() * scale
            jobs.append(job)
        return jobs

    @staticmethod
    def _plan_nodes(node):
        """Yield every physical node, descending into AQE query stages."""
        name = node.getClass().getSimpleName()
        yield name, node
        if name == "AdaptiveSparkPlanExec":
            yield from Tracer._plan_nodes(node.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            yield from Tracer._plan_nodes(node.plan())
        children = node.children()
        for i in range(children.length()):
            yield from Tracer._plan_nodes(children.apply(i))

    @staticmethod
    def _metric(node, key: str):
        m = node.metrics().get(key)
        return m.get().value() if m.isDefined() else None

    def _plan_counters(self, qe) -> dict:
        """Scan and join row counters from an executed plan."""
        out = {"files_read": 0, "join_rows_max": 0}
        for name, node in self._plan_nodes(qe.executedPlan()):
            if name in ("FileSourceScanExec", "BatchScanExec"):
                out["files_read"] += self._metric(node, "numFiles") or 0
            elif name.endswith("JoinExec") and "Cartesian" not in name:
                rows = self._metric(node, "numOutputRows") or 0
                out["join_rows_max"] = max(out["join_rows_max"], rows)
        return out

    def _record(self, template: str, group: str, root: Span, failed: bool) -> dict:
        jobs = self._jobs(group)
        spans = []

        def flatten(span, parent_idx):
            idx = len(spans)
            child_time = sum(c.end - c.start for c in span.children)
            child_py4j = sum(c.py4j for c in span.children)
            spans.append({
                "name": span.name,
                "parent": parent_idx,
                "start": span.start,
                "end": span.end,
                "self_s": (span.end - span.start) - child_time,
                "self_py4j": span.py4j - child_py4j,
                "jobs": 0,
            })
            for c in span.children:
                flatten(c, idx)

        flatten(root, None)
        # a job belongs to the innermost span open at its submission
        for job in jobs:
            owner = 0
            if job["submit"] is not None:
                for i, s in enumerate(spans):
                    if s["start"] <= job["submit"] <= s["end"]:
                        owner = i
            job["span"] = owner
            spans[owner]["jobs"] += 1
        intervals = sorted(
            (max(j["submit"], root.start), min(j["complete"], root.end))
            for j in jobs if j["submit"] is not None and j["complete"] is not None
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        wall = root.end - root.start
        rec = {
            "template": template,
            "failed": failed,
            "wall_s": wall,
            "spans": spans,
            "jobs": jobs,
            "driver_gap_s": max(0.0, wall - busy),
            "collect_rows": 0,
            "collect_s": 0.0,
            "fingerprint": None,
            "plan": {"files_read": 0, "join_rows_max": 0},
            "notes": dict(self._notes),
        }
        prints = []
        for qe, span, nrows in self._actions:
            if span is not None:
                done = [
                    j["complete"] for j in jobs
                    if j["complete"] is not None and span.start <= j["submit"] <= span.end
                ]
                rec["collect_rows"] += nrows
                rec["collect_s"] += max(0.0, span.end - max(done)) if done else 0.0
            plan = qe.executedPlan()
            initial = (
                plan.initialPlan()
                if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec"
                else plan
            )
            prints.append(plan_fingerprint(initial.toString()))
            counters = self._plan_counters(qe)
            rec["plan"]["files_read"] += counters["files_read"]
            rec["plan"]["join_rows_max"] = max(
                rec["plan"]["join_rows_max"], counters["join_rows_max"]
            )
        if prints:
            rec["fingerprint"] = hashlib.md5(" ".join(prints).encode()).hexdigest()
        return rec
