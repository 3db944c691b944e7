"""Outside-in layer tracing for the benchmark.

Spans are recorded from the benchmark's own files, around its calls into
the package's public functions: ``QueryDef.fn`` (build), the op
DataFrame's Catalyst phases (plan), the timed ``noop`` write (exec),
``sources.tables.read_table``, ``plans.preview.Preview.run`` and
``catalog.Engine.*``. Nothing in the package is edited.

Jobs are attributed to spans by the DAG scheduler's job-id counter
(``dagScheduler().nextJobId()``), read at span entry and exit. That counter
also sees the jobs Structured Streaming and ``Preview`` submit under their
own job groups, which a caller-side ``setJobGroup`` misses. Stage, task and
shuffle figures come from the Spark event log: its lines are routed to
spans by job id and each slice is summarised by the repo's one event-log
parser, ``tools/query_profile.parse_eventlog``. Streaming progress comes
from a Python ``StreamingQueryListener``.

Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.job_hi - self.job_lo


class Tracer:
    """Records a span tree per op. Disabled tracers record nothing and cost
    one attribute test per boundary."""

    def __init__(self, enabled: bool):
        self.enabled = False  # records nothing until attached to a session
        self._want = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = -1
        self.overhead_s = 0.0  # time spent inside tracer bookkeeping
        self._sched = None

    def attach(self, spark) -> None:
        """Start recording against ``spark``'s scheduler (once set-up is
        done, so set-up reads are not attributed to any op)."""
        if self._want:
            self._sched = spark.sparkContext._jsc.sc().dagScheduler()
            self.enabled = True

    def job_id(self) -> int:
        return int(self._sched.nextJobId())

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sp = Span(name, self._op, self._stack[-1] if self._stack else None, 0.0,
                  attrs=attrs)
        sp.job_lo = self.job_id()
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.job_hi = self.job_id()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - sp.end

    def record_phases(self, df) -> None:
        """Plan span: force the op DataFrame's physical plan and read its
        Catalyst phase times from ``queryExecution().tracker()``.
        ``durationMs`` is not callable through py4j, so the times come
        from ``startTimeMs``/``endTimeMs``."""
        with self.span("plan") as sp:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in CATALYST_PHASES:
                opt = phases.get(ph)
                if opt.isDefined():
                    p = opt.get()
                    sp.attrs[ph + "_ms"] = p.endTimeMs() - p.startTimeMs()

    def self_time(self, i: int) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [s for s in self.spans if s.parent == i]
        return self.spans[i].s - sum(k.s for k in kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": self.self_time(i),
                    "jobs": [s.job_lo, s.job_hi], **s.attrs,
                }) + "\n")


def wrap_read_table(tables_module, tracer: Tracer):
    """Replace ``sources.tables.read_table`` with a span-recording wrapper.

    Must run BEFORE ``queries.load_all()``: every query module binds
    ``read_table`` by name at import, so a wrapper installed later would
    record nothing."""
    inner = tables_module.read_table

    def read_table(spark, sf_dir, name):
        with tracer.span("read_table", table=name):
            return inner(spark, sf_dir, name)

    tables_module.read_table = read_table
    return inner


class ProgressListener(StreamingQueryListener):
    """Collects streaming progress. Listener events arrive asynchronously
    on the callback thread, so ``wait_idle`` blocks until every started
    query has reported its termination (its progress events come first on
    the same bus)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started = 0
        self.terminated = 0
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        st = p.stateOperators or []
        with self.lock:
            self.progress.append({
                "id": str(p.id),
                "rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                "state_rows": sum(s.numRowsTotal for s in st),
                "state_mem": sum(s.memoryUsedBytes for s in st),
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1

    def wait_idle(self, timeout_s: float = 30.0) -> None:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self.lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.05)

    def summary(self) -> dict:
        with self.lock:
            prog = list(self.progress)
            queries = self.started
        # state size: the last progress of each query, summed over queries
        last: dict[str, dict] = {}
        for p in prog:
            last[p["id"]] = p
        return {
            "streaming.queries": queries,
            "streaming.batches": len(prog),
            "streaming.empty_batches": sum(1 for p in prog if p["rows"] == 0),
            "streaming.input_rows": sum(p["rows"] for p in prog),
            "streaming.trigger_ms": sum(p["trigger_ms"] for p in prog),
            "streaming.add_batch_ms": sum(p["add_batch_ms"] for p in prog),
            "streaming.query_planning_ms": sum(p["query_planning_ms"] for p in prog),
            "streaming.commit_ms": sum(p["commit_ms"] for p in prog),
            "streaming.state_rows": sum(p["state_rows"] for p in last.values()),
            "streaming.state_mem_mb": sum(p["state_mem"] for p in last.values()) / 1e6,
        }


_JOB_ID = re.compile(r'"Job ID":(\d+)')
_STAGE_ID = re.compile(r'"Stage ID":(\d+)')
_STAGE_IDS = re.compile(r'"Stage IDs":\[([0-9,]*)\]')


def slice_eventlog(path: str, groups: dict[str, tuple[int, int]],
                   out_dir: str) -> dict[str, tuple[str, int]]:
    """Route event-log lines to groups given as job-id ranges ``[lo, hi)``.

    Each group gets the job start/end, stage and task lines of its jobs,
    written to its own file for ``parse_eventlog``. Returns
    ``{group: (slice path, failed task count)}``. Only ids are read from
    the lines; every metric comes from ``parse_eventlog``."""
    owner = {j: g for g, (lo, hi) in groups.items() for j in range(lo, hi)}
    stage_owner: dict[int, str] = {}
    lines: dict[str, list[str]] = defaultdict(list)
    failed: dict[str, int] = defaultdict(int)
    with open(path) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerJobStart"'):
                g = owner.get(int(_JOB_ID.search(line).group(1)))
                if g is None:
                    continue
                ids = _STAGE_IDS.search(line).group(1)
                for sid in filter(None, ids.split(",")):
                    stage_owner[int(sid)] = g
                lines[g].append(line)
            elif line.startswith('{"Event":"SparkListenerJobEnd"'):
                g = owner.get(int(_JOB_ID.search(line).group(1)))
                if g is not None:
                    lines[g].append(line)
            elif line.startswith(('{"Event":"SparkListenerStageCompleted"',
                                  '{"Event":"SparkListenerTaskEnd"')):
                g = stage_owner.get(int(_STAGE_ID.search(line).group(1)))
                if g is None:
                    continue
                lines[g].append(line)
                if ('SparkListenerTaskEnd' in line[:40]
                        and '"Task End Reason":{"Reason":"Success"' not in line):
                    failed[g] += 1
    out = {}
    for g in groups:
        p = os.path.join(out_dir, f"slice-{g}.evlog")
        with open(p, "w") as fh:
            fh.writelines(lines.get(g, ()))
        out[g] = (p, failed.get(g, 0))
    return out
