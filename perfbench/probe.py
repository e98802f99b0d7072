"""Outside-in measurement: spans, process-tree memory, Spark's status stores.

Nothing here touches the package.  Spans wrap the benchmark's own calls into
the package's public functions; counters come from the JVM's SQL and app
status stores (populated with ``spark.ui.enabled=false``) and from
``StreamingQuery.recentProgress``.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import uuid

import numpy as np


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------
def pct(values, q: float, weights=None) -> float:
    """The *q*-th percentile (0..100) of *values*, each counted *weights*
    times; 0.0 for no samples."""
    v = np.asarray(values, dtype=float)
    if v.size == 0:
        return 0.0
    if weights is None:
        return float(np.percentile(v, q))
    w = np.asarray(weights, dtype=float)
    order = np.argsort(v)
    v, cw = v[order], np.cumsum(w[order])
    return float(v[min(len(v) - 1, int(np.searchsorted(cw, q / 100.0 * cw[-1])))])


def median(values) -> float:
    return pct(values, 50)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once at
    the end.  Disabled, ``span`` is a no-op so timed runs pay nothing."""

    def __init__(self, enabled: bool, run_id: str | None = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.attached: dict[str, object] = {}  # raw counters written with the spans
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack.__dict__.setdefault("s", [])
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, module, attr: str) -> None:
        """Replace ``module.attr`` by a spanned twin (callers resolve the name
        through the module at call time, so no package code changes)."""
        fn = getattr(module, attr)
        label = f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        def spanned(*a, **kw):
            with self.span(label):
                return fn(*a, **kw)

        spanned.__wrapped__ = fn
        setattr(module, attr, spanned)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"])

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **self.attached, **extra}, fh)


# ---------------------------------------------------------------------------
# process tree memory (no psutil here: read /proc)
# ---------------------------------------------------------------------------
_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list[int]:
    """Live descendant pids of *root*."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (JVM, Python
    workers) every *period* seconds."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.samples: list[int] = []
        self.times: list[float] = []  # epoch s of each sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.times.append(time.time())
            self.samples.append(tree_rss_bytes(me))
            self._stop.wait(self.period)

    def between(self, t0: float, t1: float) -> list[int]:
        """Samples taken from epoch *t0* to *t1*."""
        return [b for t, b in zip(self.times, self.samples) if t0 <= t <= t1]

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------
_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000,
}
_NUM = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Numeric value of one SQL metric string: bytes for sizes, ms for
    timings.  Aggregated forms put the total on the line after the header."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


# SQL metric name -> per-layer counter (summed over executions)
SQL_METRICS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "shuffle bytes written": "shuffle_bytes",
    "spill size": "spill_bytes",
}


class SparkStores:
    """Reads the SQL status store (per-execution node metrics) and the app
    status store (per-stage task time) through py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.cc = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()

    def last_execution_id(self) -> int:
        execs = self.cc.asJava(self.sql.executionsList())
        return max((e.executionId() for e in execs), default=-1)

    def sql_metrics(self, after_id: int) -> dict[str, float]:
        """SQL_METRICS summed over executions with id > *after_id*."""
        out = dict.fromkeys(SQL_METRICS.values(), 0.0)
        for e in self.cc.asJava(self.sql.executionsList()):
            if e.executionId() <= after_id:
                continue
            vals = self.cc.asJava(self.sql.executionMetrics(e.executionId()))
            for m in self.cc.asJava(e.metrics()):
                key = SQL_METRICS.get(m.name())
                if key:
                    out[key] += parse_metric(vals.get(m.accumulatorId()))
        return out

    def max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def _stages(self):
        empty = self.jvm.java.util.ArrayList()
        q = self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)
        return self.cc.asJava(self.app.stageList(empty, False, False, q, empty))

    def task_seconds(self, after_stage: int) -> float:
        """Summed task run time of the stages with id > *after_stage*."""
        return sum(s.executorRunTime() for s in self._stages() if s.stageId() > after_stage) / 1000.0

    def max_job_id(self) -> int:
        empty = self.jvm.java.util.ArrayList()
        return max((j.jobId() for j in self.cc.asJava(self.app.jobsList(empty))), default=-1)


def plan_metrics(jvm, jplan) -> dict[str, float]:
    """SQL_METRICS read from the accumulators of an executed physical plan.

    A streaming micro-batch runs its jobs under the sink's own execution, so
    the SQL status store files the stateful operator's metrics under neither;
    reading the plan of ``StreamingQuery.lastExecution`` gets them."""
    cc = jvm.scala.jdk.javaapi.CollectionConverters
    out = dict.fromkeys(SQL_METRICS.values(), 0.0)
    todo = [jplan]
    while todo:
        node = todo.pop()
        for m in cc.asJava(node.metrics()).values():
            name = m.name()
            key = SQL_METRICS.get(name.get()) if name.isDefined() else None
            if key:
                scale = 1e-6 if m.metricType() == "nsTiming" else 1.0
                out[key] += m.value() * scale
        todo.extend(cc.asJava(node.children()))
    return out


def progress_rows(query) -> list[dict]:
    """``recentProgress`` as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]
