"""Spans recorded from outside the package, and Spark's own counters
attributed to the layers.

Layers are the package's modules: ``core``, ``operators``,
``functions``, ``sources`` and ``streaming``.  A span is named
``<layer>.<module>``; ``bench.*`` spans are the benchmark's own work
and belong to no layer.

Two sources of numbers:

* spans the benchmark records around its calls into a layer, plus —
  while tracing — around the public functions and mapper ``apply``
  methods the package calls internally (``INSTRUMENTED``), wrapped at
  run time from this file, and counts of calls and true results of the
  predicates in ``COUNTED``;
* Spark's status store (jobs, stages) and SQL status store (plan-node
  metrics), which work with the UI disabled.  A Spark job belongs to
  the innermost span open when it was submitted.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = ("core", "operators", "functions", "sources", "streaming")

# (module, class or None, attribute, span name): package entry points
# the workloads reach only through other package code
INSTRUMENTED = (
    ("smashed_spark.sources.cache", None, "run_with_cache", "sources.cache"),
    ("smashed_spark.operators.filters", "FilterMapper", "apply", "operators.filters"),
    ("smashed_spark.operators.hf_tokenize", "TokenizerMapper", "apply", "operators.hf_tokenize"),
    ("smashed_spark.operators.shape", "SingleSequenceStriderMapper", "apply", "operators.shape"),
    ("smashed_spark.functions.packing", "PackSequencesMapper", "apply", "functions.packing"),
    ("smashed_spark.functions.dedup", None, "dedup_incremental", "functions.dedup"),
    ("smashed_spark.functions.dedup", None, "dedup_incremental_fuzzy", "functions.dedup"),
    ("smashed_spark.streaming.ingest", None, "ingest_dedup_batch", "streaming.ingest"),
    ("smashed_spark.streaming.snapshot_sink", None, "append_snapshot", "sources.snapshot"),
    ("smashed_spark.streaming.snapshot_sink", None, "publish_snapshot", "sources.snapshot"),
)
# (module, function, counter name): package functions whose calls and
# true results are counted while tracing
COUNTED = (
    ("smashed_spark.sources.cache", "_cache_hit", "sources.cache"),
)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    error: bool = False


class Tracer:
    """Keeps spans in memory.  Disabled, ``span`` costs one attribute
    test.  Spans opened on a thread with no open span of its own (the
    streaming callback thread) take the main thread's innermost open
    span as parent, since the main thread waits on them."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list = []
        self._patched: list = []
        # counter name -> [calls, true results], from ``COUNTED``
        self.counts: dict = {}

    def _stack(self) -> list:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        outer = stack or self._main_stack
        with self._lock:
            rec = Span(len(self.spans), name, time.time(), parent=outer[-1].sid if outer else -1)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        except BaseException:
            rec.error = True
            raise
        finally:
            rec.end = time.time()
            stack.pop()

    def instrument(self) -> None:
        """Wrap ``INSTRUMENTED`` so calls made inside the package open
        spans; ``uninstrument`` restores the originals."""
        for mod_name, cls_name, attr, span_name in INSTRUMENTED:
            owner = importlib.import_module(mod_name)
            if cls_name is not None:
                owner = getattr(owner, cls_name)
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, span_name))
        for mod_name, attr, name in COUNTED:
            owner = importlib.import_module(mod_name)
            orig = owner.__dict__[attr]
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._count(orig, name))

    def uninstrument(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _count(self, fn, name: str):
        tally = self.counts.setdefault(name, [0, 0])

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            tally[0] += 1
            tally[1] += bool(out)
            return out

        return counted

    def self_times(self) -> dict:
        """Span id -> duration minus the part its children cover."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.sid] = max(0.0, (s.end - s.start) - covered)
        return out

    def innermost(self, t: float):
        """The innermost span open at wall time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "error": s.error}
                    for s in self.spans
                ],
                fh,
            )


# --- Spark status-store readers ---------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([0-9.]+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL metric's display string -> bytes, seconds or a count.
    Aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line.strip().replace(",", ""))
    if not m:
        return 0.0
    num, unit = float(m.group(1)), m.group(2)
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


class SparkCounters:
    """Snapshot of the jobs, stages and SQL executions Spark recorded."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        gw = spark.sparkContext._gateway
        store = spark.sparkContext._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        mapper.registerModule(scala)
        self.jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)
        ))
        self.stages = {s["stageId"]: s for s in stages}
        self.executions = []  # (submission s, [(node name, desc, {metric: value})])
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for k in range(execs.size()):
            e = execs.apply(k)
            eid = e.executionId()
            values = json.loads(mapper.writeValueAsString(sql.executionMetrics(eid)))
            nodes = []
            for node in json.loads(mapper.writeValueAsString(sql.planGraph(eid).allNodes())):
                got: dict = {}
                for m in node["metrics"]:
                    v = values.get(str(m["accumulatorId"]))
                    if v is not None:
                        got[m["name"]] = got.get(m["name"], 0.0) + parse_metric(v)
                nodes.append((node["name"], node["desc"], got))
            self.executions.append((e.submissionTime() / 1000.0, nodes))
