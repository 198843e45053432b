"""Tracing from outside the program: spans around calls into the
engine's public functions, plus Spark's own per-node SQL metrics.

Spans stay in memory (``Tracer.spans``) and are written out when the
run ends.  A span's layer is its name up to the first dot, so
``manifest.commit`` belongs to the ``manifest`` layer.  Each operation
tags its Spark executions with ``setJobDescription(<op id>)``; their
node metrics are then read from the SQL status store.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# public engine functions wrapped in a traced run: (module, attribute,
# span name).  Names are patched where the CALLER looks them up — the
# encoder binds the partitioner helpers into its own namespace.
WRAPPED = [
    ("boltspark.engine.session", "get_session", "session.get_session"),
    ("boltspark.engine.encode", "encode_table", "encode.encode_table"),
    ("boltspark.engine.encode", "estimate_bytes_fast", "partitioner.estimate_bytes_fast"),
    ("boltspark.engine.encode", "assign_partition_id", "partitioner.assign_partition_id"),
    ("boltspark.engine.encode", "cluster_partitions", "partitioner.cluster_partitions"),
    ("boltspark.engine.manifest", "commit", "manifest.commit"),
    ("boltspark.engine.manifest", "table_meta", "manifest.table_meta"),
    ("boltspark.engine.manifest", "run_exists", "manifest.run_exists"),
    ("boltspark.engine.manifest", "valid_pairs_df", "manifest.valid_pairs_df"),
    ("boltspark.engine.manifest", "completed_partitions_df", "manifest.completed_partitions_df"),
    ("boltspark.engine.decode", "decode_table", "decode.decode_table"),
    ("boltspark.engine.stats", "explain_scan", "stats.explain_scan"),
    ("boltspark.engine.compact", "compact_blocks", "compact.compact_blocks"),
    ("boltspark.engine.nest", "rebuild_expr", "nest.rebuild_expr"),
    ("boltspark.sources.datasource", "load", "sources.load"),
] + [("boltspark.engine.agg", f, f"agg.{f}") for f in (
    "value_counts", "grouped_aggs", "column_sum", "column_distinct_approx",
    "column_quantiles", "grouped_topk")]


@dataclass
class Span:
    op: str
    name: str
    start: float
    end: float = 0.0
    parent: int = -1  # index into Tracer.spans, -1 for an op's root

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Op:
    """One timed operation of a workload: kind, wall time, outcome."""
    op_id: str
    kind: str
    start: float
    wall: float = 0.0
    ok: bool = True
    error: str = ""
    info: dict = field(default_factory=dict)


class Tracer:
    """Span recorder.  Disabled, ``span`` is a bare context manager and
    no engine function is wrapped, so untraced runs time the program
    as users call it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # span times are perf_counter seconds; Spark's are epoch seconds
        self.epoch_offset = time.time() - time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = ""
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        i = len(self.spans)
        self.spans.append(Span(self._op, name, time.perf_counter(),
                               parent=self._stack[-1] if self._stack else -1))
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i].end = time.perf_counter()

    @contextmanager
    def op(self, op_id: str, spark=None):
        """Root span of one operation; tags its Spark executions."""
        self._op = op_id
        if self.enabled and spark is not None:
            spark.sparkContext.setJobDescription(op_id)
        try:
            with self.span("op"):
                yield
        finally:
            if self.enabled and spark is not None:
                spark.sparkContext.setJobDescription(None)
            self._op = ""

    def install(self) -> None:
        import importlib

        if not self.enabled:
            return
        for modname, attr, name in WRAPPED:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, name))
            self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return wrapper

    # ------------------------------------------------------ analysis

    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]

    def self_times(self, op_id: str) -> dict[str, float]:
        """Layer -> self time (span minus the part its children cover)
        over one op; the root's own remainder is the key ``op``."""
        spans = self.op_spans(op_id)
        idx = {id(s): k for k, s in enumerate(self.spans)}
        kids: dict[int, list[Span]] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            covered = _union([(c.start, c.end) for c in kids.get(idx[id(s)], [])])
            key = "op" if s.name == "op" else s.layer
            out[key] = out.get(key, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _union(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------- Spark metrics

_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_NUM = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric -> number (seconds, bytes or count).

    Task-summed metrics read ``"total (min, med, max (stageId:
    taskId))\\n6.2 s (1.5 s, 1.6 s, 1.6 s (stage 2.0: task 6))"``; the
    total is the first figure of the second line."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _TIME:
        return v * _TIME[unit]
    if unit in _SIZE:
        return v * _SIZE[unit]
    return v


def parse_med_max(text: str) -> tuple[float, float] | None:
    """(median, max) per task of a task-summed metric, if present."""
    if "\n" not in text:
        return None
    inner = text.split("\n", 1)[1]
    if "(" not in inner:
        return None
    parts = inner.split("(", 1)[1].split(",")
    if len(parts) < 3:
        return None
    return parse_metric(parts[1]), parse_metric(parts[2])


@dataclass
class Execution:
    exec_id: int
    desc: str
    start: float  # epoch seconds
    end: float
    nodes: list[tuple[str, dict[str, str]]]  # (node name, metric -> text)

    def metric(self, node_prefix: str, name: str) -> float:
        return sum(parse_metric(m[name]) for n, m in self.nodes
                   if n.startswith(node_prefix) and name in m)


class StatusStore:
    """Reads finished SQL executions from the session's status store."""

    def __init__(self, spark):
        self.spark = spark
        self._seen: set[int] = set()

    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def drain(self, wait_s: float = 5.0) -> list[Execution]:
        """Every execution not returned before, once all have completed
        (the listener bus updates the store asynchronously)."""
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        deadline = time.monotonic() + wait_s
        while True:
            rows = [e for e in conv.asJava(self._store().executionsList())
                    if e.executionId() not in self._seen]
            if all(e.completionTime().isDefined() for e in rows) or \
                    time.monotonic() > deadline:
                break
            time.sleep(0.05)
        out = []
        store = self._store()
        for e in rows:
            eid = e.executionId()
            self._seen.add(eid)
            values = conv.asJava(store.executionMetrics(eid))
            nodes = []
            for n in conv.asJava(store.planGraph(eid).allNodes()):
                ms = {}
                for m in conv.asJava(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        ms[m.name()] = v
                nodes.append((n.name(), ms))
            comp = e.completionTime()
            start = e.submissionTime() / 1000.0
            end = comp.get().getTime() / 1000.0 if comp.isDefined() else start
            out.append(Execution(eid, e.description() or "", start, end, nodes))
        return out
