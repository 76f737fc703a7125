"""Spans around calls into the package's layers, plus Spark's own counters.

Only the traced run installs the wrappers (:meth:`Tracer.install`); the
end-to-end run calls the package unwrapped. Spans stay in memory
as ``(name, start, end, parent, workload, run)`` and are written out once
at the end. Spark-side numbers come from the two status stores that stay
readable with the UI disabled: the core store for stages and the SQL
store for per-node metrics.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    run: int
    value: float | None = None  # e.g. the number of files a footer attach stamped


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.run = 0
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.get_ident()
        self._next = 0
        self._undo: list[tuple[object, str, object]] = []
        self.enabled = False

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        stack = self._stack()
        # a pool thread's first span hangs under what the main thread has open
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sid = self._next
            self._next += 1
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.workload, self.run)
        stack.append(sid)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == s.id:
            stack.pop()
        with self._lock:
            self.spans.append(s)

    # -- wrapping module attributes ------------------------------------------

    def wrap(self, owner, attr: str, name, value=None) -> None:
        """Replace ``owner.attr`` with a spanned call. ``name`` is a span
        name or a function of the call's arguments; ``value`` optionally
        maps the call's result to a number kept on the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **k):
            if not tracer.enabled:
                return orig(*a, **k)
            with tracer.span(name(*a, **k) if callable(name) else name) as s:
                out = orig(*a, **k)
                if value is not None:
                    s.value = value(out)
                return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        import sys

        from pyspark.sql.readwriter import DataFrameWriter

        from wod_ascii_to_parquet_spark_spark import registry
        from wod_ascii_to_parquet_spark_spark.plans import convert
        from wod_ascii_to_parquet_spark_spark.sources.filesystem import FsClient

        self.wrap(convert, "plan_tasks", "convert.plan")
        self.wrap(
            convert,
            "convert_file",
            lambda _spark, task, **_k: "convert.filejob:"
            + task.input_path.rsplit("/", 1)[-1],
            value=lambda status: float(status == "converted"),
        )
        self.wrap(convert, "_write_error_channel", "convert.error_channel")
        self.wrap(convert, "attach_geo_footer", "geo_metadata.attach", value=float)
        self.wrap(convert, "compact_convert_output", "compact")

        def write_name(_writer, path, *a, **k):
            if "/compacted/" in path:
                return "compact.write"
            return "convert.error_write" if "/error/" in path else "convert.write"

        self.wrap(DataFrameWriter, "parquet", write_name)
        for meth in (
            "exists", "is_dir", "list_names", "delete", "size",
            "file_sizes", "write_bytes",
        ):
            # the sidecar publish is FsClient.write_bytes
            span = "convert.sidecar" if meth == "write_bytes" else "filesystem"
            self.wrap(FsClient, meth, span)
        # operator modules bind ``load`` at import: wrap each binding
        orig_load = registry.load
        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith(
                    "wod_ascii_to_parquet_spark_spark.operators"
                )
                and getattr(mod, "load", None) is orig_load
            ):
                self.wrap(mod, "load", "registry.load")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- reporting -----------------------------------------------------------

    def of(self, name: str, run: int | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (run is None or s.run == run)
        ]

    def total(self, name: str, run: int | None = None) -> float:
        return sum(s.end - s.start for s in self.of(name, run))

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by the span's children."""
        kids = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.id
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span.start), min(e, span.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start) - covered

    def dump(self, path: str) -> None:
        by_id = {s.id: s for s in self.spans}
        rows = [
            {
                "name": s.name, "start": s.start, "end": s.end,
                "parent": by_id[s.parent].name if s.parent in by_id else None,
                "id": s.id, "parent_id": s.parent, "workload": s.workload,
                "run": s.run, "self_s": self.self_time(s), "value": s.value,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.s = self.tracer._open(self.name)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s)


# -- Spark status stores -----------------------------------------------------

STAGE_FIELDS = {
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),  # plus memoryBytesSpilled
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}


class SparkCounters:
    """Totals over the stages and SQL executions that ran since a mark."""

    def __init__(self, spark):
        self.core = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._jvm.double, 0
        )

    def _stages(self):
        seq = self.core.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _executions(self):
        seq = self.sql.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> tuple[int, int]:
        return (
            max((s.stageId() for s in self._stages()), default=-1),
            max((e.executionId() for e in self._executions()), default=-1),
        )

    def stages_since(self, mark: tuple[int, int]) -> dict[str, float]:
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["stages"] = 0.0
        out["tasks"] = 0.0
        for st in self._stages():
            if st.stageId() <= mark[0]:
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            for key, (getter, scale) in STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
            out["spill_bytes"] += st.memoryBytesSpilled()
        return out

    def sql_metrics_since(
        self, mark: tuple[int, int], names: tuple[str, ...]
    ) -> dict[str, float]:
        """Totals of the named SQL metrics (timings in s, sizes in bytes).

        Read as each execution's rendered metric list and value map, two
        gateway calls per execution instead of several per metric."""
        out = {n: 0.0 for n in names}
        for ex in self._executions():
            eid = ex.executionId()
            if eid <= mark[1]:
                continue
            wanted = {
                int(acc): (name, kind)
                for name, acc, kind in _METRIC_RE.findall(ex.metrics().toString())
                if name in out
            }
            if not wanted:
                continue
            rendered = self.sql.executionMetrics(eid).toString()
            parts = _VALUE_RE.split(rendered[rendered.index("(") + 1 : -1])
            for acc, text in zip(parts[1::2], parts[2::2]):
                if int(acc) in wanted:
                    name, kind = wanted[int(acc)]
                    out[name] += parse_metric(text, kind)
        return out


_METRIC_RE = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),(\w+)\)")
_VALUE_RE = re.compile(r"(?:^|, )(\d+) -> ")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


def parse_metric(text: str, kind: str) -> float:
    """The total from a rendered SQL metric: ``"1,234"`` for sums, or
    ``"total (min, med, max ...)\\n1.2 s (...)"`` for timings and sizes."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind in ("timing", "nsTiming"):
        return num * _UNITS.get(unit, 1e-3)
    if kind == "size":
        return num * _UNITS.get(unit, 1)
    return num
