"""Tracing for the benchmark's traced run (``--trace 1``).

Three sources of per-layer numbers:

* Spans. ``Tracer`` wraps the public functions of the package layers
  (``sources``, ``operators``, ``fits``, ``streaming``, ``pipeline``) and
  pyspark's streaming start/stop calls. Every wrapped call records one
  span: name, layer, start, end, parent span and op id. A layer's time is
  the *self* time of its spans: duration minus the time covered by its
  child spans, so nested calls are never counted twice. The wrappers
  must be installed before ``plans.registry`` is imported, because the
  plan modules bind some names at import time.
* Spark's own status stores, read per op through the two job groups the
  benchmark gives each op (``<op>:build`` and ``<op>:exec``): jobs, stages,
  tasks, executor run and CPU time, GC, shuffle and spill bytes from
  ``AppStatusStore.lastStageAttempt``, and the Python-worker metrics of
  the op's SQL executions from the SQL status store.
* A session-state ledger: persistent RDDs and cached relations left
  behind by an op after ``clearCache()``.

With tracing off nothing is installed and none of this runs.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import time
from collections import defaultdict

PACKAGE = "etl_market_survey_spark"
LAYERS = ("sources", "operators", "fits", "streaming")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op_id: str | None = None
        # span = [name, layer, start, end, parent_index, op_id]
        self.spans: list[list] = []
        self._stack: list[int] = []

    # -- spans ---------------------------------------------------------------

    def begin(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, layer, time.perf_counter(), None, parent, self.op_id])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][3] = time.perf_counter()
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()  # a span left open by an exception
        if self._stack:
            self._stack.pop()

    def wrap(self, fn, name: str, layer: str):
        if getattr(fn, "_perfbench_wrapped", False):
            return fn

        @functools.wraps(fn)
        def traced(*a, **k):
            if not self.enabled:
                return fn(*a, **k)
            idx = self.begin(name, layer)
            try:
                return fn(*a, **k)
            finally:
                self.end(idx)

        traced._perfbench_wrapped = True  # type: ignore[attr-defined]
        return traced

    def self_times(self, since: int = 0) -> tuple[dict, dict]:
        """(layer -> self seconds, layer -> calls) over spans[since:]."""
        child = defaultdict(float)
        for name, layer, t0, t1, parent, _ in self.spans[since:]:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        secs: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, (name, layer, t0, t1, parent, _) in enumerate(self.spans[since:], since):
            if t1 is None:
                continue
            secs[layer] += max(0.0, (t1 - t0) - child[i])
            calls[layer] += 1
        return secs, calls

    # -- installation -----------------------------------------------------------

    def install(self) -> None:
        """Wrap every public function of the package layers, then the
        pipeline runner and pyspark's streaming entry points."""
        for layer in LAYERS:
            pkg = importlib.import_module(f"{PACKAGE}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                if info.name.startswith("_"):
                    continue
                modname = f"{PACKAGE}.{layer}.{info.name}"
                mod = importlib.import_module(modname)
                # sources are reported per module, the other layers whole
                label = f"sources.{info.name}" if layer == "sources" else layer
                self._wrap_module(mod, modname, label)

        from etl_market_survey_spark import pipeline

        pipeline.Pipeline.run = self.wrap(pipeline.Pipeline.run, "Pipeline.run", "pipeline")

        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        for cls, names in (
            (DataStreamWriter, ("start", "toTable")),
            (StreamingQuery, ("stop", "awaitTermination", "processAllAvailable")),
        ):
            for n in names:
                setattr(cls, n, self.wrap(getattr(cls, n), f"{cls.__name__}.{n}", "stream_ctl"))

    def _wrap_module(self, mod, modname: str, label: str) -> None:
        for fname, obj in list(vars(mod).items()):
            if (
                fname.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != modname
                or hasattr(obj, "evalType")  # a pandas_udf / udf wrapper
            ):
                continue
            setattr(mod, fname, self.wrap(obj, f"{label}.{fname}", label))


# -- Spark status stores ---------------------------------------------------------

STAGE_FIELDS = (
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("memory_spill_bytes", "memoryBytesSpilled", 1),
    ("disk_spill_bytes", "diskBytesSpilled", 1),
    ("tasks", "numCompleteTasks", 1),
    ("failed_tasks", "numFailedTasks", 1),
)


def group_stats(spark, group: str) -> dict:
    """Jobs, stages and summed stage metrics of one job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out: dict[str, float] = defaultdict(float)
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 — stage evicted or never posted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            for key, getter, scale in STAGE_FIELDS:
                out[key] += float(getattr(st, getter)()) * scale
    return out


_PY_METRICS = {
    "time to start Python workers": "start_s",
    "time to run Python workers": "run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}
_METRIC_RE = re.compile(r"SQLPlanMetric\(([^,()]+),(\d+),(\w+)\)")
_ENTRY_RE = re.compile(r"(?:^|, )(\d+) -> ")
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric_value(text: str) -> float:
    """The total of one formatted SQL metric value: ``'1,234'``,
    ``'total (min, med, max ...)\\n1.4 s (...)'`` or ``'12.0 KiB'``."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _metric_values(sql_store, exec_id: int) -> dict[int, str]:
    text = sql_store.executionMetrics(exec_id).toString()
    body = text[text.index("(") + 1 : -1] if "(" in text else ""
    parts = _ENTRY_RE.split(body)
    return {int(parts[i]): parts[i + 1] for i in range(1, len(parts) - 1, 2)}


class SqlCursor:
    """Reads the Python-worker metrics of SQL executions that started
    since the last call."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = int(self.store.executionsCount())

    def python_metrics(self) -> dict:
        # accumulator id -> (metric, value). An accumulator can be listed
        # twice (an adaptive re-plan, a plan reused by a later execution)
        # and its value is a running total, so each one counts once, at
        # its largest value.
        accs: dict[int, tuple[str, float]] = {}
        total = int(self.store.executionsCount())
        for ex in _scala_iter(self.store.executionsList(self.seen, max(0, total - self.seen))):
            listing = ex.metrics().toString()
            if "Python workers" not in listing:
                continue
            exec_id = int(ex.executionId())
            values = _metric_values(self.store, exec_id)
            found = [
                (_PY_METRICS[name], int(acc))
                for name, acc, _ in _METRIC_RE.findall(listing) if name in _PY_METRICS
            ]
            # rows returned: the output-row count of each Python node
            for node in _scala_iter(self.store.planGraph(exec_id).allNodes()):
                names = {m.name(): int(m.accumulatorId()) for m in _scala_iter(node.metrics())}
                if "data returned from Python workers" in names and "number of output rows" in names:
                    found.append(("rows_returned", names["number of output rows"]))
            for key, acc in found:
                if acc in values:
                    val = parse_metric_value(values[acc])
                    if val > accs.get(acc, (key, -1.0))[1]:
                        accs[acc] = (key, val)
        self.seen = max(self.seen, total)
        out: dict[str, float] = defaultdict(float)
        for key, val in accs.values():
            out[key] += val
        return out


def session_state(spark) -> tuple[set, int]:
    """(ids of the persistent RDDs, number of cached relations) the
    session holds now."""
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().toString()
    cached = int(spark._jsparkSession.sharedState().cacheManager().numCachedEntries())
    return {int(i) for i in re.findall(r"\d+", ids)}, cached
