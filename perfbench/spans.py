"""Spans around the calls into each layer, measured from outside.

A layer is one module of the package (``LAYERS``). In a traced run,
:meth:`Tracer.install` wraps every public function of those modules that
takes a SparkSession or a DataFrame first, in the defining module and in
every package module that imported it by name, so calls between layers
are seen too. Each call records a ``build`` span. Materializing actions
record ``exec`` spans: the benchmark's own ``toPandas`` of a call's
result, every parquet write, and every stream drain
(``StreamingQuery.awaitTermination``). An exec span belongs to the layer
whose function returned the DataFrame being materialized, else to the
innermost open span's layer. A drain belongs to the layer of the
DataFrame its query was started on (``DataStreamWriter.start``), else to
the outermost open span's layer: the top-level call that built the
stream, not the helper that happens to wait for it.

Executed stages come from Spark's status store after each op and are
attributed to the innermost span open when they completed. A stream's
micro-batches come from a ``StreamingQueryListener`` (:class:`Drains`),
which runs in every run, traced or not, because the drain guard uses it.

Spans stay in memory; ``run.py`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import statistics
import sys
import threading
import time
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery, StreamingQueryListener

PKG = "flink_gmall_spark"

#: layer name -> module path (a layer is one module of the package).
LAYERS = {
    "sources": f"{PKG}.sources.tables",
    "plans.dwd": f"{PKG}.plans.dwd",
    "plans.dwm": f"{PKG}.plans.dwm",
    "plans.dws": f"{PKG}.plans.dws",
    "plans.ads": f"{PKG}.plans.ads",
    "plans.api": f"{PKG}.plans.api",
    "pipeline": f"{PKG}.pipeline",
    "streaming.jobs": f"{PKG}.streaming.jobs",
    "streaming.state": f"{PKG}.streaming.state",
    "operators.dedup": f"{PKG}.operators.dedup",
    "operators.retrieval": f"{PKG}.operators.retrieval",
    "operators.curation": f"{PKG}.operators.curation",
    "operators.ann": f"{PKG}.operators.ann",
}

_FIRST_ARGS = {"spark", "df", "ev", "env", "result"}


@dataclass
class Span:
    id: int
    name: str  # "<layer>.<function>" for build spans, "<layer>.<action>" for exec
    layer: str
    kind: str  # "build" | "exec" | "op"
    op: int
    parent: int | None
    start: float  # epoch seconds (stage completion times are epoch ms)
    end: float = 0.0
    plan_ms: float = 0.0
    stages: list = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in ms: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = max(0.0, (s.end - s.start - covered) * 1000.0)
    return out


def _takes_plan_input(fn) -> bool:
    try:
        params = list(inspect.signature(fn).parameters.values())
    except (TypeError, ValueError):
        return False
    if not params:
        return False
    p = params[0]
    ann = str(p.annotation)
    return p.name in _FIRST_ARGS or "SparkSession" in ann or "DataFrame" in ann


class Tracer:
    """Span recorder. ``enabled`` is False in untraced runs, where
    :meth:`op_span` and :meth:`to_pandas` cost one attribute test."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        # id(DataFrame) -> (weak reference, layer); the reference guards
        # against a reused id after the DataFrame was collected
        self._origin: dict[int, tuple[weakref.ref, str]] = {}
        self._patched: list[tuple[object, str, object]] = []
        # streaming query id -> layer of the DataFrame it was started on
        self._queries: dict[str, str | None] = {}

    # -- span stack ----------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, layer: str, kind: str) -> Span:
        st = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, layer, kind, self.op,
                     st[-1].id if st else None, time.time())
            self.spans.append(s)
        st.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        st = self._stack()
        if st and st[-1] is s:
            st.pop()

    def op_span(self, name: str) -> Span | None:
        return self._open(name, "op", "op") if self.enabled else None

    def close(self, s: Span | None) -> None:
        if s is not None:
            self._close(s)

    def _layer_of(self, df, outermost: bool = False) -> str | None:
        """The layer whose function returned ``df``, else the innermost
        (or ``outermost``) open span's layer; None outside any span."""
        ref, layer = self._origin.get(id(df), (None, None))
        if ref is None or ref() is not df:
            st = self._stack()
            layer = next((s.layer for s in (st if outermost else reversed(st))
                          if s.kind != "op"), None)
        return layer

    # -- the benchmark's own materializing action ------------------------
    def to_pandas(self, df: DataFrame):
        """``df.toPandas()``, as an exec span with Catalyst phase times."""
        if not self.enabled:
            return df.toPandas()
        layer = self._layer_of(df) or "op"
        s = self._open(f"{layer}.toPandas", layer, "exec")
        try:
            return df.toPandas()
        finally:
            self._close(s)
            s.plan_ms = catalyst_ms(df)

    # -- wrapping --------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = tracer._open(f"{layer}.{name}", layer, "build")
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(s)
            if isinstance(out, DataFrame):
                tracer._origin[id(out)] = (weakref.ref(out), layer)
            return out

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap the layers' public functions and the sink actions."""
        self.enabled = True
        wrapped: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname or not _takes_plan_input(fn)):
                    continue
                wrapped[id(fn)] = self._wrap(layer, name, fn)
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PKG) or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                w = wrapped.get(id(obj))
                if w is not None:
                    self._set(mod, name, w)

        tracer = self

        def sink(owner, attr, label, layer_of):
            orig = getattr(owner, attr)

            @functools.wraps(orig)
            def patched(obj, *args, **kwargs):
                layer = layer_of(obj)
                if layer is None:  # stream callback thread: covered by the drain span
                    return orig(obj, *args, **kwargs)
                s = tracer._open(f"{layer}.{label}", layer, "exec")
                try:
                    return orig(obj, *args, **kwargs)
                finally:
                    tracer._close(s)

            self._set(owner, attr, patched)

        sink(DataFrameWriter, "parquet", "write", lambda w: tracer._layer_of(w._df))
        sink(StreamingQuery, "awaitTermination", "drain",
             lambda q: tracer._queries.get(str(q.id)))

        start = DataStreamWriter.start

        @functools.wraps(start)
        def start_query(writer, *args, **kwargs):
            q = start(writer, *args, **kwargs)
            tracer._queries[str(q.id)] = tracer._layer_of(writer._df, outermost=True)
            return q

        self._set(DataStreamWriter, "start", start_query)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self.enabled = False

    # -- stages ------------------------------------------------------------
    def attach_stages(self, stages: list[dict], op: int) -> None:
        """Give each completed stage of ``op`` to the innermost span open
        at its completion time."""
        cand = [s for s in self.spans if s.op == op and s.end]
        for st in stages:
            t = st["completed_ms"] / 1000.0
            inner = None
            for s in cand:
                if s.start <= t <= s.end and (inner is None or s.start >= inner.start):
                    inner = s
            if inner is not None:
                inner.stages.append(st)

    def layer_metrics(self, op: int) -> dict[str, float]:
        """Per-layer totals over one op's spans."""
        spans = [s for s in self.spans if s.op == op]
        own = self_times(spans)
        out: dict[str, float] = {}

        def add(key, v):
            out[key] = out.get(key, 0.0) + v

        run_all: dict[str, float] = {}
        run_one: dict[str, float] = {}
        for s in spans:
            if s.kind == "op":
                continue
            add(f"{s.layer}.{s.kind}_ms", own[s.id])
            if s.plan_ms:
                add(f"{s.layer}.plan_ms", s.plan_ms)
            for st in s.stages:
                run_all[s.layer] = run_all.get(s.layer, 0.0) + st["run_ms"]
                if st["tasks"] == 1:
                    run_one[s.layer] = run_one.get(s.layer, 0.0) + st["run_ms"]
                add(f"{s.layer}.shuffle_bytes", st["shuffle_read"] + st["shuffle_write"])
                add(f"{s.layer}.spill_bytes", st["spill_mem"] + st["spill_disk"])
        for layer, total in run_all.items():
            if total > 0:
                out[f"{layer}.one_task_share"] = run_one.get(layer, 0.0) / total
        return out


def catalyst_ms(df: DataFrame) -> float:
    """Analysis + optimization + planning ms from the query-execution
    tracker of ``df``'s last action."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        total = 0.0
        while it.hasNext():
            total += float(it.next()._2().durationMs())
        return total
    except Exception:  # the tracker is internal API: report 0, never fail the op
        return 0.0


def completed_stages(spark, since_id: int) -> list[dict]:
    """Completed stages with id >= ``since_id`` from the status store.
    Waits for the listener bus to drain so the store is current."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # private API: fall back to a short settle
        time.sleep(0.5)
    seq = jsc.statusStore().stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    out = []
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.stageId() < since_id or str(s.status()) != "COMPLETE":
            continue
        done = s.completionTime()
        if done.isEmpty():
            continue
        out.append({
            "stage": s.stageId(), "attempt": s.attemptId(), "tasks": s.numTasks(),
            "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(),
            "shuffle_read": s.shuffleReadBytes(), "shuffle_write": s.shuffleWriteBytes(),
            "spill_mem": s.memoryBytesSpilled(), "spill_disk": s.diskBytesSpilled(),
            "completed_ms": done.get().getTime(),
        })
    return out


def max_stage_id(spark) -> int:
    """One past the highest stage id the status store has seen."""
    sc = spark.sparkContext
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    return max((seq.apply(i).stageId() for i in range(seq.size())), default=-1) + 1


class Drains(StreamingQueryListener):
    """Micro-batch progress per stream drain, keyed by the name of the
    top-level call that started the query (``current``)."""

    def __init__(self) -> None:
        self.current = "?"
        self.names: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = {}
        self.done: set[str] = set()
        self._lock = threading.Lock()
        self._orig_start = None

    def install(self, spark) -> None:
        spark.streams.addListener(self)
        drains = self
        orig = self._orig_start = DataStreamWriter.start

        @functools.wraps(orig)
        def start(writer, *args, **kwargs):
            q = orig(writer, *args, **kwargs)
            with drains._lock:
                drains.names[str(q.id)] = drains.current
            return q

        DataStreamWriter.start = start

    def uninstall(self, spark) -> None:
        if self._orig_start is not None:
            DataStreamWriter.start = self._orig_start
            self._orig_start = None
        spark.streams.removeListener(self)

    def reset(self) -> None:
        with self._lock:
            self.names.clear()
            self.progress.clear()
            self.done.clear()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "batch": p.batchId, "rows": p.numInputRows,
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
            "source_rows": [src.numInputRows for src in p.sources],
        }
        with self._lock:
            self.progress.setdefault(str(p.id), []).append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.done.add(str(event.id))

    def settle(self, timeout_s: float = 20.0) -> None:
        """Wait until every started query's termination was delivered."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.names) <= self.done:
                    return
            time.sleep(0.05)
        raise TimeoutError("stream listener did not see every drain terminate")

    def summary(self) -> dict[str, dict]:
        """drain name -> batches, input rows, median trigger ms, final state rows."""
        out: dict[str, dict] = {}
        with self._lock:
            for qid, name in self.names.items():
                prog = sorted(self.progress.get(qid, []), key=lambda r: r["batch"])
                data = [r for r in prog if r["rows"] > 0]
                out[name] = {
                    "batches": len(data),
                    "input_rows": sum(r["rows"] for r in prog),
                    "batch_ms": statistics.median([r["trigger_ms"] for r in data]) if data else 0.0,
                    "state_rows": prog[-1]["state_rows"] if prog else 0,
                }
        return out
