"""Measurement helpers: spans, executed-plan metrics, streaming progress
and process-tree memory.

Everything here observes the program from outside: spans wrap the calls
the benchmark makes into each layer, plan metrics are read from the
physical plans Spark executed, and memory is read from /proc.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager

# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Spans:
    """In-memory span log: (name, start, end, parent). Disabled instances
    record nothing, so untraced runs pay one attribute check per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.records: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, t0, time.perf_counter(), parent))
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _ in self.records if n == name]

    def wrap(self, module, attr: str, name: str) -> Callable[[], None]:
        """Replace module.attr by a span-recording wrapper; returns the
        undo function."""
        orig = getattr(module, attr)
        if not self.enabled:
            return lambda: None

        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, orig)


# --------------------------------------------------------------------------
# executed-plan metrics
# --------------------------------------------------------------------------


class PlanCapture:
    """Collects the executed physical plan of every action the session
    runs, through a QueryExecutionListener, and sums node metrics over
    them. Nodes are de-duplicated by JVM identity, so a cached relation
    reached from several actions (or several scans) counts once."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self._jvm = spark.sparkContext._jvm
        self._plans: list = []
        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self._listener = _QueryListener(self._plans)
        spark._jsparkSession.listenerManager().register(self._listener)

    def drain(self) -> list:
        """Wait for pending listener events; return and reset the plans
        of the actions run since the last drain."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        plans = list(self._plans)
        self._plans.clear()
        return plans

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self._listener)

    def nodes(self, plans: list) -> list:
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        ident = self._jvm.java.lang.System.identityHashCode
        seen: set[int] = set()
        out = []
        stack = list(plans)
        while stack:
            p = stack.pop()
            key = ident(p)
            if key in seen:
                continue
            seen.add(key)
            out.append(p)
            cls = p.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(p.executedPlan())
            elif cls.endswith("QueryStageExec"):
                stack.append(p.plan())
            elif cls == "InMemoryTableScanExec":
                stack.append(p.relation().cachedPlan())
            elif cls == "ReusedExchangeExec":
                stack.append(p.child())
            stack.extend(conv.asJava(p.children()))
        return out

    def metrics(self, plans: list) -> dict[str, dict[str, float]]:
        """{node class: {metric name: summed value}} over distinct nodes."""
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        agg: dict[str, dict[str, float]] = {}
        for node in self.nodes(plans):
            cls = node.getClass().getSimpleName()
            m = conv.asJava(node.metrics())
            d = agg.setdefault(cls, {})
            for name in m.keySet():
                d[name] = d.get(name, 0.0) + float(m.get(name).value())
        return agg


class _QueryListener:
    def __init__(self, sink: list) -> None:
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):
        self._sink.append(qe.executedPlan())

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def python_udf_metrics(agg: dict[str, dict[str, float]], classes: tuple[str, ...]
                       ) -> tuple[float, float, float]:
    """(bytes sent to Python, bytes received, Python worker time in s,
    summed over tasks) over the given exec node classes."""
    sent = recv = t_ms = 0.0
    for cls in classes:
        m = agg.get(cls, {})
        sent += m.get("pythonDataSent", 0.0)
        recv += m.get("pythonDataReceived", 0.0)
        t_ms += m.get("pythonTotalTime", 0.0)
    return sent, recv, t_ms / 1e3


PYTHON_EXECS = ("MapInArrowExec", "PythonMapInArrowExec", "MapInPandasExec",
                "ArrowEvalPythonExec", "BatchEvalPythonExec",
                "FlatMapGroupsInPandasExec", "FlatMapGroupsInArrowExec",
                "AggregateInPandasExec", "WindowInPandasExec")


def shuffle_totals(agg: dict[str, dict[str, float]]) -> tuple[float, float]:
    """(bytes written, records written) over all shuffle exchanges."""
    m = agg.get("ShuffleExchangeExec", {})
    return m.get("shuffleBytesWritten", 0.0), m.get("shuffleRecordsWritten", 0.0)


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


def epoch_listener(spark):
    """Register a listener that keeps every progress update's durations
    (recentProgress keeps only the last 100). Returns (listener, list)."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class _L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = {k: float(v) / 1000.0 for k, v in dict(p.durationMs).items()}
            d["rows"] = int(p.numInputRows)
            d["batch_id"] = int(p.batchId)
            events.append(d)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _L()
    spark.streams.addListener(listener)
    return listener, events


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of root_pid."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root_pid]
    while stack:
        kids = children.get(stack.pop(), ())
        out.extend(kids)
        stack.extend(kids)
    return out


def _rss_high_water(pid: int) -> int:
    """The kernel's record of pid's largest resident set (VmHWM), bytes."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


class RssSampler:
    """Peak RSS of this process and of each descendant (JVM, Python
    workers), summed. A process's peak is the kernel's high-water mark,
    read every `interval` seconds while it lives, so a spike between two
    reads still counts (sampling the live RSS would miss it)."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return sum(self._hwm.values())

    def _sample(self) -> None:
        me = os.getpid()
        for pid in [me, *descendants(me)]:
            try:
                hwm = _rss_high_water(pid)
            except OSError:
                continue
            self._hwm[pid] = max(self._hwm.get(pid, 0), hwm)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)
