"""Layer reader: what Spark recorded about one benchmark call.

The reader sits outside the engine and reads Spark's own stores around
each call, so tracing needs no change to the code under test:

- the AppStatusStore (jobs, stages, tasks, executor run and CPU time,
  input, shuffle and spill bytes), by job and stage id range;
- the SQL status store (per-operator metrics of scan and Python nodes,
  and whether a ``MapInArrow`` node ran), by SQL execution id range;
- a ``QueryExecutionListener`` for the Catalyst phase times of every
  executed query (``QueryExecution.tracker()``);
- a ``StreamingQueryListener`` for micro-batch progress. Micro-batch jobs
  carry the stream's own job group, so job-group tagging misses them;
  the progress events do not.

The client is a closed loop, so every id issued between two marks
belongs to the call in between.
"""

from __future__ import annotations

import re
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

_PHASES = ("analysis", "optimization", "planning")
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
# SQL metric names (Spark's PythonSQLMetrics and file scan metrics)
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_PY_START = "time to start Python workers"
_PY_INIT = "time to initialize Python workers"
_FILES_READ = "number of files read"


def parse_metric(text: str) -> float:
    """A formatted SQL metric (``1,234``, ``2.5 s``, ``540.9 KiB``, or
    the ``total (min, med, max ...)`` form) as a number of rows, ms or
    bytes."""
    total = text.rsplit("\n", 1)[-1].split(" (", 1)[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*([A-Za-z]*)", total)
    if not m:
        raise ValueError(f"unparsed SQL metric {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit {text!r}")
    return value


@dataclass
class CallLayers:
    """Everything Spark recorded for one call (build + write)."""
    build_jobs: int = 0
    exec_jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    input_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    files_read: float = 0.0
    python_run_ms: float = 0.0
    python_start_ms: float = 0.0
    python_init_ms: float = 0.0
    python_bytes_sent: float = 0.0
    python_bytes_returned: float = 0.0
    map_in_arrow: bool = False
    catalyst_ms: dict[str, float] = field(
        default_factory=lambda: dict.fromkeys(_PHASES, 0.0))
    progress: list = field(default_factory=list)
    reader_s: float = 0.0


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int
    execution: int
    qe_events: int
    progress: int


class _QueryExecutionListener:
    """Py4J callback collecting Catalyst phase times per execution."""

    def __init__(self, sink: list) -> None:
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        phases = qe.tracker().phases()
        ms = {}
        for p in _PHASES:
            opt = phases.get(p)
            ms[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self._sink.append(ms)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list) -> None:
        self._sink = sink

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self._sink.append(event.progress)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class LayerReader:
    """Installs the two listeners and reads the stores between marks."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._qe_events: list[dict[str, float]] = []
        self._progress: list = []
        ensure_callback_server_started(sc._gateway)
        self._qe_listener = _QueryExecutionListener(self._qe_events)
        spark._jsparkSession.listenerManager().register(self._qe_listener)
        spark.streams.addListener(_ProgressListener(self._progress))

    def mark(self) -> Mark:
        """Ids issued so far; the bus is drained first so every event of
        the previous call has landed in the stores and listeners."""
        self._bus.waitUntilEmpty()
        return Mark(self._dag.numTotalJobs(), self._dag.nextStageId(),
                    self._last_execution_id(), len(self._qe_events),
                    len(self._progress))

    def _last_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(n - 1, 1).apply(0).executionId()

    def read(self, before: Mark, mid: Mark, after: Mark,
             df: DataFrame | None) -> CallLayers:
        """Layers of the call whose build ran between ``before`` and
        ``mid`` and whose write ran between ``mid`` and ``after``."""
        t0 = time.perf_counter()
        out = CallLayers(build_jobs=mid.job - before.job,
                         exec_jobs=after.job - mid.job)
        self._read_stages(before.stage, after.stage, out)
        for eid in range(before.execution + 1, after.execution + 1):
            self._read_execution(eid, out)
        for ms in self._qe_events[before.qe_events:after.qe_events]:
            for p in _PHASES:
                out.catalyst_ms[p] += ms[p]
        if df is not None:
            # the returned DataFrame was analysed while it was built; its
            # own execution (if any) already came through the listener
            opt = df._jdf.queryExecution().tracker().phases().get("analysis")
            if opt.isDefined():
                out.catalyst_ms["analysis"] += float(opt.get().durationMs())
        out.progress = list(self._progress[before.progress:after.progress])
        out.reader_s = time.perf_counter() - t0
        return out

    def _read_stages(self, first: int, end: int, out: CallLayers) -> None:
        for sid in range(first, end):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # id of a stage that never registered
                continue
            if sd.status().toString() == "SKIPPED":
                out.stages_skipped += 1
                continue
            out.stages += 1
            out.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            out.executor_run_ms += sd.executorRunTime()
            out.executor_cpu_ms += sd.executorCpuTime() / 1e6
            out.input_bytes += sd.inputBytes()
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.shuffle_read_bytes += sd.shuffleReadBytes()
            out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def _read_execution(self, eid: int, out: CallLayers) -> None:
        try:
            graph = self._sql.planGraph(eid)
        except Py4JJavaError:  # evicted or never recorded
            return
        values = self._sql.executionMetrics(eid)
        nodes = graph.allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if "MapInArrow" in name:
                out.map_in_arrow = True
            if not ("Scan" in name or "Python" in name or "Arrow" in name
                    or "Pandas" in name):
                continue
            metrics = node.metrics()
            by_name = {}
            for j in range(metrics.size()):
                m = metrics.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    by_name[m.name()] = parse_metric(v.get())
            out.files_read += by_name.get(_FILES_READ, 0.0)
            out.python_bytes_sent += by_name.get(_PY_SENT, 0.0)
            out.python_bytes_returned += by_name.get(_PY_RETURNED, 0.0)
            out.python_run_ms += by_name.get(_PY_RUN, 0.0)
            out.python_start_ms += by_name.get(_PY_START, 0.0)
            out.python_init_ms += by_name.get(_PY_INIT, 0.0)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def stream_summary(calls: list[tuple[float, CallLayers]]) -> dict[str, float]:
    """Micro-batch metrics over the stream calls, from progress events.

    ``calls`` holds (wall seconds, layers) per stream call. Empty (all
    zero) for workloads that run no stream."""
    data, per_call_batches, per_call_idle = [], [], []
    state_rows, state_mem, rows, wall = [], [], 0, 0.0
    for call_s, layers in calls:
        if not layers.progress:
            continue
        batches = [p for p in layers.progress if p.numInputRows > 0]
        data += batches
        per_call_batches.append(len(batches))
        per_call_idle.append(len(layers.progress) - len(batches))
        last = layers.progress[-1].stateOperators
        state_rows.append(sum(op.numRowsTotal for op in last))
        state_mem.append(sum(op.memoryUsedBytes for op in last))
        rows += sum(p.numInputRows for p in batches)
        wall += call_s

    def dur(key: str) -> list[float]:
        return [float(p.durationMs.get(key, 0)) for p in data]

    return {
        "stream.batches": _mean(per_call_batches),
        "stream.no_data_batches": _mean(per_call_idle),
        "stream.batch_p50_ms": _median(dur("triggerExecution")),
        "stream.add_batch_ms": _median(dur("addBatch")),
        "stream.query_planning_ms": _median(dur("queryPlanning")),
        "stream.wal_commit_ms": _median(dur("walCommit")),
        "stream.state_commit_ms": _median(
            [float(sum(op.commitTimeMs for op in p.stateOperators))
             for p in data]),
        "stream.state_rows": _mean(state_rows),
        "stream.state_memory_bytes": _mean(state_mem),
        "stream.rows_per_s": rows / wall if wall else 0.0,
    }
