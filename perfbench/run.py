"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload llm_curation --seed 1 \\
        --seconds 16 --trace 0

Run from the repository root. A run starts the engine's own session
(``sigma_rx7_spark.session.get_spark``), loads the query registry, calls
every workload query once untimed and checks its output against the
registered DuckDB oracle, then makes seeded passes over the workload's
queries until ``--seconds`` have gone by. Each call is the public query
surface: ``registry.load_all()[name].fn(spark, sf_dir)`` followed by a
``noop`` write. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` reads Spark's stores around every call (``perfbench/layers.py``) and
reports the per-layer metrics instead.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; earlier lines give the pinned
settings and the sample counts. Everything the run writes stays under
``.perfbench_work/`` in the checkout, and is removed at exit except the
engine's own ``.staging/`` artifacts, which persist by design.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
ORACLE_CACHE = os.path.join(WORK_DIR, "oracle")

# Engine settings read from the environment. The two pinned values keep
# runs comparable across hosts and the driver heap small; the shuffle
# partition count is cleared so the engine's own default is measured.
PINNED_ENV = {"SPARK_GRAFT_CPUS": "4", "SIGMA_DRIVER_MEM": "3g"}
CLEARED_ENV = ("SIGMA_SHUFFLE_PARTITIONS", "PYSPARK_SUBMIT_ARGS")
STREAM_SEAM_VALUE = "1"
# peak_rss_mb is read after this many timed passes (or at the end of a
# shorter run): the driver heap keeps growing with every pass, so a peak
# taken over however many passes fit the time would track host speed.
RSS_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "query_latency_p50_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "staging.warm_pass_s": "s",
    "staging.artifacts_built": "count",
    "build.s": "s",
    "build.jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.stages_skipped": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.idle_ratio": "ratio",
    "scan.files_read": "count",
    "scan.bytes_read": "B",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "spill.bytes": "B",
    "python.run_ms": "ms",
    "python.start_ms": "ms",
    "python.init_ms": "ms",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "python.fast_path_share": "ratio",
    "cache.bytes_end": "B",
    "cache.rdds_end": "count",
    "stream.batches": "count",
    "stream.no_data_batches": "count",
    "stream.batch_p50_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_memory_bytes": "B",
    "stream.rows_per_s": "1/s",
    "trace.reader_s": "s",
}


@dataclass
class Call:
    name: str
    build_s: float
    exec_s: float
    layers: object = None  # layers.CallLayers on traced runs

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


_T0 = time.perf_counter()


def _log(*parts) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s]:", *parts,
          flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def pin_environment(work: str) -> dict[str, str]:
    """Fix the engine's environment settings and keep every scratch
    write of Spark, the JVM and Python inside ``work``. Must run before
    pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    for k in CLEARED_ENV:
        os.environ.pop(k, None)
    os.environ.update(PINNED_ENV)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        f"{shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell")
    # Python workers import the engine's modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    return {k: os.environ[k] for k in (*PINNED_ENV, "SPARK_LOCAL_DIRS")}


def staging_stamps(root: str) -> dict[str, float]:
    """mtime of every staging completion marker under ``.staging``."""
    out = {}
    for dirpath, _, files in os.walk(os.path.join(root, ".staging")):
        if "_layout_v.txt" in files:
            p = os.path.join(dirpath, "_layout_v.txt")
            out[p] = os.path.getmtime(p)
    return out


def rss_peak_mb() -> float:
    """Peak RSS so far of the driver JVM plus this Python process."""
    from pyspark import SparkContext
    jvm_kb = 0
    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    _log(f"peak rss: driver JVM {jvm_kb / 1024:.0f} MB, "
         f"Python {py_kb / 1024:.0f} MB")
    return (jvm_kb + py_kb) / 1024


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and
    wait until each has ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    """One benchmark run: set-up, gate, timed passes, metrics."""

    def __init__(self, workload, seed: int, seconds: float, trace: bool,
                 sf_dir: str, work: str, settings: dict[str, str]) -> None:
        self.workload = workload
        self.rng = random.Random(seed)
        self.seconds = seconds
        self.trace = trace
        self.sf_dir = sf_dir
        self.work = work
        self.settings = settings
        self.attempted = 0
        self.failed = 0
        self.calls: list[Call] = []
        self.passes: list[float] = []
        self.layers: dict[str, float] = {}
        self.reader = None  # layers.LayerReader on traced runs
        self.rss_mb = None

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        _log(f"FAIL {name}: {why}")

    def setup(self) -> float:
        """Session, registry, inputs and the first call of every query.
        Returns the timed set-up seconds; the oracle side of the gate is
        not part of them."""
        t0 = time.perf_counter()
        from sigma_rx7_spark.session import get_spark
        self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        from sigma_rx7_spark import registry
        self.registry = registry.load_all()
        t2 = time.perf_counter()
        self.layers["session.start_s"] = t1 - t0
        self.layers["registry.load_s"] = t2 - t1
        timed = t2 - t0
        self.spark.sparkContext.setLogLevel("ERROR")

        from perfbench import gate
        from perfbench.workloads import WORKLOADS, make_stream_inputs
        from sigma_rx7_spark.io import TABLES

        # Build step: the DuckDB reference of every batch workload query,
        # kept across runs, so the first run in a checkout pays for all.
        refs = {}
        con = gate.connect(self.sf_dir, TABLES)
        try:
            for w in WORKLOADS.values():
                for name in () if w.stream else w.queries:
                    refs[name] = gate.oracle_frame(
                        self.registry[name], self.sf_dir, TABLES, con,
                        ORACLE_CACHE)
        finally:
            con.close()

        self.query_dir = self.sf_dir
        if self.workload.stream:
            from sigma_rx7_spark.streaming.jobs import STREAM_MAX_FILES_CONF
            t = time.perf_counter()
            self.query_dir = os.path.join(self.work, "stream")
            make_stream_inputs(self.sf_dir, self.query_dir, TABLES, self.rng)
            self.spark.conf.set(STREAM_MAX_FILES_CONF, STREAM_SEAM_VALUE)
            timed += time.perf_counter() - t
            self.settings[STREAM_MAX_FILES_CONF] = STREAM_SEAM_VALUE
            # the batch oracle over the very drop files the stream reads
            con = gate.connect(self.query_dir, TABLES)
            try:
                for name in self.workload.queries:
                    refs[name] = gate.oracle_frame(
                        self.registry[name], self.query_dir, TABLES, con,
                        None)
            finally:
                con.close()

        stamps = staging_stamps(ROOT)
        warm = 0.0
        first_calls = {}
        for name in self.workload.queries:
            self.attempted += 1
            t = time.perf_counter()
            try:
                s_pd = self.registry[name].fn(
                    self.spark, self.query_dir).toPandas()
                why = None
            except Exception:
                why = traceback.format_exc()
            elapsed = time.perf_counter() - t
            warm += elapsed
            first_calls[name] = round(elapsed, 3)
            why = why or gate.mismatch(name, s_pd, refs[name])
            if why:
                self.fail(name, why)
        # the timed calls write through the noop sink; warm its path too
        t = time.perf_counter()
        self.spark.range(1).write.mode("overwrite").format("noop").save()
        warm += time.perf_counter() - t
        _log("first call s:", json.dumps(first_calls))
        after = staging_stamps(ROOT)
        built = sum(1 for p, m in after.items() if stamps.get(p) != m)
        self.layers["staging.warm_pass_s"] = warm
        self.layers["staging.artifacts_built"] = float(built)
        self.settings["staging.artifacts_built"] = str(built)
        return timed + warm

    def call(self, name: str, reader) -> Call:
        fn = self.registry[name].fn
        before = reader.mark() if reader else None
        t0 = time.perf_counter()
        df = fn(self.spark, self.query_dir)
        t1 = time.perf_counter()
        mid = reader.mark() if reader else None
        t2 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t3 = time.perf_counter()
        c = Call(name, t1 - t0, t3 - t2)
        if reader:
            c.layers = reader.read(before, mid, reader.mark(), df)
        return c

    def measure(self) -> None:
        """Seeded passes until ``seconds`` have gone by; whole passes
        only, so every query is sampled equally whatever the seed."""
        from perfbench.layers import LayerReader
        from perfbench.workloads import pass_order

        if self.trace and self.reader is None:
            self.reader = LayerReader(self.spark)
        start, done = time.perf_counter(), 0
        while not done or time.perf_counter() - start < self.seconds:
            p0 = time.perf_counter()
            for name in pass_order(self.workload, self.rng):
                self.attempted += 1
                try:
                    self.calls.append(self.call(name, self.reader))
                except Exception:
                    self.fail(name, traceback.format_exc())
            self.passes.append(time.perf_counter() - p0)
            done += 1
            if len(self.passes) == RSS_PASSES:
                self.rss_mb = rss_peak_mb()

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        walls = [c.wall_s for c in self.calls]
        return {
            "setup_s": setup_s,
            "query_latency_p50_s": statistics.median(walls),
            "pass_s": statistics.median(self.passes),
            "peak_rss_mb": self.rss_mb or rss_peak_mb(),
        }

    def per_layer(self) -> dict[str, float]:
        from perfbench.layers import stream_summary

        calls = [c for c in self.calls if c.layers is not None]
        n = len(calls)

        def mean(get) -> float:
            return sum(get(c) for c in calls) / n

        cores = int(PINNED_ENV["SPARK_GRAFT_CPUS"])
        run_ms = sum(c.layers.executor_run_ms for c in calls)
        wall_ms = 1e3 * sum(c.wall_s for c in calls)
        kernel = [c for c in calls
                  if c.name in self.workload.kernel_queries]
        jsc = self.spark.sparkContext._jsc.sc()
        rdds = jsc.getRDDStorageInfo()
        out = dict(self.layers)
        out.update({
            "build.s": mean(lambda c: c.build_s),
            "build.jobs": mean(lambda c: c.layers.build_jobs),
            "catalyst.analysis_ms":
                mean(lambda c: c.layers.catalyst_ms["analysis"]),
            "catalyst.optimization_ms":
                mean(lambda c: c.layers.catalyst_ms["optimization"]),
            "catalyst.planning_ms":
                mean(lambda c: c.layers.catalyst_ms["planning"]),
            "exec.s": mean(lambda c: c.exec_s),
            "exec.jobs": mean(lambda c: c.layers.exec_jobs),
            "exec.stages": mean(lambda c: c.layers.stages),
            "exec.stages_skipped": mean(lambda c: c.layers.stages_skipped),
            "exec.tasks": mean(lambda c: c.layers.tasks),
            "exec.executor_run_ms": run_ms / n,
            "exec.executor_cpu_ms": mean(lambda c: c.layers.executor_cpu_ms),
            "exec.idle_ratio": 1.0 - run_ms / (cores * wall_ms),
            "scan.files_read": mean(lambda c: c.layers.files_read),
            "scan.bytes_read": mean(lambda c: c.layers.input_bytes),
            "shuffle.write_bytes":
                mean(lambda c: c.layers.shuffle_write_bytes),
            "shuffle.read_bytes": mean(lambda c: c.layers.shuffle_read_bytes),
            "spill.bytes": mean(lambda c: c.layers.spill_bytes),
            "python.run_ms": mean(lambda c: c.layers.python_run_ms),
            "python.start_ms": mean(lambda c: c.layers.python_start_ms),
            "python.init_ms": mean(lambda c: c.layers.python_init_ms),
            "python.bytes_sent": mean(lambda c: c.layers.python_bytes_sent),
            "python.bytes_returned":
                mean(lambda c: c.layers.python_bytes_returned),
            "python.fast_path_share": (
                sum(c.layers.map_in_arrow for c in kernel) / len(kernel)
                if kernel else 0.0),
            "cache.bytes_end": float(sum(r.memSize() + r.diskSize()
                                         for r in rdds)),
            "cache.rdds_end": float(len(rdds)),
            "trace.reader_s": mean(lambda c: c.layers.reader_s),
        })
        out.update(stream_summary([(c.wall_s, c.layers) for c in calls]))
        return out

    def report_samples(self) -> None:
        """Sample counts and timings, on traced runs too, where the
        difference from an untraced run is the tracing overhead."""
        by_query: dict[str, list[float]] = {}
        for c in self.calls:
            by_query.setdefault(c.name, []).append(c.wall_s)
        _log("samples:", len(self.calls), "calls in", len(self.passes),
             "passes of", json.dumps([round(p, 3) for p in self.passes]),
             "s; query_latency_p50_s",
             round(statistics.median(c.wall_s for c in self.calls), 4),
             "pass_s", round(statistics.median(self.passes), 4),
             "; per-query median s:",
             json.dumps({k: round(statistics.median(v), 4)
                         for k, v in sorted(by_query.items())}))


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="input tables, read only (default: "
                    "the sf0.1 directory beside the entry point's smoke sf)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sigma_rx7_spark")):
        print(f"perfbench: no sigma_rx7_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.sf_dir is None:
        from __spark_entry__ import SMOKE_SF_DIR
        args.sf_dir = os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.1")
    if not os.path.isfile(os.path.join(args.sf_dir, "lineitem.parquet")):
        print(f"perfbench: no input tables in {args.sf_dir}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    settings = pin_environment(work)
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds,
              bool(args.trace), args.sf_dir, work, settings)
    try:
        setup_s = run.setup()
        settings["spark.sql.shuffle.partitions"] = run.spark.conf.get(
            "spark.sql.shuffle.partitions")
        settings["spark.master"] = run.spark.sparkContext.master
        _log("settings:", json.dumps(settings, sort_keys=True))
        steal0, total0 = cpu_ticks()
        run.measure()
        steal1, total1 = cpu_ticks()
        run.report_samples()
        # other tenants' load on a shared host shows up as steal
        _log(f"cpu steal while measuring: "
             f"{100 * (steal1 - steal0) / max(1, total1 - total0):.1f}%")
        metrics = run.per_layer() if args.trace else run.end_to_end(setup_s)
        units = PER_LAYER if args.trace else END_TO_END
    finally:
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
            _log("stopped")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
