"""Self-test of the benchmark, sized to run in a few minutes.

    python3 perfbench/selftest.py [--sf-dir <tables>]

Runs every workload at a small scale factor (by default the entry
point's smoke sf) in one Spark session, once
untraced and once traced, and checks that:

- every metric named in ``BENCHMARK.json`` is emitted, with the unit the
  file gives it, as a finite number, and nothing else is emitted;
- the gate passed (no failed call);
- per query, the traced calls' ``build.s + exec.s`` reconciles with the
  untraced wall time: the medians differ by at most ``REL_TOL`` of the
  untraced median plus ``ABS_TOL_S``. The traced timing regions exclude
  the layer reader's own work, so only run-to-run noise separates them;
- the SQL metric parser reads Spark's formatted values.

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as bench  # noqa: E402

REL_TOL = 0.5
ABS_TOL_S = 0.25
PASSES = 3


def check_metrics(label: str, metrics: dict, spec: list[dict],
                  problems: list[str]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    if set(metrics) != set(want):
        problems.append(f"{label}: emitted {sorted(metrics)} "
                        f"but BENCHMARK.json names {sorted(want)}")
    for name, unit in want.items():
        m = metrics.get(name)
        if m is None:
            continue
        if m["unit"] != unit:
            problems.append(f"{label}: {name} unit {m['unit']!r} != {unit!r}")
        if not isinstance(m["value"], (int, float)) or not math.isfinite(
                m["value"]):
            problems.append(f"{label}: {name} value {m['value']!r}")


def reconcile(label: str, untraced: list, traced: list,
              problems: list[str]) -> None:
    def by_query(calls):
        out: dict[str, list[float]] = {}
        for c in calls:
            out.setdefault(c.name, []).append(c.wall_s)
        return {k: statistics.median(v) for k, v in out.items()}

    plain, with_trace = by_query(untraced), by_query(traced)
    for name, wall in sorted(plain.items()):
        got = with_trace.get(name)
        ok = got is not None and abs(got - wall) <= REL_TOL * wall + ABS_TOL_S
        print(f"  {label} {name}: untraced {wall:.3f} s, traced build+exec "
              f"{got if got is None else round(got, 3)} s "
              f"{'ok' if ok else 'OUT OF TOLERANCE'}")
        if not ok:
            problems.append(f"{label}: {name} traced {got} vs {wall}")


def check_parser(problems: list[str]) -> None:
    from perfbench.layers import parse_metric
    cases = {
        "1,234": 1234.0,
        "16 ms": 16.0,
        "1885.0 B": 1885.0,
        "total (min, med, max (stageId: taskId))\n2.5 s (546 ms, 674 ms, "
        "710 ms (stage 40.0: task 39))": 2500.0,
        "total (min, med, max (stageId: taskId))\n540.9 KiB (135.2 KiB, "
        "135.2 KiB, 135.2 KiB (stage 40.0: task 37))": 540.9 * 1024,
    }
    for text, want in cases.items():
        got = parse_metric(text)
        if abs(got - want) > 1e-6 * want:
            problems.append(f"parse_metric({text!r}) = {got}, want {want}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir")
    args = ap.parse_args(argv)
    if args.sf_dir is None:
        from __spark_entry__ import SMOKE_SF_DIR
        args.sf_dir = SMOKE_SF_DIR
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from perfbench.workloads import WORKLOADS

    problems: list[str] = []
    check_parser(problems)
    work = os.path.join(bench.WORK_DIR, f"selftest-{os.getpid()}")
    settings = bench.pin_environment(work)
    spark = None
    try:
        for name in (w["name"] for w in spec["workloads"]):
            results = {}
            for trace in (False, True):
                run = bench.Run(WORKLOADS[name], seed=1, seconds=0.0,
                                trace=trace, sf_dir=args.sf_dir,
                                work=os.path.join(work, f"{name}-{trace}"),
                                settings=dict(settings))
                setup_s = run.setup()
                spark = run.spark
                for _ in range(PASSES):
                    run.measure()
                metrics = run.per_layer() if trace else run.end_to_end(setup_s)
                units = bench.PER_LAYER if trace else bench.END_TO_END
                label = f"{name} trace={int(trace)}"
                check_metrics(label,
                              {k: {"value": metrics[k], "unit": u}
                               for k, u in units.items()},
                              spec["per_layer" if trace else "end_to_end"],
                              problems)
                if run.failed:
                    problems.append(f"{label}: {run.failed} failed calls")
                results[trace] = run.calls
            reconcile(name, results[False], results[True], problems)
    finally:
        if spark is not None:
            bench.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("selftest FAIL:", p)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
