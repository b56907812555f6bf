"""Steadiness check: run workloads over several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a
share of the median, next to the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads dashboard corpus_clean --seeds 1-10
    python3 perfbench/steady.py --workloads dashboard --seeds 1-3 --trace

With ``--trace`` every seed also runs traced, and the tracing overhead
(traced minus untraced median request latency) is printed per workload. The
shuffle-bandwidth gauge from bench.py (a Spark session of its own and
10-20 s, too slow to run beside every run) is taken once before and once
after the series.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n"
                         f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    return {"detail": json.loads(lines[-2]), **json.loads(lines[-1])}


def shuffle_gauge() -> None:
    """Print bench.py's shuffle-bandwidth gauge, run in an isolated work dir."""
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    import run

    work = os.path.join(root, ".perfbench", "work", f"gauge-{os.getpid()}")
    os.makedirs(work)
    try:
        run._isolate(work, min(4, os.cpu_count() or 1))
        import bench
        from customer_revenue_analysis_sql_tableau_spark.session import get_spark

        spark = get_spark("perfbench-gauge")
        print(json.dumps({"shuffle_calibration_s": bench._bandwidth_calibration(spark)}))
        spark.stop()
    finally:
        run._stop_jvm()
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)


def _gauge() -> float:
    p = subprocess.run([sys.executable, __file__, "--shuffle-gauge"], capture_output=True,
                       text=True, timeout=600, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])["shuffle_calibration_s"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--shuffle-gauge", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.shuffle_gauge:
        return shuffle_gauge()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    gauge0 = _gauge()
    report = {}
    for w in workloads:
        runs = [_run(w, s, spec["run_seconds"], 0) for s in _seeds(args.seeds)]
        rows = {}
        for name in bounds:
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med,) * 3
            spread = (q3 - q1) / med
            rows[name] = {"median": med, "spread": spread, "bound": bounds[name], "values": vals}
            print(f"{w:14s} {name:16s} median {med:12.4f}  spread {spread:7.4f}"
                  f"  bound {bounds[name]:.2f}", flush=True)
        walls = [r["detail"]["run_s"] for r in runs]
        report[w] = {"metrics": rows, "gauges": [r["detail"]["gauges"] for r in runs],
                     "run_s": walls, "requests_ms": [r["detail"]["requests_ms"] for r in runs]}
        print(f"{w:14s} run wall median {statistics.median(walls):.1f} s, "
              f"total {sum(walls):.0f} s", flush=True)
        if args.trace:
            traced = [_run(w, s, spec["run_seconds"], 1) for s in _seeds(args.seeds)]
            t = statistics.median(r["metrics"]["trace.latency_p50_ms"]["value"] for r in traced)
            untraced = statistics.median(r["detail"]["latency_p50_ms"] for r in runs)
            report[w]["trace_overhead_ms"] = t - untraced
            print(f"{w:14s} tracing overhead {report[w]['trace_overhead_ms']:.1f} ms on "
                  f"the median request latency", flush=True)
    report["shuffle_calibration_s"] = {"before": gauge0, "after": _gauge()}
    print(json.dumps(report))


if __name__ == "__main__":
    main()
