"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` under ``.perfbench/work/`` (ignored by git) and removed
at the end; every file Spark, the JVM and Python's ``tempfile`` write
goes there too. The program is driven only through its public functions
on ``local[N]``, N = min(4, cores), by one closed-loop client. The
persisted ANN index the dashboard reads is built once per checkout
under ``.perfbench/ann/`` (see ``anncache.py``). Before each session of
requests the client waits, unmeasured, for the rest of the machine to
be quiet (:class:`QuietGate`).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries the input facts, host-drift gauges and set-up samples; the
spans of a traced run are written to ``.perfbench/runs/``. Exit code 1
means a request failed or returned a wrong answer; 2 means the package
is not importable from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SETUP_REPS = 3
#: the quiet gate before each session: the rest of the machine (other
#: processes, and other guests through hypervisor steal) may use at most
#: QUIET_SHARE of its CPU time over a PROBE_S probe; the gate gives up
#: after GATE_CAP_S, and after RUN_GATE_CAP_S of waiting in one run
QUIET_SHARE, PROBE_S, GATE_CAP_S, RUN_GATE_CAP_S = 0.10, 0.4, 3.0, 6.0

#: end-to-end metrics (printed with --trace 0) and their units
#: (the median request latency is in the detail line, not here: over ten
#: seeds its spread reached 0.25 of its median on the dashboard)
E2E = {"setup_s": "s", "requests_per_s": "1/s", "peak_rss_mb": "MB"}


def _isolate(work: str, cores: int) -> None:
    """Keep every file the run writes inside ``work``; must run before
    pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        # a heap the workloads fill, so peak RSS does not hinge on when
        # the collector chooses to grow it
        "SPARK_DRIVER_MEM": "1g",
        # every JVM, the spark-submit launcher included: no /tmp perf data
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse/ and metastore files land here


def _rss_reset(pids: list[int]) -> None:
    """Start the peak-RSS window here (Linux 4.0+; elsewhere the peak
    covers the whole process life)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")  # reset the peak-RSS high-water mark
        except OSError:
            pass


def _rss_peak_mb(pids: list[int]) -> float:
    total = 0.0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024.0
    return total


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return round(100.0 * d[7] / max(1, sum(d[:8])), 2)


class QuietGate:
    """Waits before a session until the machine's CPUs are not busy with
    anything but this run: busy time in ``/proc/stat`` (steal included)
    minus the CPU time of the run's own processes, as a share of all CPU
    time, at most :data:`QUIET_SHARE` over one probe. A closed-loop
    client's think time between sessions, spent where a co-tenant's
    burst would otherwise land inside the measured requests."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.waited_s = 0.0
        self.gates = self.timeouts = 0
        self.others = []

    def _sample(self) -> tuple[list[int], int]:
        own = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            own += int(fields[11]) + int(fields[12])  # utime + stime
        return _cpu_times(), own

    def wait(self) -> None:
        t0 = time.perf_counter()
        cap = min(GATE_CAP_S, RUN_GATE_CAP_S - self.waited_s)
        while True:
            c0, own0 = self._sample()
            time.sleep(PROBE_S)
            c1, own1 = self._sample()
            d = [b - a for a, b in zip(c0[:8], c1[:8])]
            busy = sum(d) - d[3] - d[4]  # all but idle and iowait
            share = max(0, busy - (own1 - own0)) / max(1, sum(d))
            if share <= QUIET_SHARE or time.perf_counter() - t0 >= cap:
                break
        self.gates += 1
        self.timeouts += share > QUIET_SHARE
        self.others.append(round(share, 3))
        self.waited_s += time.perf_counter() - t0


def _io_gauge(work: str, mb: int = 32) -> dict:
    """Timed re-read of a fixed file: once after dropping it from the
    page cache (device read) and once warm (page-cache copy)."""
    path = os.path.join(work, "io_gauge.bin")
    block = bytes(range(256)) * 4096
    with open(path, "wb") as fh:
        for _ in range(mb):
            fh.write(block)
        fh.flush()
        os.fsync(fh.fileno())
    out = {}
    for label in ("cold", "warm"):
        fd = os.open(path, os.O_RDONLY)
        try:
            if label == "cold":
                os.posix_fadvise(fd, 0, 0, os.POSIX_FADV_DONTNEED)
            t0 = time.perf_counter()
            while os.read(fd, 1 << 20):
                pass
            out[f"io_reread_{label}_s"] = round(time.perf_counter() - t0, 4)
        finally:
            os.close(fd)
    os.remove(path)
    return out


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        import customer_revenue_analysis_sql_tableau_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _isolate(work, cores)
        return run(args, WORKLOADS[args.workload](ROOT, work, args.seed), cores, work, t_start)
    finally:
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm() -> None:
    """End the gateway JVM and wait for it: it exits when its stdin closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=120)


def run(args, wl, cores: int, work: str, t_start: float) -> int:
    import bench
    from tracing import LAYER_METRICS, Tracer

    gauges = {"cpu_calibration_s": bench._cpu_calibration(),
              "cpu_calibration_mt_s": bench._cpu_calibration_mt(cores), **_io_gauge(work)}
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    from customer_revenue_analysis_sql_tableau_spark.session import get_spark

    tracer = Tracer(cores)
    if args.trace:
        tracer.install()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    setup_s = []
    for rep in range(SETUP_REPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        wl.setup(spark, rep)
        setup_s.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    wl.prepare(spark)
    prepare_s = time.perf_counter() - t0
    if args.trace:
        tracer.attach(spark)
    pids = [os.getpid(), spark._jvm.ProcessHandle.current().pid()]
    gate = QuietGate(pids)
    _rss_reset(pids)

    lat_ms: list[float] = []
    log: list[list] = []
    problems: list[str] = []
    attempted = failed = 0
    passes, window0, cpu0 = 0, time.perf_counter(), _cpu_times()
    while passes < 1 or time.perf_counter() - window0 - gate.waited_s < args.seconds:
        for session in wl.sessions(spark, passes):
            gate.wait()
            for kind, fn in session:
                attempted += 1
                tracer.active = bool(args.trace)
                tracer.begin(attempted, kind)
                t0 = time.perf_counter()
                try:
                    out = fn()
                    err = None
                except Exception as e:  # noqa: BLE001 - a failed request is counted, not fatal
                    err = f"{kind}: {type(e).__name__}: {e}"[:400]
                dt = time.perf_counter() - t0
                tracer.end(dt)
                tracer.active = False
                if wl.e2e_kinds is None or kind in wl.e2e_kinds:
                    lat_ms.append(dt * 1e3)
                log.append([kind, round(dt * 1e3, 1)])
                if err:
                    wl.on_error(kind)
                bad = [err] if err else wl.check(kind, out)
                if bad:
                    failed += 1
                    problems += bad
        passes += 1
    window_s = time.perf_counter() - window0 - gate.waited_s
    gauges["cpu_steal_pct"] = _steal_pct(cpu0, _cpu_times())
    rss_mb = _rss_peak_mb(pids)
    final = wl.finish(spark)
    if final:
        failed += 1
        problems += final
    spark.stop()

    if args.trace:
        tracer.extra = {"session.start_s": session_start_s,
                        "trace.latency_p50_ms": statistics.median(lat_ms), **wl.layer_extra()}
        values = tracer.metrics()
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in LAYER_METRICS.items()}
        os.makedirs(os.path.join(ROOT, ".perfbench", "runs"), exist_ok=True)
        with open(os.path.join(ROOT, ".perfbench", "runs",
                               f"{wl.name}-seed{args.seed}-trace.json"), "w") as fh:
            json.dump(tracer.dump(), fh)
    else:
        values = {"setup_s": statistics.median(setup_s),
                  "requests_per_s": len(lat_ms) / (sum(lat_ms) / 1e3),
                  "peak_rss_mb": rss_mb}
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"workload": wl.name, "seed": args.seed, "why": wl.why, "facts": wl.facts,
                      "gauges": gauges, "generate_s": round(gen_s, 3),
                      "session_start_s": round(session_start_s, 3),
                      "setup_samples_s": [round(s, 3) for s in setup_s],
                      "prepare_s": round(prepare_s, 3),
                      "latency_p50_ms": round(statistics.median(lat_ms), 1),
                      "window_s": round(window_s, 3),
                      "passes": passes,
                      "quiet_gate": {"gates": gate.gates, "timeouts": gate.timeouts,
                                     "waited_s": round(gate.waited_s, 2),
                                     "others_share": gate.others},
                      "run_s": round(time.perf_counter() - t_start, 1),
                      "requests_ms": log,
                      "problems": problems[:20]}, default=str))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
