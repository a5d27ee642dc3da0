"""Benchmark of record for the engine: one seeded workload per run.

    python3 perfbench/run.py --workload medallion_etl --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12

Run from the repository root. Each run generates its inputs from
``--seed`` into a per-run directory under ``perfbench/_runs`` (which
also holds TMPDIR, Spark's local dirs and every index or output
path, and is deleted at exit), starts a fresh ``local[nproc]``
session through the engine's ``session.get_spark``, drives the engine
through its public functions with one closed-loop client, checks
every op against a DuckDB replay of the engine's own oracle SQL, and
prints the metrics as lines of text and, last, as one JSON object.

``--trace 0`` measures the end-to-end metrics. ``--trace 1`` runs the
same workload with Spark's event log on and a job group per op, and
prints the per-layer metrics attributed from the log; its spans and
per-op breakdown go to ``perfbench/results``. ``--workload all`` runs
every workload both ways in fresh processes and prints all metrics
with the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import traceback

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion_etl", "index_serving", "corpus_curation", "index_ingest")
END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "op_p50_ms": "ms",
              "peak_rss_mb": "MB"}
#: Driver memory passed to get_spark (its default is 16g, sized for a
#: larger host than the four-core box the benchmark is tuned on).
DRIVER_MEMORY = "1g"
#: The driver heap is committed and touched whole at JVM start, and
#: glibc keeps two malloc arenas, so the JVM's peak RSS does not depend
#: on when G1 happened to grow the heap or how many arenas threads
#: created. Heap pressure shows in ``spark.gc_s`` instead.
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
MALLOC_ARENA_MAX = "2"


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(x) for x in f.read().split()]
        except FileNotFoundError:
            pass
    return kids


def _jvm_pid(sc) -> int:
    """Pid of the driver JVM: the gateway process, or the java
    process it exec'd or spawned."""
    pid = sc._gateway.proc.pid
    todo = [pid]
    while todo:
        p = todo.pop()
        with open(f"/proc/{p}/comm") as f:
            if f.read().strip() == "java":
                return p
        todo += _children(p)
    raise RuntimeError("driver JVM not found")


class Run:
    """Per-run resources: the run directory, the Spark session, the
    tracer and the result record. ``close`` stops the session, waits
    for the JVM to exit and deletes the run directory."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.dir = os.path.join(HERE, "_runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = os.path.join(self.dir, "tmp")
        os.makedirs(self.tmp)
        os.environ["TMPDIR"] = self.tmp
        os.environ["MALLOC_ARENA_MAX"] = MALLOC_ARENA_MAX  # read by the JVM
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR for the engine's mkdtemp calls
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.jvm_pid = None
        self.jvm_proc = None
        self.tracer = Tracer(workload, enabled=trace)
        self.attempted = 0
        self.failed = 0
        self.extra: dict[str, tuple[float, str]] = {}
        self.inputs: dict = {}
        self.steal0 = _steal_s()

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self):
        from pyspark_airflow_weather_etl_spark.session import get_spark

        confs = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} {JVM_OPTIONS}",
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.path("eventlog"),
            })
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               cpus=self.cores, driver_memory=DRIVER_MEMORY,
                               extra_confs=confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        self.jvm_pid = _jvm_pid(self.spark.sparkContext)
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def check(self, ok: bool, what: str = "") -> None:
        """Count one attempted op and whether its answer was right; a
        wrong answer is reported on standard error."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"{self.workload}: wrong answer: {what}", file=sys.stderr)

    def check_rows(self, got: list[tuple], want: list[tuple], what: str) -> None:
        """``check`` for a result that must equal the oracle's rows
        exactly."""
        import oracle  # needs the engine package on sys.path, set up by main

        self.check(oracle.same_rows(got, want),
                   f"{what}: got {sorted(got)} want {sorted(want)}")

    def attempt(self, fn, *args):
        """Run one op; an op that raises counts as failed (its traceback
        goes to standard error) and returns None."""
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.check(False, f"{getattr(fn, '__name__', fn)} raised")
            return None

    def reset_peak_rss(self) -> None:
        """Start the Python process's high-water mark afresh, so input
        generation and the up-front oracle replays do not count in
        ``peak_rss_mb``. Call before set-up starts the JVM."""
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")

    def peak_rss_mb(self) -> float:
        py, jvm = _vm_hwm_kb(os.getpid()) / 1024.0, _vm_hwm_kb(self.jvm_pid) / 1024.0
        self.extra["python_peak_rss_mb"] = (py, "MB")
        self.extra["jvm_peak_rss_mb"] = (jvm, "MB")
        return py + jvm

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
                gw = SparkContext._gateway
                if gw is not None:
                    gw.shutdown()
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                if self.jvm_proc is not None:
                    if self.jvm_proc.stdin:
                        self.jvm_proc.stdin.close()
                    try:
                        self.jvm_proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        self.jvm_proc.kill()
                        self.jvm_proc.wait(timeout=30)
        finally:
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                os.rmdir(os.path.join(HERE, "_runs"))
            except OSError:
                pass


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile (0 when there are fewer than 11 samples)."""
    n = len(xs)
    if n < 11:
        return 0.0, 0.0
    pct = 100.0 * (n - 10) / n
    return sorted(xs)[n - 11], pct


def run_one(args) -> dict:
    import workloads

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = getattr(workloads, args.workload)(run)
        lines = {k: (res[k], u) for k, u in END_TO_END.items()}
        if args.trace:
            import layers

            metrics = layers.per_layer(run, res)
            run.tracer.write(os.path.join(
                HERE, "results", f"spans-{args.workload}-{args.seed}.json"))
            lines.update((k, (m["value"], m["unit"])) for k, m in metrics.items())
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in lines.items()}
        lines.update(run.extra)
        lines["cpu_steal_s"] = (_steal_s() - run.steal0, "s")
        for name, (value, unit) in lines.items():
            print(f"{args.workload} {name} {value:.6g} {unit}")
        print(f"{args.workload} inputs {json.dumps(run.inputs, sort_keys=True)}")
        return {"correct": run.failed == 0, "attempted": run.attempted,
                "failed": run.failed, "metrics": metrics}
    finally:
        run.close()


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process;
    prints every metric by name and unit, failed_frac, and the tracing
    overhead (traced minus untraced) of each end-to-end metric."""
    ok = True
    for w in WORKLOADS:
        seen: dict[int, dict[str, float]] = {}
        for t in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(t)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=900)
            out = p.stdout.strip().splitlines()
            if p.returncode != 0 or not out:
                print(p.stdout + p.stderr, file=sys.stderr)
                return 1
            seen[t] = {}
            for line in out[:-1]:
                parts = line.split(" ")
                if parts[0] != w:
                    continue
                print(("traced " if t else "") + line)
                if len(parts) == 4:
                    seen[t][parts[1]] = float(parts[2])
            res = json.loads(out[-1])
            ok &= res["correct"]
            print(f"{'traced ' if t else ''}{w} failed_frac "
                  f"{res['failed'] / res['attempted']:.6g} ratio "
                  f"({res['failed']} of {res['attempted']} ops)")
        for k, unit in END_TO_END.items():
            print(f"{w} tracing_overhead.{k} {seen[1][k] - seen[0][k]:.6g} {unit}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the run directory and the
    # JVM are still cleaned up when a caller stops the benchmark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path[:0] = [ROOT, HERE]
    import pyspark_airflow_weather_etl_spark  # noqa: F401  fails outside a checkout

    if args.workload == "all":
        return run_all(args)
    result = run_one(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
