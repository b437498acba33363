"""Run one benchmark workload against the package in this checkout.

    python3 perfbench/run.py --workload ingest_assets --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates every input
from ``--seed`` before timing starts, runs a closed loop (one client,
the next unit only after the previous one completed) for ``--seconds``
seconds with ``--trace 0``, or for a fixed number of units with
per-layer spans and counters with ``--trace 1``, checks the outputs,
and prints one JSON object as the last line of standard output. It
exits 1 when a correctness check or an operation fails, and 2 without
a result when the package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
from admission import CorpusAdmission  # noqa: E402
from harness import OperationFailed, ProcTree, Recorder, p50, storage_totals, tail  # noqa: E402
from ingest import IngestAssets  # noqa: E402
from serve import LakehouseServe  # noqa: E402

WORKLOADS = {
    "ingest_assets": IngestAssets,
    "corpus_admission": CorpusAdmission,
    "lakehouse_serve": LakehouseServe,
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _package_in_checkout() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import event_to_lakehouse_spark
    except ImportError as e:
        print(f"perfbench: package not importable from {ROOT}: {e}", file=sys.stderr)
        return False
    where = os.path.dirname(os.path.abspath(event_to_lakehouse_spark.__file__))
    if os.path.commonpath([where, ROOT]) != ROOT:
        print(f"perfbench: package found outside the checkout at {where}", file=sys.stderr)
        return False
    return True


def _environment(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout, and
    give the package's own session settings every core this process may
    use and a fixed 2 GB driver heap. With the package's 16 GB default
    the heap grows lazily, so peak RSS followed GC timing (spread 0.18 to
    0.22 across seeds, against about 0.1 at 2 GB); see the README."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no JVM perf-data files, which the JVM writes under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))} "
        "pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Run:
    """One workload run: set-up, warm-up, the timed loop, the
    correctness checks and the metrics."""

    def __init__(self, spark, wl, rec: Recorder, args, session_start_s: float):
        self.spark, self.wl, self.rec, self.args = spark, wl, rec, args
        self.session_start_s = session_start_s
        self.proc = ProcTree()
        self.units, self.lats, self.errors, self.warnings = 0, [], [], []
        self.wall = self.cpu = 0.0
        self.phases = {"session": session_start_s}

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def execute(self) -> None:
        wl, rec, args = self.wl, self.rec, self.args
        t = time.perf_counter()
        wl.setup(wl.planned_steps(args.seconds, bool(args.trace)))
        self.phases["setup"] = time.perf_counter() - t
        self.setup_s = self.session_start_s + self.phases["setup"]
        step = 0
        t_warm = time.perf_counter()
        self.storage0, self.jobs0, self.rdds0 = storage_totals(wl.work), rec.totals(), 0
        try:
            while step < wl.warmup_steps:
                wl.step(step)
                step += 1
            self.phases["warmup"] = time.perf_counter() - t_warm
            self.storage0, self.jobs0 = storage_totals(wl.work), rec.totals()
            t0, cpu0 = time.perf_counter(), self.proc.cpu_s()
            while True:
                timed = step - wl.warmup_steps
                if timed % wl.step_multiple == 0 and (
                    timed >= wl.trace_steps
                    if args.trace
                    else timed >= wl.min_steps and time.perf_counter() - t0 >= args.seconds
                ):
                    break
                if not wl.has_step(step):
                    self.warnings.append(
                        f"inputs ran out after {timed} timed steps, "
                        f"{time.perf_counter() - t0:.1f} s into the timed loop"
                    )
                    break
                with rec.unit(f"{args.workload}-{args.seed}-{step}"):
                    n, lats = wl.step(step)
                self.units += n
                self.lats += lats
                step += 1
                if timed == 0:
                    self.rdds0 = self.persisted_rdds()
            self.wall = time.perf_counter() - t0
            self.cpu = self.proc.cpu_s() - cpu0
        except OperationFailed as e:
            self.errors.append(f"run stopped at step {step}: {e}")
        wl.timed_steps = self.steps = step - wl.warmup_steps
        self.phases["timed"] = self.wall
        t_check = time.perf_counter()
        if not self.errors:
            try:
                self.errors += wl.check(step)
            except Exception as e:  # a check that cannot run has failed
                self.errors.append(f"check raised {type(e).__name__}: {e}")
        self.phases["check"] = time.perf_counter() - t_check
        self.peak_rss_mb = self.proc.peak_rss_mb()
        if args.trace:
            self.layer = self.layer_metrics()

    def end_to_end(self) -> dict[str, float]:
        units, lats = self.units, self.lats
        return {
            "throughput_per_s": units / self.wall if self.wall else 0.0,
            "latency_p50_s": p50(lats) if lats else 0.0,
            "latency_tail_s": tail(lats)[0] if lats else 0.0,
            "cpu_s_per_unit": self.cpu / units if units else 0.0,
            "peak_rss_mb": self.peak_rss_mb,
            "setup_s": self.setup_s,
        }

    def layer_metrics(self) -> dict[str, float]:
        rec, steps = self.rec, max(1, self.steps)
        out = {name: 0.0 for name, _ in M.per_layer()}
        out["session.start_s"] = self.session_start_s
        out.update(rec.call_metrics(M.CALLS))
        out.update(self.wl.layer_metrics())
        s0, s1 = self.storage0, storage_totals(self.wl.work)
        out["storage.commits_per_unit"] = (s1["commits"] - s0["commits"]) / steps
        out["storage.files_written_per_unit"] = (s1["files"] - s0["files"]) / steps
        out["storage.bytes_written_per_unit"] = (s1["bytes"] - s0["bytes"]) / steps
        out["storage.manifest_bytes"] = s1["manifest_bytes"]
        jobs, tasks, failed_tasks = (b - a for a, b in zip(self.jobs0, rec.totals()))
        out["spark.jobs_per_unit"] = jobs / steps
        out["spark.tasks_per_unit"] = tasks / steps
        out["spark.failed_tasks"] = rec.totals()[2]
        out["spark.cached_rdds_growth"] = self.persisted_rdds() - self.rdds0
        out["error_rate"] = rec.failed / max(1, rec.attempted)
        out["tracing.overhead_s_per_unit"] = rec.overhead_s / steps
        out["tracing.latency_p50_s"] = p50(self.lats) if self.lats else 0.0
        return out

    def report(self) -> dict:
        """Print the human-readable summary and return the result object."""
        args, rec, wl = self.args, self.rec, self.wl
        for e in self.errors + rec.failures:
            print(f"CHECK FAILED: {e}", flush=True)
        for w in self.warnings:
            print(f"WARNING: {w}", flush=True)
            print(f"perfbench: warning: {w}", file=sys.stderr)
        print(
            f"{args.workload} seed {args.seed}: {self.units} {wl.unit_name}s in "
            f"{self.steps} steps over {self.wall:.3f} s; {rec.attempted} operations, "
            f"{rec.failed} failed",
            flush=True,
        )
        # one latency sample per step (cycle, batch or session)
        n = len(self.lats)
        notes = {
            "latency_p50_s": f"p50, n={n}, one per {wl.step_name}",
            "latency_tail_s": f"{tail(self.lats)[1] if n else 'none'}, n={n}, one per {wl.step_name}",
        }
        e2e = self.end_to_end()
        for name, unit, _ in M.END_TO_END:
            note = f"  ({notes[name]})" if name in notes else ""
            print(f"  {name:<18} {e2e[name]:.6g} {unit}{note}", flush=True)
        print(f"  {'error_rate':<18} {rec.failed / max(1, rec.attempted):.6g} ratio", flush=True)
        if args.trace:
            for name, unit in M.per_layer():
                print(f"  {name:<44} {self.layer[name]:.6g} {unit}", flush=True)
            for name, s in sorted(rec.self_times().items()):
                print(f"  self time {name:<34} {s:.6g} s", flush=True)
            metrics = {n: {"value": self.layer[n], "unit": u} for n, u in M.per_layer()}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in M.END_TO_END}
        return {
            "correct": not self.errors and rec.failed == 0,
            "attempted": max(1, rec.attempted),
            "failed": rec.failed,
            "metrics": metrics,
        }


def main(argv=None) -> int:
    args = _parse(argv)
    if not _package_in_checkout():
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    from event_to_lakehouse_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t
    rec = Recorder(spark, trace=bool(args.trace))
    run = Run(spark, WORKLOADS[args.workload](spark, rec, args.seed, work), rec, args, session_start_s)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        run.execute()
        if args.trace:
            rec.dump_spans(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.json"))
    finally:
        t = time.perf_counter()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        run.phases["stop"] = time.perf_counter() - t
    # where a run's wall time goes, for sizing the run schedule
    print("phases_s " + " ".join(f"{k}={v:.2f}" for k, v in run.phases.items()), file=sys.stderr)
    result = run.report()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
