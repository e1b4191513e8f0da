#!/usr/bin/env python3
"""Per-PR benchmark of the log engine: one workload per process.

    python3 perfbench/run.py --workload report --seed 1 --seconds 5 --trace 0

Run from the repository root. The process starts a local Spark session
(three times over, one after the other, in an untraced run: setup_s is the
median), generates its seeded input (cached under .perfbench_work/), then
calls the workload's user entry point until `--seconds` of calls have been
measured, checking every call's output against the DuckDB oracle. The last
stdout line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
process also makes traced calls and runs the layer-isolation stack, and
prints the per-layer ledger instead.
Everything the engine prints goes to stderr.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")


@dataclass(frozen=True)
class Workload:
    call: str         # "run_job" or "run_resumable"
    lines: int        # input lines
    days: int         # day span of the input


# Each run is measured as the CLI runs it: fresh process, one measured
# session, calls on that cold session. A call outlasts any --seconds the benchmark uses, so a
# run measures one cold call. BENCHMARK.json says why each workload was
# chosen.
WORKLOADS = {
    "report": Workload("run_job", 3_000, 1),
    "ingest_bulk": Workload("run_resumable", 20_000, 2),
}

# Session starts per untraced run; setup_s is their median. The first start
# runs from process start (imports included), each later one relaunches the
# JVM and the session in the same process.
SETUP_SAMPLES = 3


def log(msg: str) -> None:
    print(f"perfbench [{time.time() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """One benchmark process: its work dir, session, inputs and calls."""

    def __init__(self, name: str, seed: int, trace: bool):
        self.wl, self.seed, self.trace = WORKLOADS[name], seed, trace
        self.run_dir = os.path.join(WORK, "runs", f"{os.getpid()}-{time.time_ns()}")
        self.data_root = os.path.join(self.run_dir, "data")
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        self.n_calls = 0
        # Before the engine is imported: its stage dirs land under this run's
        # data root, and Spark, the JVM and the Python workers keep their
        # scratch files inside the run dir.
        for sub in ("data", "tmp", "spark-local", "eventlog", "out"):
            os.makedirs(os.path.join(self.run_dir, sub))
        os.environ["SPARK_GRAFT_DATA_DIR"] = self.data_root
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # ---------------------------------------------------------- inputs
    def make_input(self) -> None:
        """The measured input and its oracle results (cached). They are made
        in a child process, so the generator's and DuckDB's memory stays out
        of the measured process tree."""
        from perfbench import inputs

        kind = "sinks" if self.wl.call == "run_job" else "route"
        args = [os.path.join(WORK, "inputs"), self.seed, self.wl.lines, self.wl.days, kind]
        subprocess.run([sys.executable, "-m", "perfbench.inputs", *map(str, args), str(nproc())],
                       cwd=ROOT, check=True, stdout=sys.stderr)
        self.pages, self.expected = inputs.prepare(*args, nproc())

    # ---------------------------------------------------------- session
    def start_session(self) -> None:
        from mongo_log_parser_spark.session import build_session

        conf = {
            "spark.driver.memory": "4g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        n = nproc()
        self.spark = build_session(app_name="perfbench", master=f"local[{n}]",
                                   shuffle_partitions=n, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        """Stop Spark, then end the JVM and wait for it: the gateway JVM
        exits when its stdin closes (PySpark's launcher keeps the Popen as
        gateway.proc). The next start_session launches a new JVM."""
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    def setup(self, samples: int) -> float:
        """Start the session `samples` times (stopping it in between) and
        return the median start time; the session of the last start stays
        up. The first start counts from process start."""
        times = []
        for i in range(samples):
            if i:
                self.stop_session()
            t = T_PROCESS if i == 0 else time.time()
            self.start_session()
            times.append(time.time() - t)
        log("session starts: " + ", ".join(f"{t:.2f}" for t in times) + " s")
        return statistics.median(times)

    # ---------------------------------------------------------- calls
    def fresh_out(self) -> str:
        self.n_calls += 1
        return os.path.join(self.run_dir, "out", f"call{self.n_calls}")

    def call(self, pages: str, out: str, call: str | None = None) -> None:
        """The workload's user entry point, engine stdout sent to stderr."""
        from mongo_log_parser_spark import job
        from mongo_log_parser_spark.plans import manifest

        call = call or self.wl.call
        with contextlib.redirect_stdout(sys.stderr):
            if call == "run_job":
                args = job.build_parser().parse_args(
                    ["--pages", pages, "--out", out, "--drivers", "--app-name-stats"])
                job.run_job(self.spark, args)
            else:
                manifest.run_resumable(self.spark, pages, os.path.join(out, "ingest"))

    def leftover_stage_dirs(self) -> int:
        tmp = os.path.join(self.data_root, "tmp")
        return len([d for d in os.listdir(tmp) if d.startswith("stage-")]) \
            if os.path.isdir(tmp) else 0

    def check(self, out: str) -> list[str]:
        from perfbench import check

        if self.wl.call == "run_job":
            problems = check.check_report(out, self.expected)
            leftover = self.leftover_stage_dirs()
            if leftover:
                problems.append(f"{leftover} stage dirs left after run_job")
            return problems
        return check.check_ingest(os.path.join(out, "ingest"), self.expected, self.wl.days)

    def measure(self, seconds: float) -> dict:
        """Call the workload until `seconds` of calls are measured."""
        from perfbench import check

        walls, outs, attempted, failed = [], [], 0, 0
        while not walls or sum(walls) < seconds:
            out = self.fresh_out()
            attempted += 1
            t = time.perf_counter()
            try:
                self.call(self.pages, out)
            except Exception:
                traceback.print_exc()
                failed += 1
                walls.append(time.perf_counter() - t)
                shutil.rmtree(out, ignore_errors=True)
                continue
            walls.append(time.perf_counter() - t)
            log(f"call {attempted}: {walls[-1]:.2f} s")
            outs.append(check.du_mb(out))
            problems = self.check(out)
            if problems:
                failed += 1
                print(f"output check failed on call {attempted}:", *problems,
                      sep="\n  ", file=sys.stderr)
            shutil.rmtree(out, ignore_errors=True)
        return {"walls": walls, "out_mb": outs, "attempted": attempted, "failed": failed}


E2E_UNITS = {"wall_s": "s", "lines_per_s": "1/s", "setup_s": "s", "out_mb": "MB"}


def e2e_metrics(bench: Bench, setup_s: float, m: dict) -> dict:
    wall = statistics.median(m["walls"])
    values = {
        "wall_s": wall,
        "lines_per_s": bench.wl.lines / wall,
        "setup_s": setup_s,
        "out_mb": statistics.median(m["out_mb"]) if m["out_mb"] else 0.0,
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def run(args) -> dict:
    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        # setup: process start, engine import and session start; traced runs
        # report no setup_s and start once
        setup_s = bench.setup(1 if args.trace else SETUP_SAMPLES)
        try:
            bench.make_input()
            log("input and oracle results ready")
            if args.trace:
                from perfbench import trace

                observed = trace.run_traced(bench)
                log("traced calls and isolation stack done")
            else:
                m = bench.measure(args.seconds)
        finally:
            bench.stop_session()
        if args.trace:
            metrics, problems = trace.ledger(bench, observed)
            if problems:
                print("traced run check failed:", *problems, sep="\n  ", file=sys.stderr)
            m = {"attempted": 1, "failed": int(bool(problems))}
        else:
            metrics = e2e_metrics(bench, setup_s, m)
    finally:
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    return {"correct": m["failed"] == 0, "attempted": m["attempted"],
            "failed": m["failed"], "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import mongo_log_parser_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
