"""Benchmark of the billing/corpus engine on seeded workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process generates the workload's inputs
and expected outputs from ``--seed``, starts Spark on ``local[<cores>]``,
warms up (``setup_s`` covers the JVM launch and the warm-up), then runs
iterations for at least ``--seconds`` and prints one JSON line with the
median figures. Every output is checked against an independent oracle.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced iterations and reports the per-layer metrics of the
traced ones, plus ``trace.overhead_frac`` (traced over untraced median
wall time, minus one).

All files, Spark scratch and temp directories live under
``.perfbench_work/`` in the repository root and are removed on exit.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

# The first iteration is cold (15-20 s against 3-5 s warm) and counts as
# set-up. After it, iteration times keep drifting down for minutes while
# the JIT compiles (compiler threads stay busy for over 90 s), longer than
# a run can afford to wait, so every run measures at the same point of
# that drift. The median of five iterations stays clear of two slow ones:
# the second iteration, and one hit by a burst of host CPU steal (up to
# 15% for 10-30 s).
WARMUP_ITERATIONS = 1
MIN_ITERATIONS = 5
MIN_TRACED = 3  # each of traced and untraced


def _parse(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers into ``work`` (the JVM and workers inherit the environment)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # HotSpot puts its perf-data file in /tmp whatever java.io.tmpdir says
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = tmp


class Engine:
    """The Spark session, the JVM behind it and its worker processes."""

    def __init__(self, work: str):
        from openstack_billing_from_db_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.hadoop.hadoop.tmp.dir": os.path.join(work, "tmp"),
            },
        )
        self.get_spark_s = time.perf_counter() - t0
        self.jvm = self.spark.sparkContext._gateway.proc

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and every process under it."""
        from pyspark import SparkContext

        import probes

        pids = probes.descendants(self.jvm.pid)
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
            self.jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
            _reap(pids)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def _reap(pids: list[int], timeout: float = 15.0) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 5:
        time.sleep(0.1)


def _stop_descendants() -> None:
    """Terminate whatever is still running under this process, e.g. a JVM
    whose launch was interrupted."""
    import probes

    pids = probes.descendants(os.getpid())
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    _reap(pids, timeout=10.0)


class Runner:
    """Runs iterations of one workload and tallies its operations."""

    def __init__(self, workload, engine: Engine, work: str):
        import probes

        self.workload, self.engine, self.work = workload, engine, work
        self.tree = probes.ProcessTree(engine.jvm.pid)
        self.attempted = self.failed = 0
        self.k = 0

    def once(self, tracer=None) -> dict:
        """One iteration in its own temp directory, removed afterwards.
        Returns its wall time and CPU split."""
        self.k += 1
        it_dir = os.path.join(self.work, f"iter-{self.k}")
        os.makedirs(it_dir)
        tempfile.tempdir = os.environ["TMPDIR"] = it_dir
        kwargs = {}
        if tracer is not None and hasattr(self.workload, "queries"):
            kwargs["timer"] = lambda: tracer.span("plans.build_s")
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        attempted, failed = self.workload.iterate(self.engine.spark, it_dir, **kwargs)
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu() - cpu0
        tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        shutil.rmtree(it_dir, ignore_errors=True)
        self.attempted += attempted
        self.failed += failed
        return {"wall": wall, "cpu": cpu}

    def warm_up(self) -> list[float]:
        return [self.once()["wall"] for _ in range(WARMUP_ITERATIONS)]


def _median(values) -> float:
    return float(statistics.median(values))


def measure(runner: Runner, seconds: float) -> dict[str, float]:
    samples = []
    t0 = time.perf_counter()
    while len(samples) < MIN_ITERATIONS or time.perf_counter() - t0 < seconds:
        samples.append(runner.once())
    print(f"perfbench: measured iterations {[round(s['wall'], 3) for s in samples]}", file=sys.stderr)
    return {
        "wall_s": _median(s["wall"] for s in samples),
        "cpu_s": _median(s["cpu"].total for s in samples),
    }


def measure_traced(runner: Runner, seconds: float) -> dict[str, float]:
    """Traced and untraced iterations alternate; layer figures are medians
    over the traced ones."""
    import probes
    from openstack_billing_from_db_spark.streaming import sessions
    from tracing import Tracer

    ledger = probes.JobLedger(runner.engine.spark)
    traced, plain = [], []
    t0 = time.perf_counter()
    while min(len(traced), len(plain)) < MIN_TRACED or time.perf_counter() - t0 < seconds:
        if len(traced) > len(plain):
            plain.append(runner.once()["wall"])
            ledger.take()  # these jobs belong to no traced iteration
            continue
        tracer = Tracer()
        stream_before = dict(sessions.LAST_STREAM_STATS)
        with tracer.installed():
            sample = runner.once(tracer)
        sinks = tracer.windows["sinks.csv.write_s"] + tracer.windows["sinks.parquet.write_s"]
        row = probes.summarize_jobs(ledger.take(), tracer.windows["plans.build_s"], sinks)
        for layer in ("sources.mysqldump.convert_s", "plans.build_s", "sinks.csv.write_s", "sinks.parquet.write_s"):
            row[layer] = tracer.self_s.get(layer, 0.0)
        for key in ("sources.mysqldump.rows", "sinks.bytes_written", "streaming.micro_batches"):
            row[key] = tracer.counts.get(key, 0.0)
        # a streaming query run through sessions.run_stream leaves its stats here
        stream = dict(sessions.LAST_STREAM_STATS)
        commits = 0
        if stream != stream_before:
            row["streaming.micro_batches"] += stream.get("micro_batches", 0)
            commits = stream.get("micro_batches", 0) * stream.get("state_commit_partitions", 0)
        row["streaming.state_commits"] = commits
        convert = row["sources.mysqldump.convert_s"]
        row["sources.mysqldump.rows_per_s"] = row["sources.mysqldump.rows"] / convert if convert else 0.0
        row.update(
            {
                "trace.wall_s": sample["wall"],
                "driver.py_cpu_s": sample["cpu"].driver,
                "operators.jvm_cpu_s": sample["cpu"].jvm,
                "functions.py_worker_cpu_s": sample["cpu"].workers,
            }
        )
        traced.append(row)
    out = {name: _median(r[name] for r in traced) for name in traced[0]}
    out["operators.jobs_distinct_counts"] = len({r["operators.jobs"] for r in traced})
    out["trace.overhead_frac"] = out["trace.wall_s"] / _median(plain) - 1.0
    return out


def run(args, work: str) -> dict:
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    workload = workloads.make(args.workload)
    inputs_dir = os.path.join(work, "inputs")
    os.makedirs(inputs_dir)
    workload.prepare(inputs_dir, args.seed)

    t0 = time.perf_counter()
    engine = Engine(work)
    try:
        runner = Runner(workload, engine, work)
        warm = runner.warm_up()
        setup_s = time.perf_counter() - t0
        print(f"perfbench: warm-up iterations {[round(w, 3) for w in warm]}", file=sys.stderr)
        values = measure_traced(runner, args.seconds) if args.trace else measure(runner, args.seconds)
        values.update(
            setup_s=setup_s, peak_rss_mb=runner.tree.peak_rss_mb(), **{"session.get_spark_s": engine.get_spark_s}
        )
    finally:
        engine.stop()
        if hasattr(workload, "close"):
            workload.close()
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "openstack_billing_from_db_spark")):
        print("perfbench: run from a checkout of the repository (package not found)", file=sys.stderr)
        return 2
    args = _parse(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _isolate(work)
    try:
        result = run(args, work)
    finally:
        _stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run is using it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
