"""KG-pipeline benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload dense_oneshot --seed 1 --seconds 1 --trace 0

Workloads (see workloads.py): dense_oneshot, crawl_incremental.  Run from
the repository root; everything a run writes stays under perfbench/.work/.

``--trace 0`` measures the end-to-end metrics with tracing off, in one
driver process, the way one spark-submit of the pipeline runs: a
local[nproc] session in a JVM of its own, then operations for
``--seconds`` (at least one; the first is what a fresh job pays, JIT and
worker imports included), then the correctness gate.

``setup_s`` is that session's set-up (JVM start, session start and the
first Python-worker job), once per run: another cold set-up would add
12-19 s to every run (see METRICS.md).  Times are CPU seconds charged to the driver, the JVM
and the Python workers: on a shared host the hypervisor steals CPU, and
stolen time is not charged.  Wall times are printed alongside.

``--trace 1`` runs the layer sweep of layers.py instead and reports the
per-layer metrics.  The last stdout line is the result object; the line
before it prints every metric by name and unit, with the run's nproc, host
steal share, input fingerprint, wall times and phase times.  Exit codes: 2
when the checkout's package is not importable, 3 when the input
fingerprint differs from its pin.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from inputs import WORKLOADS, FingerprintMismatch

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Run:
    """One benchmark run: its inputs, oracle, sessions and gate results."""

    def __init__(self, workload: str, seed: int, seconds: float):
        from inputs import check_pin, generate, shim_triples

        self.workload = workload
        self.seconds = seconds
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, ".work", f"{workload}-s{seed}")
        shutil.rmtree(self.work, ignore_errors=True)
        # keep every scratch file of Python, Spark and the JVMs in the run's
        # directory (and no JVM perf-data files in the system temp directory)
        for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
            os.makedirs(os.path.join(self.work, sub))
            os.environ[var] = os.path.join(self.work, sub)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.inputs = generate(workload, seed)
        check_pin(self.inputs)
        self.inputs.write(os.path.join(self.work, "input"))
        self.shim = shim_triples(self.inputs, os.path.join(HERE, ".work", "oracle"))
        self.failures: list[str] = []
        self.attempted = 0
        self.extra: dict = {}
        self.phases = {"inputs": round(time.perf_counter() - T0, 2)}

    def phase(self, name: str, t0: float) -> float:
        """Record the wall of a run phase that started at ``t0``."""
        now = time.perf_counter()
        self.phases[name] = round(self.phases.get(name, 0.0) + now - t0, 2)
        return now

    def session(self, cores: int, tracer=None, event_log=None):
        """Start a session and run its first Python-worker job; returns
        (spark, set-up wall seconds, set-up CPU seconds)."""
        from spans import tree_cpu_s
        from workloads import first_python_job, sides_of, start_session

        t0, c0 = time.perf_counter(), tree_cpu_s()
        spark = start_session(self.work, f"local[{cores}]", event_log)
        first_python_job(spark, sides_of(self.inputs))
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        if tracer is not None:
            tracer.spark = spark
        return spark, wall, cpu

    def record(self, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failures.append(problem)

    def check_batch(self, spark, outs: list[str], n_rows: int) -> int:
        """Gate each operation output against the shim's graph over the
        first ``n_rows`` input rows; returns the expected graph size."""
        from inputs import expected_graph
        from workloads import canonical_reference, check_canonical, check_graph

        expected = expected_graph(self.shim, n_rows)
        canon = None
        if self.workload == "dense_oneshot":
            gaz = spark.createDataFrame(self.inputs.gazetteer)
            canon = canonical_reference(spark, os.path.join(outs[-1], "graph"), gaz)
        for out in outs:
            problem = check_graph(os.path.join(out, "graph"), expected)
            if problem is None and canon is not None:
                problem = check_canonical(os.path.join(out, "canonical"), canon)
            self.record(problem)
        return len(expected)

    def measure(self) -> dict:
        from spans import RssSampler, Tracer, tree_cpu_s
        from workloads import BATCH_OPS, sides_of

        op = BATCH_OPS[self.workload]
        off = Tracer(enabled=False)
        sides = sides_of(self.inputs)
        files = self.inputs.files
        out = lambda tag: os.path.join(self.work, "out", tag)  # noqa: E731

        t = time.perf_counter()
        spark, setup_wall, setup_cpu = self.session(self.nproc)
        t = self.phase("setup", t)
        gaz = spark.createDataFrame(self.inputs.gazetteer)
        outs, lat, cpu = [], [], []
        with RssSampler() as rss:
            t_loop = time.perf_counter()
            while not lat or time.perf_counter() - t_loop < self.seconds:
                outs.append(out(str(len(lat))))
                t0, c0 = time.perf_counter(), tree_cpu_s()
                op(spark, files, sides, gaz, outs[-1], off)
                lat.append(time.perf_counter() - t0)
                cpu.append(tree_cpu_s() - c0)
        t = self.phase("measure", t)
        n_graph = self.check_batch(spark, outs, len(self.inputs.docs))
        spark.stop()
        self.phase("gate", t)

        r3 = lambda xs: [round(x, 3) for x in xs]  # noqa: E731
        self.extra = {
            "op_s": r3(lat), "op_cpu_s": r3(cpu), "setup_wall_s": round(setup_wall, 3),
            "wall_triples_per_s": round(n_graph / statistics.median(lat), 3),
        }
        return {
            "triples_per_cpu_s": (n_graph / statistics.median(cpu), "triples/cpu-s"),
            "setup_s": (setup_cpu, "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }


def stop_gateway() -> None:
    """Stop the JVM this process launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import literature_to_facts_spark as pkg
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported {pkg.__file__}, not the checkout's package", file=sys.stderr)
        return 2
    from spans import cpu_times, steal_pct

    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cpu0 = cpu_times()
    try:
        run = Run(args.workload, args.seed, args.seconds)
    except FingerprintMismatch as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    try:
        if args.trace:
            from layers import sweep

            metrics = sweep(run)
        else:
            metrics = run.measure()
    finally:
        t = time.perf_counter()
        stop_gateway()
        run.phase("stop", t)

    line = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": run.nproc, "steal_pct": round(steal_pct(cpu0, cpu_times()), 3),
        "fingerprint": run.inputs.fingerprint,
        "metrics": {k: f"{v:.6g} {u}" for k, (v, u) in metrics.items()},
        **run.extra, "phases_s": run.phases, "wall_s": round(time.perf_counter() - T0, 2),
        "failures": run.failures[:5],
    }
    print("perfbench: " + json.dumps(line))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
