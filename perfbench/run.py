"""Benchmark of barks_ocr_spark: one workload per run, one JSON line out.

Usage, from the root of a source checkout:

    python3 perfbench/run.py --workload extract|resume|hygiene \\
        --seed N --seconds S --trace 0|1

A run generates (or reuses the cached) inputs for ``--seed``, sets up,
then measures whole units of work until ``--seconds`` have passed, with
every output checked against a reference. All Spark work runs in this
one process at ``local[<cores>]``, with no extra client threads. The
last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones listed in
BENCHMARK.json; with ``--trace 1`` a run alternates untraced and traced
units and reports the per-layer ones, tracing overhead included (layers
a workload leaves idle read 0); the spans go to
``.perfbench/traces/``. Everything the benchmark writes stays under
``.perfbench/`` in the checkout.

Set-up, reported as ``setup_s``, is the median over ``SETUP_ROUNDS``
rounds of (session start + input registration) — the first round
launches the JVM, later rounds restart the SparkContext in it — plus
the warm-up units the workload needs before units run at a steady
speed (``Workload.warmup_units``). Input generation is excluded: it is cached per seed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

SETUP_ROUNDS = 3
DRIVER_MEMORY = "2g"



def load_spec() -> dict[str, dict[str, str]]:
    """Metric name -> unit, per kind ("end_to_end", "per_layer"), from
    the repository's BENCHMARK.json: the one list of reported metrics."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {kind: {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # fixed str hashing in the Python workers, for repeatable runs
    os.environ["PYTHONHASHSEED"] = "0"


def start_session(cores: int):
    from barks_ocr_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # keeps the engine's GC choice, adds the JVM temp dir
            "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={WORK / 'tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Meter:
    """Wall and process-tree CPU of each unit, plus check tallies."""

    def __init__(self) -> None:
        self.ok = 0
        self.attempted = 0

    def tally(self, ok: int, attempted: int) -> None:
        self.ok += ok
        self.attempted += attempted

    def units(self, wl, spark, seconds: float, tracer, min_units: int = 1) -> list[dict]:
        from procstat import tree_cpu_s

        pid = os.getpid()
        out = []
        end = time.perf_counter() + seconds
        while len(out) < min_units or time.perf_counter() < end:
            cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
            with tracer.span("unit") as span:
                u = wl.run_unit(spark)
            wall = time.perf_counter() - t0
            out.append(
                {"unit": u, "wall": wall, "cpu": tree_cpu_s(pid) - cpu0, "span": span}
            )
            self.tally(u.ok, u.attempted)
            self.tally(*wl.check_unit(spark))
        return out


def end_to_end(samples: list[dict], setup_s: float, peak_rss: int, meter: Meter) -> dict:
    med = statistics.median
    commit = [c for s in samples for c in s["unit"].commits_s] or [s["wall"] for s in samples]
    return {
        "docs_per_s": med(s["unit"].docs / s["wall"] for s in samples),
        "cpu_s_per_kdoc": med(s["cpu"] / (s["unit"].docs / 1000) for s in samples),
        "commit_s": med(commit),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "ok_frac": meter.ok / meter.attempted,
    }


def per_layer(
    wl, tracer, traced: list[dict], untraced: list[dict], starts: list[float], names
) -> dict:
    from tracing import inclusive, self_times

    from barks_ocr_spark.kernels import arrowspans

    selft, incl = self_times(tracer.spans), inclusive(tracer.spans)
    kids: dict[int, list] = {}
    for s in tracer.spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(root) -> list:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.span_id, ()))
        return out

    samples: dict[str, list[float]] = {}
    for t in traced:
        for k, v in wl.unit_metrics(subtree(t["span"]), selft, incl).items():
            samples.setdefault(k, []).extend(v)
    med = statistics.median
    values = {k: float(med(v)) for k, v in samples.items() if v}
    values["session.start_s"] = med(starts)

    batches = wl.kernel_docs()
    if batches:
        repeating = frozenset(wl.inputs.meta["repeating"])
        n = sum(b.num_rows for b in batches)
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            for b in batches:
                arrowspans.extract_batch(b, repeating)
            walls.append(time.perf_counter() - t0)
        values["kernels.arrowspans.docs_per_s"] = n / med(walls)
        if "extraction.pass2_executor_run_s" in values:
            kernel_s = wl.n_docs / values["kernels.arrowspans.docs_per_s"]
            values["extraction.boundary_s"] = values["extraction.pass2_executor_run_s"] - kernel_s
    values["trace.untraced_unit_s"] = med(s["wall"] for s in untraced)
    values["trace.traced_unit_s"] = med(s["wall"] for s in traced)
    values["trace.overhead_s"] = values["trace.traced_unit_s"] - values["trace.untraced_unit_s"]
    return {k: values.get(k, 0.0) for k in names}


def shutdown_jvm(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM and every
    process it started (the Python daemon and its workers) to end."""
    from procstat import tree_pids, wait_gone
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    tree = tree_pids(gw.proc.pid)
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    left = wait_gone(tree, 60)
    if left:
        raise RuntimeError(f"processes still running after shutdown: {left}")


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import inputs as inp
    from procstat import RssSampler
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS

    reported = load_spec()["per_layer" if traced else "end_to_end"]
    cores = _cores()
    data = inp.load(WORK / "cache", workload, seed)
    # the workload gets the real tracer only for the traced window
    wl = WORKLOADS[workload](data, WORK, cores, NullTracer())
    meter = Meter()
    with RssSampler() as rss:
        rounds, starts, spark = [], [], None
        for _ in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(cores)
            starts.append(time.perf_counter() - t0)
            wl.register(spark)
            rounds.append(time.perf_counter() - t0)
        wl.prepare_checks(spark)
        t0 = time.perf_counter()
        meter.units(wl, spark, 0, wl.tracer, wl.warmup_units)
        setup_s = statistics.median(rounds) + time.perf_counter() - t0

        if traced:
            # untraced and traced units alternate, so warm-up drift does
            # not show up as tracing overhead
            tracer, untraced = Tracer(), wl.tracer
            tracer.bind(spark.sparkContext)
            samples, traced_samples = [], []
            end = time.perf_counter() + 2 * seconds
            while not traced_samples or time.perf_counter() < end:
                samples += meter.units(wl, spark, 0, untraced)
                wl.tracer = tracer
                wl.install_wrappers()
                try:
                    traced_samples += meter.units(wl, spark, 0, tracer)
                finally:
                    tracer.unwrap_all()
                    wl.tracer = untraced
            tracer.write(WORK / "traces" / f"{workload}-s{seed}.jsonl")
        else:
            rss.reset()
            samples = meter.units(wl, spark, seconds, wl.tracer)
            peak = rss.peak
        meter.tally(*wl.final_check(spark))
        if traced:
            metrics = per_layer(wl, tracer, traced_samples, samples, starts, reported)
        else:
            metrics = end_to_end(samples, setup_s, peak, meter)
        shutdown_jvm(spark)
    log = {
        "setup_rounds_s": rounds,
        "warmup_s": setup_s - statistics.median(rounds),
        "unit_walls_s": [s["wall"] for s in samples],
    }
    print(json.dumps(log), file=sys.stderr)
    failed = meter.attempted - meter.ok
    return {
        "correct": failed == 0,
        "attempted": meter.attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": unit} for k, unit in reported.items()
        },
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("extract", "resume", "hygiene"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "barks_ocr_spark" / "__init__.py").is_file():
        print(f"no barks_ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import barks_ocr_spark

    if Path(barks_ocr_spark.__file__).resolve().parent != ROOT / "barks_ocr_spark":
        print("barks_ocr_spark imported from outside the checkout", file=sys.stderr)
        return 2
    _configure_env()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
