"""Extra benchmarks for optimization work (guide §1) — bench.py stays
frozen for the driver; all ad-hoc measurement lives here.

Usage:
    python bench_extra.py time q1 q2 ...   [--sf /root/testdata/sf1.0] [--n 2]
    python bench_extra.py plan q1 q2 ...   [--sf ...] [--tag before]
    python bench_extra.py time-all         [--sf ...]
    python bench_extra.py pyfloor          [--n 10]
    python bench_extra.py codegen [q1 ...] [--sf ...]

`time` mirrors bench.py's methodology exactly (df.count(), best-of-N,
operator caches released between runs) so numbers are comparable to the
driver's BENCH_rNN windows. `plan` writes .explain("formatted") to
plans/r07/<query>_<tag>.txt for the plan-pin deliverable, with expression
ids (`#123`, `#45L`), exchange `plan_id`s and `pythonUDF<n>` indices
stripped, so a `diff` of two tags is empty when the plans match.
`pyfloor` prints the per-job floor of a Python crossing on this host:
medians of a 4-partition no-op `mapInArrow` job, of the same job without
Python, and of `importlib.invalidate_caches()` timed inside a worker.
`codegen` builds and counts each query twice (every registry query when
none is named) and prints, per query, the generated sources the JVM
compiled in each run: a second run that still compiles means the
query's generated code differs from build to build, so the codegen
cache cannot serve it.
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

REPO = Path(__file__).resolve().parent


def _spark():
    from barks_ocr_spark.session import get_spark

    spark = get_spark("bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_time(names: list[str], sf_dir: str, n_runs: int) -> None:
    from barks_ocr_spark.operators.cacheutil import unpersist_intermediates
    from barks_ocr_spark.plans import queries as Q

    spark = _spark()
    qs = Q.queries()
    # warm the JVM/Arrow path once (same as bench.py)
    qs["pricing_summary"](spark, sf_dir).count()
    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        samples = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            samples.append(round(time.perf_counter() - t0, 3))
            unpersist_intermediates()
        out[name] = {"best": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    total = round(sum(v["best"] for v in out.values()), 3)
    print(json.dumps({"total_best": total, "sf": sf_dir, "queries": out}))
    spark.stop()


def normalize_plan(txt: str) -> str:
    """Drop the ids Spark numbers per session: expression ids, exchange
    plan ids and the indices of extracted Python UDF results."""
    txt = re.sub(r"#\d+L?", "", txt)
    txt = re.sub(r"plan_id=\d+", "plan_id=", txt)
    return re.sub(r"pythonUDF\d+", "pythonUDF", txt)


def cmd_plan(names: list[str], sf_dir: str, tag: str) -> None:
    from barks_ocr_spark.plans import queries as Q

    spark = _spark()
    qs = Q.queries()
    dest = REPO / "plans" / "r07"
    dest.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (dest / f"{name}_{tag}.txt").write_text(normalize_plan(txt))
        print(f"wrote plans/r07/{name}_{tag}.txt")
    spark.stop()


def _noop_batches(batches):
    import barks_ocr_spark  # noqa: F401  (imported as by every package kernel)

    yield from batches


def _invalidate_caches_s(batches):
    import importlib

    import pyarrow as pa

    import barks_ocr_spark  # noqa: F401

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pydict({"s": [time.perf_counter() - t0]})


def cmd_pyfloor(n_runs: int) -> None:
    import statistics

    spark = _spark()
    df = spark.range(0, 4, numPartitions=4)
    jobs = {
        "python_job_s": lambda: df.mapInArrow(_noop_batches, df.schema).collect(),
        "jvm_job_s": lambda: df.collect(),
    }
    probe = df.mapInArrow(_invalidate_caches_s, "s double")
    for job in (*jobs.values(), probe.collect):  # warm the JVM and the workers
        job()
    out: dict[str, float] = {}
    for name, job in jobs.items():
        samples = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            job()
            samples.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(samples), 4)
    in_worker = [r.s for _ in range(n_runs) for r in probe.collect()]
    out["invalidate_caches_s"] = round(statistics.median(in_worker), 5)
    out["runs"] = n_runs
    print(json.dumps(out))
    spark.stop()


def cmd_codegen(names: list[str], sf_dir: str) -> None:
    from barks_ocr_spark.operators.cacheutil import unpersist_intermediates
    from barks_ocr_spark.plans import queries as Q

    spark = _spark()
    qs = Q.queries()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    out: dict[str, list[int]] = {}
    for name in names or list(qs):
        runs = []
        for _ in range(2):
            c0 = metrics.METRIC_COMPILATION_TIME().getCount()
            qs[name](spark, sf_dir).count()
            runs.append(metrics.METRIC_COMPILATION_TIME().getCount() - c0)
            unpersist_intermediates()
        out[name] = runs
        print(json.dumps({name: runs}), flush=True)
    recompiled = sorted(k for k, (_, second) in out.items() if second)
    print(json.dumps({"sf": sf_dir, "compiles": out, "recompiled": recompiled}))
    spark.stop()


def main() -> None:
    args = sys.argv[1:]
    cmd = args.pop(0)
    sf_dir = "/root/testdata/sf1.0"
    n_runs = 0
    tag = "before"
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--n":
            n_runs = int(args[i + 1])
            i += 2
        elif args[i] == "--tag":
            tag = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    if cmd == "time":
        cmd_time(names, sf_dir, n_runs or 2)
    elif cmd == "time-all":
        import bench

        cmd_time(bench.HEADLINE, sf_dir, n_runs or 2)
    elif cmd == "plan":
        cmd_plan(names, sf_dir, tag)
    elif cmd == "pyfloor":
        cmd_pyfloor(n_runs or 10)
    elif cmd == "codegen":
        cmd_codegen(names, sf_dir)
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
