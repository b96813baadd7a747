"""SparkSession factory with scale-oriented defaults.

The config choices are made for a multi-executor cluster reading ~100 TB
(AQE on for runtime re-planning + skew-join splitting, Arrow enabled for
all pandas-UDF traffic, nested-schema pruning so `spans.text`-only plans
don't read media bytes) but work identically on local[N] in tests.
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The north rule requires the job to ship as a --py-files archive; this
    produces it. Deterministic content order so repeated builds are
    byte-stable.
    """
    pkg_dir = Path(__file__).resolve().parent
    if dest is None:
        dest = str(pkg_dir.parent / "barks_ocr_spark.zip")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in sorted(pkg_dir.rglob("*.py")):
            zf.write(f, f"barks_ocr_spark/{f.relative_to(pkg_dir)}")
    return dest


_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the package zip to an externally-created session's executors.

    Static confs such as ``spark.sql.codegen.cache.maxEntries`` (see
    :func:`get_spark`) are fixed by then; its builder has to set them.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(build_pyfiles_zip())
    _SHIPPED.add(key)


def get_spark(
    app_name: str = "barks-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    ship_package: bool = True,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Args:
        app_name: Spark application name.
        master: Spark master URL. Defaults to ``local[$SPARK_GRAFT_CPUS]``
            locally, or to the cores this process may run on when the
            variable is unset; on a real cluster leave unset and let
            spark-submit provide it.
        shuffle_partitions: Shuffle parallelism. At 100 TB this should be
            sized so post-shuffle partitions are ~128-256 MB (AQE coalesces
            down automatically); locally defaults to the core count.
        extra_conf: Extra Spark conf entries to apply.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalesce of small shuffle partitions + skew-join
        # splitting. Critical at 100 TB where static partition counts are
        # always wrong for at least one stage.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas hop; the whole kernel
        # library rides on this.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Read only the struct fields a plan touches (e.g. spans.text but
        # not spans.media_ref) — the span array is the fat column at scale.
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # Sized so one parquet split ≈ one task at target scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Throughput GC for a batch engine: G1's pause-time targeting
        # costs real throughput on allocation-heavy scan/serialize stages
        # (measured on the flagship job at 32 cores: 163k docs/s G1 →
        # 215k docs/s ParallelGC). Applies to executors on a real
        # cluster too; override via extra_conf if a service-latency
        # deployment needs G1 back.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # JVM-wide cache of compiled generated code, sized to the
        # engine's working set of distinct sources (measured at local[4]):
        # 241 for the hygiene workload (pipeline plus four dedup
        # operators), 24 for extract, 46 for resume, 1,073 for all 100
        # registry queries run in turn at sf0.001 (87 for the largest).
        # Spark's default of 100 entries evicted most of hygiene's every
        # run, so each run recompiled ~250 sources; 2048 holds the whole
        # registry. A static conf, read once per JVM when the first code
        # is compiled: it holds only if this builder makes the JVM's
        # first session before any query runs. A session built elsewhere
        # (the ensure_shipped path) must set it when it is built.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if ship_package:
        # Equivalent of spark-submit --py-files: executors unpack the
        # archive onto their PYTHONPATH, so kernel closures resolve the
        # package no matter where the driver script lives.
        spark.sparkContext.addPyFile(build_pyfiles_zip())
    return spark


def local_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side table (``rows`` of the DDL ``schema``) as a
    DataFrame that plans as a ``LocalTableScan``.

    Built from an Arrow table, so it lives in the plan itself: reading
    it runs no task. ``spark.createDataFrame(rows)`` from a Python list
    plans as ``Scan ExistingRDD`` instead, and collecting that starts
    one Python worker task per partition (0.3-0.4 s at local[4] for a
    four-row table, against about 0.015 s for this form).
    """
    struct = DataType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table)
