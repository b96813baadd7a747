"""spark-submit entry point for the extraction job.

Cluster usage (the production shape the north rule specifies):

    python -c "from barks_ocr_spark.session import build_pyfiles_zip as b; print(b())"
    spark-submit --py-files barks_ocr_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        -m ...  barks_ocr_spark/job.py \\
        --input  s3://corpus/docs \\
        --output /warehouse/extracted_spans \\
        --checkpoint /warehouse/extraction_ckpt

Local sandbox: ``python -m barks_ocr_spark.job --input ... --output ...``
(the session factory ships the package zip itself via addPyFile).

The job is idempotent: rerunning after a kill processes only documents
absent from the last committed snapshot (see sources/checkpoint.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser(description="barks_ocr_spark extraction job")
    p.add_argument("--input", required=True, help="interleaved docs parquet/table path")
    p.add_argument("--output", required=True, help="result snapshot-table path")
    p.add_argument("--checkpoint", required=True, help="lineage rows of the --output commits")
    p.add_argument("--page-scans", default=None, help="optional page-scans table (J9)")
    p.add_argument(
        "--partitions",
        type=int,
        default=None,
        help="upper bound on pass-2 kernel tasks, merged without a shuffle; "
        "the merge also bounds the stage that feeds the kernel (the scan, or "
        "on a resumed run the anti-join against committed docs), so leave it "
        "unset at scale (default: one task per input partition)",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from barks_ocr_spark.operators.extraction import load_documents
    from barks_ocr_spark.session import get_spark
    from barks_ocr_spark.sources.checkpoint import ExtractionJob

    spark = get_spark("barks-ocr-extraction", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    docs = load_documents(spark, args.input, spread=True)
    scans = spark.read.parquet(args.page_scans) if args.page_scans else None
    job = ExtractionJob(args.output, args.checkpoint)
    summary = job.run(spark, docs, page_scans=scans, num_partitions=args.partitions)
    ckpt = job.read_checkpoints(spark)
    lineage_rows = ckpt.count() if ckpt is not None else 0
    print(json.dumps({**summary, "lineage_rows": lineage_rows}))
    spark.stop()


if __name__ == "__main__":
    main()
