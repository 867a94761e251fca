"""spark-submit entry point: resumable validation of an image+caption table.

Cluster deployment (north rule: spark-submit --py-files, multi-executor):

    python tools/make_pyfiles.py
    spark-submit --py-files dist/ndto_spark.zip \
        --num-executors $N --executor-cores 4 --executor-memory 8g \
        tools/submit_validate.py \
        --input <iceberg-table-or-parquet-path> \
        --checkpoint /path/to/ckpt --buckets 256

Local smoke (this sandbox):

    python tools/submit_validate.py --synth 20000 --checkpoint /tmp/ck_demo

Re-running the same command after an interruption resumes from the
checkpoint manifests (completed phash-range buckets are skipped).
"""

from __future__ import annotations

import argparse
import json
import sys

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="iceberg table identifier or parquet path")
    ap.add_argument("--synth", type=int, help="synthesize N images instead")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--min-psnr", type=float, default=40.0)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("ndto_spark-validate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .getOrCreate()
    )

    from ndto_spark import fixtures
    from ndto_spark.checkpoint import CheckpointManager, run_resumable
    from ndto_spark.images import IMAGE_METADATA_RULES, validate_images
    from ndto_spark.sources import read_table

    if args.synth:
        df = fixtures.synth_images(spark, args.synth, 32, args.seed)
        input_desc = f"synth:{args.synth}:{args.seed}"
    else:
        df, lineage = read_table(spark, args.input)
        input_desc = json.dumps(lineage.__dict__)

    from ndto_spark.plan_export import export_ruleset

    ck = CheckpointManager(args.checkpoint)
    summary = run_resumable(
        df,
        ck,
        lambda sub: validate_images(
            sub, seed=args.seed, min_psnr=args.min_psnr, check_uniqueness=False
        ),
        input_desc=input_desc,
        rules_repr=json.dumps(IMAGE_METADATA_RULES, sort_keys=True),
        n_buckets=args.buckets,
        # inspectable record of the compiled rules this run executes
        # (plan.json next to the run header — the ndto:write/2 artifact)
        plan=export_ruleset(df, IMAGE_METADATA_RULES),
    )
    # uniqueness is cross-bucket: run it globally once all buckets are done
    if summary["finished"]:
        from ndto_spark import table_rules
        from pyspark.sql import functions as F

        dups = table_rules.uniqueness(
            df.filter(F.col("image_id").isNotNull()), "image_id"
        ).count()
        summary["duplicate_keys"] = dups
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
