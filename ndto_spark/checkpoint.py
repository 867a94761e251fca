"""Partition-level checkpoint/resume for validation runs.

North rule: "resumable from a partition-level checkpoint manifest carrying
lineage (snapshot-id, partition spec, schema hash) and metrics per
partition".

Design (SURVEY.md §7.6):

- The run is keyed by ``phash`` RANGE buckets. Bucket bounds are computed
  once (approxQuantile) on the first run and STORED in the run header; a
  resume reuses the stored bounds, so the partition spec is part of the
  lineage and stable across restarts even if the data distribution drifted.
- Violations are persisted as parquet partitioned by bucket with DYNAMIC
  partition overwrite — re-processing a bucket atomically replaces exactly
  that bucket's output (idempotent under retries).
- A per-bucket manifest JSON (n_rows, n_violations, pass, wall seconds) is
  written ATOMICALLY (tmp + rename) from the driver only AFTER the bucket's
  Spark action completed — task-level retries inside the action can never
  produce a half-written manifest.
- Resume = read completed bucket ids from the manifest dir, anti-filter the
  input on the bucket expression, process only the rest.

Iceberg note: on an Iceberg table the run header's ``snapshot_id`` is the
table snapshot being validated (spark.read.option("snapshot-id", ...));
with plain parquet (this sandbox) we record the input path + row count.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def schema_hash(df: DataFrame, rules_repr: str) -> str:
    payload = df.schema.json() + "|" + rules_repr
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


class CheckpointManager:
    """Filesystem-backed manifest store: header + one JSON per bucket."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.parts_dir = os.path.join(root, "partitions")
        self.violations_dir = os.path.join(root, "violations")
        os.makedirs(self.parts_dir, exist_ok=True)

    # -- run header (lineage) ------------------------------------------------

    def header_path(self) -> str:
        return os.path.join(self.root, "run.json")

    def read_header(self) -> Optional[dict]:
        try:
            with open(self.header_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def write_header(self, header: dict) -> None:
        _atomic_write_json(self.header_path(), header)

    # -- per-bucket manifests --------------------------------------------------

    def completed_buckets(self) -> set[int]:
        out = set()
        for name in os.listdir(self.parts_dir):
            if name.startswith("bucket-") and name.endswith(".json"):
                out.add(int(name[len("bucket-") : -len(".json")]))
        return out

    def write_bucket(self, bucket: int, record: dict) -> None:
        _atomic_write_json(
            os.path.join(self.parts_dir, f"bucket-{bucket}.json"), record
        )

    def read_bucket(self, bucket: int) -> dict:
        with open(os.path.join(self.parts_dir, f"bucket-{bucket}.json")) as f:
            return json.load(f)


def range_bucket(col: Column, bounds: list[int]) -> Column:
    """Range-bucket index from stored quantile bounds: #bounds ≤ col."""
    out = F.lit(0)
    for b in bounds:
        out = out + F.when(col >= F.lit(int(b)), 1).otherwise(0)
    return out


def phash_bounds(df: DataFrame, n_buckets: int, col: str = "phash") -> list[int]:
    qs = [i / n_buckets for i in range(1, n_buckets)]
    return [int(x) for x in df.approxQuantile(col, qs, 0.001)]


def run_resumable(
    df: DataFrame,
    ckpt: CheckpointManager,
    validate_fn: Callable[[DataFrame], "object"],
    input_desc: str,
    rules_repr: str,
    n_buckets: int = 16,
    bucket_col: str = "phash",
    max_buckets_per_call: Optional[int] = None,
    plan: Optional[dict] = None,
) -> dict:
    """Run (or resume) a bucketed validation job.

    validate_fn(df_subset) must return an object with ``violations`` and
    ``verdicts`` DataFrames (images.validate_images signature). Returns the
    run summary dict. Call again after a crash to continue; completed
    buckets are skipped.

    ``plan``: an exported compiled plan (plan_export.export_ruleset) to
    persist as ``plan.json`` next to the run header — the inspectable
    record of exactly which compiled rules this run executed (the
    ndto:write/2 artifact in the lineage story). Written once, on the run
    that creates the header.
    """
    header = ckpt.read_header()
    sh = schema_hash(df, rules_repr)
    if header is None:
        if plan is not None:
            _atomic_write_json(os.path.join(ckpt.root, "plan.json"), plan)
        bounds = phash_bounds(df, n_buckets, bucket_col)
        header = {
            "input": input_desc,
            "schema_hash": sh,
            "partition_spec": {
                "column": bucket_col,
                "n_buckets": n_buckets,
                "bounds": bounds,
            },
            "started_at": time.time(),
        }
        ckpt.write_header(header)
    else:
        if header["schema_hash"] != sh:
            raise ValueError(
                "checkpoint schema_hash mismatch: input or rules changed "
                f"({header['schema_hash']} != {sh}); use a fresh checkpoint dir"
            )
        bounds = header["partition_spec"]["bounds"]
        n_buckets = header["partition_spec"]["n_buckets"]

    bucket_expr = range_bucket(F.col(bucket_col), bounds)
    done = ckpt.completed_buckets()
    pending = [b for b in range(n_buckets) if b not in done]
    if max_buckets_per_call is not None:
        pending = pending[:max_buckets_per_call]

    metric_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in ("integer", "long", "double", "float")
    ]
    from pyspark.sql import Observation

    for b in pending:
        t0 = time.time()
        # ONE scan, TWO jobs per bucket (down from one scan / three jobs):
        # - the violations WRITE carries an Observation, so n_violations is
        #   computed during the write itself — the violation pipeline
        #   (including the Arrow decode branch) runs exactly once instead
        #   of being re-evaluated by a separate verdicts collect;
        # - row count + every per-column metric fold into ONE single-row
        #   aggregate over the persisted subset (the old column_stats call
        #   was a third action).
        # The persist stays because validate_fn fans the subset into two
        # branches (validate_images: the annotated scan and the uniqueness
        # count) — without it each branch re-reads the bucket from the
        # source.
        # MEMORY_AND_DISK so oversized buckets spill instead of OOMing;
        # released before the next bucket starts. An input-side Observation
        # cannot replace the aggregate: the observed node would sit in
        # every branch of the violation plan and double-count.
        sub = df.filter(bucket_expr == F.lit(b)).persist()
        try:
            res = validate_fn(sub)
            obs = Observation()
            viol = res.violations.withColumn("bucket", F.lit(b)).observe(
                obs, F.count(F.lit(1)).alias("n_violations")
            )
            # idempotent per-bucket output: dynamic partition overwrite, as
            # a write option so the session's own mode is left alone
            viol.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("bucket").parquet(ckpt.violations_dir)
            n_viol = int(obs.get["n_violations"])
            # per-partition metrics (north_star: manifest carries metrics
            # per partition): null counts + min/max of every numeric column
            aggs = [F.count(F.lit(1)).alias("_n_rows")]
            for c in metric_cols:
                aggs.append(
                    F.coalesce(
                        F.sum(F.col(c).isNull().cast("long")), F.lit(0)
                    ).alias(f"_nn_{c}")
                )
                aggs.append(F.min(c).alias(f"_mn_{c}"))
                aggs.append(F.max(c).alias(f"_mx_{c}"))
            row = sub.agg(*aggs).collect()[0]
            n_rows = int(row["_n_rows"])
            metrics: dict[str, float] = {}
            for c in metric_cols:
                metrics[f"{c}.n_nulls"] = float(row[f"_nn_{c}"])
                if row[f"_mn_{c}"] is not None:
                    metrics[f"{c}.min"] = float(row[f"_mn_{c}"])
                    metrics[f"{c}.max"] = float(row[f"_mx_{c}"])
        finally:
            sub.unpersist()
        ckpt.write_bucket(
            b,
            {
                "bucket": b,
                "n_rows": n_rows,
                "n_violations": n_viol,
                "pass": n_viol == 0,
                "metrics": metrics,
                "wall_sec": round(time.time() - t0, 3),
                "completed_at": time.time(),
            },
        )
    done = ckpt.completed_buckets()
    return {
        "schema_hash": sh,
        "n_buckets": n_buckets,
        "completed": sorted(done),
        "finished": len(done) == n_buckets,
    }
