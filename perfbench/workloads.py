"""The benchmark's workloads.

Each is a closed loop with one client: the next job starts only after the
previous one has completed. A job is the unit a median is taken over:

- images: one ``images.validate_images`` pass over the image table;
- calls: one small gate validation call, built and collected;
- operators: one pass over the operator gate queries, each built and
  collected.

An operation (``ops``) is one job, call or query; it fails if it raises
or its output differs from the independent reference. Jobs come in
rounds; a run ends on a round boundary (a round is one job, except on
``calls``, where it is one call of every gate query).
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from . import gen, oracle, procfs, trace

CALL_QUERIES = [
    "validate_documents", "validate_events", "validate_lineitem",
    "validate_formats", "validate_arrays", "validate_row_object",
    "validate_map_object", "validate_tuple_anyof", "validate_json_props",
    "validate_json_mixed", "validate_oas_petstore", "validate_images_meta",
    "validate_embeddings",
]
# One query per operator module (dedup, functions.text, sketches, ann,
# multimodal, the streaming harness, temporal) plus validate_lineitem for
# the compiler and runner. The other operator gate queries are left out to
# fit the benchmark's time budget; each reruns a module the pass already
# covers (near_dup_groups_documents, ngram_jaccard_documents,
# ann_lsh_embeddings, semantic_dedup_embeddings, session_stream_events,
# stream_left_join_events).
OPERATOR_QUERIES = [
    "minhash_lsh_documents", "dsir_documents", "heavy_hitters_events",
    "ann_topk_embeddings", "image_embed_topk_images", "stateful_verdicts_events",
    "asof_join_events", "validate_lineitem",
]


@dataclass
class Job:
    wall_s: float
    ops: int = 1
    errors: list[str] = field(default_factory=list)
    rows: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    ran: float = 1.0  # procfs.ran_share over the job

    @property
    def net_s(self) -> float:
        """Wall time net of the CPU time the host stole."""
        return self.wall_s * self.ran


class Workload:
    """Base: subclasses fill in inputs, warm-up and one job."""

    name = ""
    sizes: dict[str, dict] = {}

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.size = self.sizes[ctx.scale]
        self.inputs = os.path.join(ctx.work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def prepare(self) -> None:
        """Seeded inputs and references, made before the session starts."""

    def open(self, spark) -> None:
        raise NotImplementedError

    def warm(self, spark) -> None:
        raise NotImplementedError

    def job(self, spark, i: int) -> Job:
        raise NotImplementedError

    def finish(self, spark, jobs: list[Job]) -> None:
        """Checks made once after the timed jobs; they add to jobs' errors."""

    def layer_metrics(self, spark, job: Job) -> dict[str, float]:
        """Per-layer figures measured beside a traced job (trace runs)."""
        return {}

    def round_len(self) -> int:
        return 1

    def corrupt(self, i: int) -> bool:
        return self.ctx.corrupt_job == i


# the input table of each gate query whose name does not end with it
QUERY_TABLE = {
    "validate_formats": "events", "validate_arrays": "documents",
    "validate_row_object": "events", "validate_map_object": "events",
    "validate_tuple_anyof": "events", "validate_json_props": "events",
    "validate_json_mixed": "events", "validate_oas_petstore": "events",
}


def _input_rows(qname: str, sf: float) -> int:
    from ndto_spark import queries

    if qname == "validate_images_meta":
        return queries._IMAGES_META_N
    if qname == "image_embed_topk_images":
        return queries._FEAT_IMG_N
    return gen.table_rows(QUERY_TABLE.get(qname, qname.rsplit("_", 1)[1]), sf)


class _QueryWorkload(Workload):
    """Shared by calls and operators: gate queries over a seeded sf dir,
    each checked against its DuckDB oracle, computed before timing."""

    query_names: list[str] = []

    def prepare(self) -> None:
        from ndto_spark.queries import ORACLE_SQL

        self.sf = self.size["sf"]
        self.names = self.size.get("queries", self.query_names)
        self.sf_dir = gen.testdata_dir(
            os.path.join(self.inputs, f"sf{self.sf}"), self.sf, self.ctx.seed
        )
        con = oracle.connect(self.sf_dir)
        self.want = {q: oracle.normalize(con.sql(ORACLE_SQL[q]).df()) for q in self.names}
        con.close()
        self.rows = {q: _input_rows(q, self.sf) for q in self.names}
        # the seed-independent fixture tables two gate queries read
        from ndto_spark import fixtures, queries

        n_meta, n_feat = queries._IMAGES_META_N, queries._FEAT_IMG_N
        if "validate_images_meta" in self.names:
            path = fixtures.images_cache_path(n_meta, 8, 42)
            gen.cached(path, lambda: gen.images(n_meta, 42), 8)
        if "image_embed_topk_images" in self.names:
            path = fixtures.featimg_cache_path(n_feat, 4)
            gen.cached(path, lambda: gen.feature_images(n_feat), 4)

    def open(self, spark) -> None:
        for t in oracle.TABLES:
            spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")).count()

    def query(self, spark, qname: str, corrupt: bool):
        """Build, plan and collect one gate query; compare with its oracle.
        Returns (wall seconds, per-phase figures, errors)."""
        from ndto_spark.queries import QUERIES

        ctx, tr = self.ctx, self.ctx.tracer
        tmp_before = set(os.listdir(ctx.tmp))
        t0 = time.perf_counter()
        try:
            with tr.span("build"):
                df = QUERIES[qname](spark, self.sf_dir)
            t1 = time.perf_counter()
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("exec"):
                pdf = df.toPandas()
            t3 = time.perf_counter()
        except Exception as e:  # an op that raises is a failed op
            wall = time.perf_counter() - t0
            return wall, {}, [f"{qname}: {type(e).__name__}: {str(e)[:300]}"]
        phases = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2}
        if tr.enabled:
            phases["spill_bytes"] = float(procfs.new_entries_bytes(ctx.tmp, tmp_before))
            phases.update({f"plan.{k}_ms": v for k, v in trace.plan_phases_ms(df).items()})
        cols, rows = oracle.normalize(pdf)
        if corrupt:
            rows = rows[1:]
        err = oracle.mismatch((cols, rows), self.want[qname])
        if not self.want[qname][1]:
            err = "the reference is empty, so the check proves nothing"
        return t3 - t0, phases, ([f"{qname}: {err}"] if err else [])

    def layer_metrics(self, spark, job: Job) -> dict[str, float]:
        """The parser and json_rules layers, measured directly because the
        operator pass does not reach them: one parse of the gate's petstore
        spec, and the Exchanges in the validate_json_props plan. Measured
        once a run."""
        if not hasattr(self, "_parse_json"):
            from ndto_spark import parser
            from ndto_spark.queries import _PETSTORE_SPEC, QUERIES

            path = os.path.join(self.ctx.tmp, "petstore.json")
            with open(path, "w") as f:
                json.dump(_PETSTORE_SPEC, f)
            t0 = time.perf_counter()
            parser.parse(path, name="petstore_pet")
            parse_ms = 1e3 * (time.perf_counter() - t0)
            df = QUERIES["validate_json_props"](spark, self.sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            self._parse_json = {
                "parser.parse_ms": parse_ms,
                "json_rules.exchanges": float(plan.count("Exchange ")),
            }
        return self._parse_json


class Calls(_QueryWorkload):
    """Small validation calls; each job is one call. Calls are drawn in
    rounds: each round is a seeded permutation of all the gate queries, so
    every run holds the same mix in a different order."""

    name = "calls"
    query_names = CALL_QUERIES
    sizes = {"full": {"sf": 0.001}, "tiny": {"sf": 0.001, "queries": CALL_QUERIES[:4]}}

    def prepare(self) -> None:
        super().prepare()
        self.rng = random.Random(self.ctx.seed)
        self.order: list[str] = []

    def warm(self, spark) -> None:
        self.query(spark, self.names[0], False)

    def round_len(self) -> int:
        return len(self.names)

    def job(self, spark, i: int) -> Job:
        while len(self.order) <= i:
            rnd = list(self.names)
            self.rng.shuffle(rnd)
            self.order += rnd
        q = self.order[i]
        wall, phases, errors = self.query(spark, q, self.corrupt(i))
        layers = {k: v for k, v in phases.items() if k.startswith("plan.")}
        return Job(wall, errors=errors, rows=self.rows[q], layers=layers)


class Operators(_QueryWorkload):
    """One job is one pass over the operator gate queries, in a seeded
    order; each query is one op. The first pass of a run is cold."""

    name = "operators"
    query_names = OPERATOR_QUERIES
    sizes = {
        "full": {"sf": 0.001},
        "tiny": {"sf": 0.001, "queries": ["asof_join_events", "ann_topk_embeddings"]},
    }

    def warm(self, spark) -> None:
        """None: the pass is measured cold."""

    def job(self, spark, i: int) -> Job:
        order = list(self.names)
        random.Random(self.ctx.seed * 1000 + i).shuffle(order)
        job = Job(0.0, ops=len(order))
        for k, q in enumerate(order):
            wall, phases, errors = self.query(spark, q, self.corrupt(i) and k == 0)
            job.wall_s += wall
            job.errors += errors
            job.rows += self.rows[q]
            for key, v in phases.items():
                if key.startswith("plan."):
                    job.layers[key] = job.layers.get(key, 0.0) + v
                else:
                    job.layers[f"op.{q}.{key}"] = v
        return job


class Images(Workload):
    """images.validate_images over the seeded image+caption table: count
    the violations and collect the per-partition verdicts."""

    name = "images"
    sizes = {"full": {"rows": 8_000, "files": 16}, "tiny": {"rows": 1_600, "files": 16}}

    def prepare(self) -> None:
        n, files, seed = self.size["rows"], self.size["files"], self.ctx.seed
        self.path = os.path.join(self.inputs, "images")
        gen.write(gen.images(n, seed), self.path, files)

    def open(self, spark) -> None:
        self.df = spark.read.parquet(self.path)
        self.df.count()

    def _run(self, df, seed: int):
        """validate_images, then one action: the per-partition verdicts,
        which count the violations of each partition."""
        from ndto_spark.images import validate_images

        tr = self.ctx.tracer
        with tr.span("build"):
            res = validate_images(df, seed=seed)
        with tr.span("plan"):
            res.verdicts._jdf.queryExecution().executedPlan()
        with tr.span("exec"):
            verdicts = res.verdicts.collect()
        layers = {}
        if tr.enabled:
            layers = {f"plan.{k}_ms": v for k, v in trace.plan_phases_ms(res.verdicts).items()}
        return res, verdicts, layers

    def warm(self, spark) -> None:
        """One job on the measured table: a first job reads and decodes
        cold, so the timed ones would not all do the same work."""
        self._run(self.df, self.ctx.seed)

    def job(self, spark, i: int) -> Job:
        n = self.size["rows"]
        t0 = time.perf_counter()
        _, verdicts, layers = self._run(self.df, self.ctx.seed)
        wall = time.perf_counter() - t0
        errors = []
        if sum(v["n_rows"] for v in verdicts) != n:
            errors.append("verdicts do not account for every row")
        layers["n_violations"] = sum(v["n_violations"] for v in verdicts) + self.corrupt(i)
        return Job(wall, errors=errors, rows=n, layers=layers)

    def finish(self, spark, jobs: list[Job]) -> None:
        """One collect of the violations must hold the seeded classes, and
        every job must have counted as many violations."""
        from ndto_spark.images import validate_images

        viols = validate_images(self.df, seed=self.ctx.seed).violations.collect()
        wrong = golden_errors(viols, self.size["rows"])
        for j in jobs:
            n_viol = j.layers.pop("n_violations", None)
            if n_viol is not None and n_viol != len(viols):
                j.errors.append(f"verdicts count {n_viol} violations, collected {len(viols)}")
            j.errors += wrong

    def layer_metrics(self, spark, job: Job) -> dict[str, float]:
        from ndto_spark import images, table_rules

        out = {}
        t0 = time.perf_counter()
        images.validate_images_metadata(self.df).count()
        out["images.meta_s"] = time.perf_counter() - t0
        mark = self.ctx.records.mark()
        t0 = time.perf_counter()
        table_rules.uniqueness(self.df.filter("image_id IS NOT NULL"), "image_id").count()
        out["table_rules.uniqueness_s"] = time.perf_counter() - t0
        out["table_rules.shuffle_bytes"] = self.ctx.records.since(mark)["shuffle_write_bytes"]
        out.update(self.kernel_metrics())
        out.update(self.checkpoint_metrics(job))
        run_s = job.layers.get("exec.slowest_stage_run_ms", 0.0) / 1e3
        if run_s > 0:
            out["batch.arrow_share"] = (self.size["rows"] / out["batch.py_rows_per_s"]) / run_s
        return out

    def kernel_metrics(self) -> dict[str, float]:
        """The Python kernels of the Arrow stage, called directly on one
        pandas batch of the images parquet (no Spark)."""
        if hasattr(self, "_kernels"):
            return self._kernels
        import pyarrow.parquet as pq

        from ndto_spark import batch, codecs, fixtures

        seed = self.ctx.seed
        pdf = pq.read_table(sorted(glob.glob(f"{self.path}/*.parquet"))[0]).to_pandas()
        kernel = batch.image_check_udf(seed).func
        t0 = time.perf_counter()
        kernel(pdf["image_id"], pdf["bytes"], pdf["caption"])
        py_rows_per_s = len(pdf) / (time.perf_counter() - t0)
        rows = [
            (bytes(b), fixtures.row_id_of(i))
            for i, b in zip(pdf["image_id"], pdf["bytes"])
            if i is not None and b is not None
        ]
        t0 = time.perf_counter()
        decoded = []
        for b, _ in rows:
            try:
                decoded.append(codecs.decode(b)[1])
            except Exception:  # the seeded truncated payloads
                decoded.append(None)
        decode_us = (time.perf_counter() - t0) / len(rows) * 1e6
        t0 = time.perf_counter()
        refs = [fixtures.image_pixels(seed, rid) for _, rid in rows]
        for _, rid in rows:
            fixtures.caption_text(seed, rid)
        regen_us = (time.perf_counter() - t0) / len(rows) * 1e6
        pairs = [(r, d) for r, d in zip(refs, decoded) if d is not None and d.shape == r.shape]
        t0 = time.perf_counter()
        for r, d in pairs:
            codecs.psnr(r, d)
        psnr_us = (time.perf_counter() - t0) / max(1, len(pairs)) * 1e6
        self._kernels = {
            "batch.py_rows_per_s": py_rows_per_s,
            "codecs.decode_us": decode_us,
            "codecs.psnr_us": psnr_us,
            "fixtures.ref_regen_us": regen_us,
        }
        return self._kernels

    def checkpoint_metrics(self, job: Job) -> dict[str, float]:
        """checkpoint.run_resumable over the same table, bucketed on phash
        (the module's own use): stop after half the buckets, then resume
        to completion in the same checkpoint dir. Measured once a run."""
        if hasattr(self, "_checkpoint"):
            return self._checkpoint
        from ndto_spark import checkpoint
        from ndto_spark.images import validate_images

        buckets = 4
        ck_dir = os.path.join(self.ctx.work, "checkpoint")
        ckpt = checkpoint.CheckpointManager(ck_dir)
        args = dict(input_desc=self.path, rules_repr="images", n_buckets=buckets)

        def validate_fn(sub):
            return validate_images(sub, seed=self.ctx.seed)

        t0 = time.perf_counter()
        checkpoint.phash_bounds(self.df, buckets)
        t1 = time.perf_counter()
        mark = self.ctx.records.mark()
        first = checkpoint.run_resumable(
            self.df, ckpt, validate_fn, max_buckets_per_call=buckets // 2, **args
        )
        t2 = time.perf_counter()
        skipped = len(ckpt.completed_buckets())
        last = checkpoint.run_resumable(self.df, ckpt, validate_fn, **args)
        t3 = time.perf_counter()
        jobs = self.ctx.records.since(mark)["jobs"]
        manifests = [ckpt.read_bucket(b) for b in sorted(ckpt.completed_buckets())]
        if (
            first["finished"]
            or not last["finished"]
            or sum(m["n_rows"] for m in manifests) != self.size["rows"]
            or sum(m["n_violations"] for m in manifests) != job.layers["n_violations"]
        ):
            job.errors.append("checkpointed run disagrees with the validated table")
        self._checkpoint = {
            "checkpoint.quantile_s": t1 - t0,
            "checkpoint.first_call_s": t2 - t1,
            "checkpoint.resume_s": t3 - t2,
            "checkpoint.jobs_per_bucket": jobs / buckets,
            "checkpoint.bytes_written": float(procfs.tree_bytes(ck_dir)),
            "checkpoint.files_written": float(procfs.tree_files(ck_dir)),
            "checkpoint.buckets_skipped": float(skipped),
            "checkpoint.buckets_total": float(buckets),
        }
        shutil.rmtree(ck_dir, ignore_errors=True)
        return self._checkpoint


def golden_errors(viols, n: int) -> list[str]:
    """The seeded violation classes of fixtures.make_row, checked the way
    tests/test_images_pipeline.py checks them."""
    from ndto_spark import fixtures

    exp = fixtures.expected_violation_classes(n)

    def ids(path):
        return sorted(
            fixtures.row_id_of(v.image_id)
            for v in viols
            if v.schema_path == path and v.image_id is not None
        )

    want = {
        "$.decode": exp[0],
        "$.dimensions": sorted(exp[1] + exp[7]),
        "$.format": sorted(exp[2] + exp[6]),
        "$.min_length": exp[3],
        "$.max_length": exp[4],
        "$.type": exp[5],
        "$": exp[6],
        "$.minimum": exp[7],
        "$.psnr": exp[11],
    }
    errors = [f"images {p}: flagged ids differ" for p, w in want.items() if ids(p) != w]
    if len([v for v in viols if v.image_id is None and v.column == "image_id"]) != len(exp[9]):
        errors.append("images: null image_id rows not flagged")
    dups = [v for v in viols if v.keyword == "unique"]
    if len(dups) != len(exp[8]) or any("2 times" not in v.description for v in dups):
        errors.append("images: duplicate keys not flagged")
    seeded = set().union(*exp.values()) | {i - 12 for i in exp[8]}
    flagged = {fixtures.row_id_of(v.image_id) for v in viols if v.image_id is not None}
    if flagged - seeded:
        errors.append(f"images: {len(flagged - seeded)} clean rows flagged")
    return errors


WORKLOADS = {w.name: w for w in (Images, Operators, Calls)}
