"""ndto_spark benchmark: one workload per process.

    python3 perfbench/run.py --workload images --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). See perfbench/README.md.
"""

import time

T_PROCESS = time.perf_counter()
with open("/proc/stat") as _f:
    STAT_PROCESS = _f.readline()

import argparse  # noqa: E402
import collections  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

TIMEOUT_S = 170

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "job_p50_ms": "ms",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from perfbench import trace, workloads

    units = {
        "parser.parse_ms": "ms",
        "spec.normalize_ms": "ms",
        "compiler.compile_ms": "ms",
        "compiler.expr_size": "count",
        "runner.build_ms": "ms",
        "plan.analysis_ms": "ms",
        "plan.optimization_ms": "ms",
        "plan.planning_ms": "ms",
        "exec.wall_s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.scan_tasks": "count",
        "exec.exchanges": "count",
        "exec.shuffle_write_bytes": "bytes",
        "exec.spill_bytes": "bytes",
        "exec.task_skew": "ratio",
        "batch.py_rows_per_s": "rows/s",
        "codecs.decode_us": "us",
        "codecs.psnr_us": "us",
        "fixtures.ref_regen_us": "us",
        "batch.arrow_share": "ratio",
        "images.meta_s": "s",
        "table_rules.uniqueness_s": "s",
        "table_rules.shuffle_bytes": "bytes",
        "checkpoint.quantile_s": "s",
        "checkpoint.first_call_s": "s",
        "checkpoint.resume_s": "s",
        "checkpoint.jobs_per_bucket": "count",
        "checkpoint.bytes_written": "bytes",
        "checkpoint.files_written": "count",
        "checkpoint.buckets_skipped": "count",
        "checkpoint.buckets_total": "count",
        "json_rules.exchanges": "count",
    }
    for q in workloads.OPERATOR_QUERIES:
        units.update(
            {
                f"op.{q}.build_s": "s",
                f"op.{q}.plan_s": "s",
                f"op.{q}.exec_s": "s",
                f"op.{q}.spill_bytes": "bytes",
            }
        )
    units.update({f"self.{layer}_ms": "ms" for layer in trace.LAYERS})
    units["trace.job_p50_ms"] = "ms"
    units["trace.overhead_pct"] = "%"
    return units


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is for the smoke test")
    p.add_argument("--corrupt-job", type=int, default=-1,
                   help="falsify the output of this job before it is checked")
    return p.parse_args()


class Ctx:
    def __init__(self, args, root: str, work: str) -> None:
        from perfbench import trace

        self.root = root
        self.seed = args.seed
        self.scale = args.scale
        self.corrupt_job = args.corrupt_job
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.tracer = trace.Tracer()
        self.records = None


class RunTimeout(BaseException):
    """Raised by the alarm; not an Exception, so no op's handler takes it
    for a failed op and the run really ends."""


def _timeout(signum, frame):
    raise RunTimeout(f"benchmark run exceeded {TIMEOUT_S} s")


def traced_layers(ctx, wl, spark, job, mark) -> dict[str, float]:
    """Every per-layer figure of one traced job."""
    from perfbench import trace

    tr = ctx.tracer
    i = tr.job
    m = dict(job.layers)
    m.update({f"exec.{k}": v for k, v in ctx.records.since(mark).items()})
    job.layers = m
    size = 0
    for s in tr.spans:
        if s["job"] == i and "out" in s:
            size += trace.expr_size(s["out"].pred) + trace.expr_size(s["out"].viol)
            del s["out"]
    m.update(
        {
            "parser.parse_ms": tr.layer_ms(i, "parser.parse"),
            "spec.normalize_ms": tr.layer_ms(i, "spec.normalize"),
            "compiler.compile_ms": tr.layer_ms(i, "compiler.Compiler.compile"),
            "compiler.expr_size": float(size),
            "runner.build_ms": tr.layer_ms(i, "runner.validate")
            + tr.layer_ms(i, "runner.validate_row_object"),
            "checkpoint.quantile_s": tr.layer_ms(i, "checkpoint.phash_bounds") / 1e3,
        }
    )
    m.update({f"self.{k}_ms": v for k, v in tr.self_ms(i).items()})
    m.update(wl.layer_metrics(spark, job))
    return m


def measure(args, root: str, work: str) -> dict:
    from perfbench import procfs, session, trace, workloads

    session.sandbox(work, os.path.join(root, ".perfbench_cache"))
    ctx = Ctx(args, root, work)
    tr = ctx.tracer
    tr.on_return["compiler.Compiler.compile"] = lambda rec, out: rec.__setitem__("out", out)
    wl = workloads.WORKLOADS[args.workload](ctx)
    conf = session.spark_conf(work)

    t = time.perf_counter()
    wl.prepare()
    excluded = time.perf_counter() - t
    # set-up runs from process start until the session is up, the inputs
    # are opened and the warm-up job is done; input generation is excluded
    spark = session.start(conf)
    wl.open(spark)
    wl.warm(spark)
    setup_s = time.perf_counter() - T_PROCESS - excluded
    setup_ran = procfs.ran_share(procfs.cpu_ticks(STAT_PROCESS), procfs.cpu_ticks())

    ctx.records = trace.SparkRecords(spark)
    if args.trace:
        tr.install()
    tr.enabled = bool(args.trace)
    jobs, layers = [], []
    round_len = wl.round_len()
    jvm_pid, peak_rss = session.jvm_pid(spark), 0.0
    t_loop = time.perf_counter()
    while True:
        clean = session.clear_cache(spark)
        mark = ctx.records.mark() if tr.enabled else None
        tr.job = len(jobs)
        t_job, ticks = time.perf_counter(), procfs.cpu_ticks()
        try:
            with tr.span("job"):
                job = wl.job(spark, tr.job)
        except Exception as e:  # the job's op raised: a failed op
            job = workloads.Job(
                time.perf_counter() - t_job, errors=[f"{type(e).__name__}: {str(e)[:300]}"]
            )
        job.ran = procfs.ran_share(ticks, procfs.cpu_ticks())
        if not clean:
            job.errors.append("a persisted RDD was left over before this job")
        if tr.enabled:
            tr.enabled = False
            try:
                layers.append(traced_layers(ctx, wl, spark, job, mark))
            except Exception as e:  # a layer figure could not be measured
                job.errors.append(f"traced layers: {type(e).__name__}: {str(e)[:300]}")
            tr.enabled = True
        jobs.append(job)
        # Python workers come and go; the largest of the readings after
        # each job does not depend on when one happens to be missing
        peak_rss = max(peak_rss, procfs.peak_rss_mb(jvm_pid))
        if len(jobs) % round_len == 0 and time.perf_counter() - t_loop >= args.seconds:
            break
    tr.enabled = False
    tr.uninstall()
    try:
        wl.finish(spark, jobs)
    except Exception as e:  # the output checks could not run: every op fails
        for j in jobs:
            j.errors.append(f"output check: {type(e).__name__}: {str(e)[:300]}")
    session.stop(spark)

    attempted = sum(j.ops for j in jobs)
    failed = sum(min(j.ops, len(j.errors)) for j in jobs)
    for e, n in collections.Counter(e for j in jobs for e in j.errors).items():
        print(f"perfbench: failed op ({n}x): {e}", file=sys.stderr)
    job_p50_ms = 1e3 * statistics.median(j.net_s for j in jobs)
    out_dir = os.path.join(ctx.root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    # the untraced run leaves its job_p50_ms for the traced run of the same
    # workload, scale and seed to compare with
    untraced = os.path.join(
        out_dir, f"untraced-{args.workload}-{args.scale}-seed{args.seed}.json"
    )

    if args.trace:
        units = per_layer_units()
        values = {
            name: statistics.fmean([m.get(name, 0.0) for m in layers or [{}]]) for name in units
        }
        values["trace.job_p50_ms"] = job_p50_ms
        if os.path.exists(untraced):
            with open(untraced) as f:
                values["trace.overhead_pct"] = 100.0 * (job_p50_ms / json.load(f) - 1.0)
        tr.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "spark_conf": conf, "jobs": layers},
        )
    else:
        units = END_TO_END
        rounds = [jobs[k : k + round_len] for k in range(0, len(jobs), round_len)]
        values = {
            "setup_s": setup_s * setup_ran,
            "rows_per_s": statistics.median(
                sum(j.rows for j in r) / max(1e-9, sum(j.net_s for j in r)) for r in rounds
            ),
            "job_p50_ms": job_p50_ms,
            "peak_rss_mb": peak_rss,
        }
        if not failed:
            with open(untraced, "w") as f:
                json.dump(job_p50_ms, f)
    print(f"perfbench: spark conf {json.dumps(conf, sort_keys=True)}", file=sys.stderr)
    print(f"perfbench: set-up {setup_s:.3f} s wall ({setup_ran:.3f} of it not stolen), "
          f"excluded {excluded:.3f} s, jobs {[round(j.wall_s, 3) for j in jobs]} s wall "
          f"({[round(j.ran, 3) for j in jobs]} not stolen), "
          f"ended at {time.perf_counter() - T_PROCESS:.1f} s", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main() -> int:
    args = parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ndto_spark", "__init__.py")):
        print("perfbench: no ndto_spark package here; run from the repository root",
              file=sys.stderr)
        return 2
    from_here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [root, from_here]
    # Python workers import ndto_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIMEOUT_S)
    try:
        result = measure(args, root, work)
    except BaseException as e:  # cut short: stop the JVM before leaving
        from perfbench import session

        session.kill()
        if not isinstance(e, RunTimeout):
            raise
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
