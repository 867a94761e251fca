#!/usr/bin/env python3
"""Ad-hoc per-query timing + plan capture (guide §1), separate from the
FROZEN bench.py.

Usage:
    python tools/bench_extra.py [--sf DIR] [--reps N] [--explain OUTDIR]
                                [--noop] query [query ...]

Times each named gate query with the same Spark session shape as bench.py
(local[min(cpus,16)], same conf), `count()` per rep (bench.py methodology)
or a noop sink with --noop, and prints one JSON line
{"sf":..., "queries": {name: [rep timings...]}}.  With --explain it also
writes `<OUTDIR>/<query>.txt` containing explain("formatted").
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import get_spark  # noqa: E402  (the session shape bench.py times)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf1.0")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain", default=None)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    spark = get_spark(min(args.cpus, 16))
    from ndto_spark.queries import QUERIES

    names = args.queries
    if names == ["ALL"]:
        names = list(QUERIES)

    # same steady-state warmup shape as bench.py
    for t in ("documents", "events", "lineitem", "embeddings", "customer"):
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            spark.read.parquet(p).count()
    warm_sf = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_sf):
        for name in names:
            try:
                QUERIES[name](spark, warm_sf).count()
            except Exception:
                pass

    if args.explain:
        os.makedirs(args.explain, exist_ok=True)
        for name in names:
            df = QUERIES[name](spark, args.sf)
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))

    timings: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(args.reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            # construction INSIDE the timer — bench.py's methodology
            # (several operators run eager driver-side jobs at build time)
            t0 = time.time()
            df = QUERIES[name](spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            timings[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"sf": args.sf, "noop": args.noop,
                      "queries": timings}))


if __name__ == "__main__":
    main()
