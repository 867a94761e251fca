"""The benchmark's Spark session and its file-system sandbox.

Every file the run writes lands inside the checkout: Python's and the
JVM's temp dirs, Spark's local dirs and warehouse and the program's
streaming-stage dirs under one work directory removed at exit, and the
program's seed-independent fixture tables in a cache kept across runs
(the program keeps both under a fixed ``/tmp`` path, so the benchmark
points them into the checkout).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import subprocess
import tempfile

CONF_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spark_conf.json")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A sixteenth of the machine's RAM, between 1 and 4 GiB: the inputs
    are small and the driver runs beside its Python workers on a machine
    that may be shared."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 16))


def spark_conf(work: str) -> dict[str, str]:
    """Every Spark conf the benchmark sets: the fixed ones from
    spark_conf.json plus the ones derived from the machine and work dir."""
    with open(CONF_FILE) as f:
        conf = json.load(f)
    tmp = os.path.join(work, "tmp")
    mem = driver_memory_mb()
    conf.update(
        {
            "spark.master": f"local[{cores()}]",
            "spark.app.name": "perfbench",
            "spark.driver.memory": f"{mem}m",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap size: the JVM's resident set then follows the
            # program's allocations, not the collector's sizing choices
            "spark.driver.extraJavaOptions": (
                f"-Xms{mem}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        }
    )
    return conf


def sandbox(work: str, cache: str) -> None:
    """Point every temp and cache path of this process and its children
    into ``work``, except the seed-independent fixture tables, which are
    kept in ``cache`` across runs. Call before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse", "stage"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = tmp

    from ndto_spark import fixtures, queries

    v = fixtures.FIXTURES_VERSION
    fixtures.images_cache_path = lambda n, p, s: f"{cache}/images_{v}_n{n}_p{p}_s{s}"
    fixtures.featimg_cache_path = lambda n, p=4: f"{cache}/featimg_{v}_n{n}_p{p}"

    def staged_source(tag: str, sf_dir: str, build) -> str:
        key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = os.path.join(work, "stage", f"{tag}_{key}")
        if not os.path.exists(os.path.join(path, "_STAGED")):
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path)
            build(path)
            open(os.path.join(path, "_STAGED"), "w").close()
        return path

    queries._staged_source = staged_source


def start(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has ended."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its standard input closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        kill()


def kill() -> None:
    """Kill the JVM this process launched, and every process below it,
    and wait for the JVM to end; for a run that is cut short."""
    from pyspark import SparkContext

    from . import procfs

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    for pid in procfs.descendants(proc.pid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def clear_cache(spark) -> bool:
    """Drop cached tables; False when a persisted RDD is left over (it
    would let the next job read a cache hit)."""
    spark.catalog.clearCache()
    return spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
