"""Run-scoped parquet spill: the one owner of where an intermediate is
written and how long it lives."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def materialize(df: DataFrame, tag: str) -> DataFrame:
    """Write ``df`` once as parquet and return the read-back.

    Truncates lineage: later jobs scan the written files instead of
    re-running ``df``'s plan (cross-job re-execution, iterative
    self-joins). The run dir ``ndto_<tag>_*`` is made under
    ``tempfile.gettempdir()`` at call time, so ``TMPDIR`` applies. The
    returned frame reads it lazily, so it is removed at interpreter exit;
    a failed write removes it at once and re-raises.
    """
    run_dir = tempfile.mkdtemp(prefix=f"ndto_{tag}_")
    path = os.path.join(run_dir, "data")
    try:
        df.write.parquet(path)
    except BaseException:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise
    atexit.register(shutil.rmtree, run_dir, ignore_errors=True)
    return df.sparkSession.read.parquet(path)
