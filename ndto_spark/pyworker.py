"""The Python worker's per-task import-cache reset, paid once per worker.

pyspark's ``worker_util.setup_spark_files`` (Spark 4.1.2) ends the set-up
of every task with ``importlib.invalidate_caches()``. Under Python 3.11
that calls ``invalidate_caches`` on every cached ``zipimport.zipimporter``,
and each call re-reads its archive's directory. A worker that imports
pyspark from ``SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) holds
about 16 such finders, one per subpackage path, so every task spent about
0.2 s re-reading one unchanged zip before its first row.

``settle()`` freezes those finders: on each ``zipimporter`` in
``sys.path_importer_cache`` whose archive is the one ``pyspark`` or
``py4j`` was imported from, ``invalidate_caches`` becomes a no-op. Those
archives never change while a worker lives. Every other finder is left
alone: ``addPyFile``/``--py-files`` archives, directory finders and the
finders of any other archive. Only finders not frozen yet are touched, so
a subpackage imported later is frozen by the next call, and a new finder
reads the directory the frozen ones share (``zipimport``'s directory
cache), so late imports still resolve. It acts only inside a task
(``TaskContext.get()`` is not None), never in the driver.

Every Python body handed to Spark (a ``mapInPandas``/``mapInArrow``
function, a ``pandas_udf``, an ``applyInPandasWithState`` state function)
calls ``settle()`` as its first statement (``tests/test_pyworker.py``
holds the ast guard). The first task of each worker still pays the
re-read; the later tasks of a reused worker do not.
"""

from __future__ import annotations

import sys
import zipimport

from pyspark import TaskContext


def _frozen() -> None:
    """A frozen finder's ``invalidate_caches``: its archive never changes."""


def _archives() -> set:
    """The archives ``pyspark`` and ``py4j`` were imported from (none when
    they come from a directory, as in a pip-installed driver)."""
    out = set()
    for name in ("pyspark", "py4j"):
        loader = getattr(sys.modules.get(name), "__loader__", None)
        if isinstance(loader, zipimport.zipimporter):
            out.add(loader.archive)
    return out


def settle() -> None:
    """Freeze this worker's pyspark and py4j zip finders (module
    docstring); a no-op outside a task."""
    if TaskContext.get() is None:
        return
    archives = _archives()
    for finder in list(sys.path_importer_cache.values()):
        if (
            isinstance(finder, zipimport.zipimporter)
            and finder.archive in archives
            and vars(finder).get("invalidate_caches") is not _frozen
        ):
            finder.invalidate_caches = _frozen
