"""glirel_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference GLiREL pipeline (jackboyla/GLiREL, read-only at /root/reference).

Architecture (see SURVEY.md):

- **Relational plane** (mention extraction, entity-pair generation,
  threshold/top-k decode, constraint filtering, coref clustering,
  metrics, linking, graph materialization) — native DataFrame/SQL
  operators, Catalyst-optimizable, DuckDB-oracle-checkable.
- **Tensor plane** (GLiREL-style label-prompt × span-pair scoring) — one
  vectorized ``mapInPandas`` boundary with a per-executor model
  singleton (numpy test double of the reference's T1–T13 stages;
  the container has no torch, and the engine is scorer-agnostic).

Nothing in this package is a port of the reference's code; citations in
docstrings are to *semantics* being reproduced (file:line into
/root/reference).
"""

__version__ = "0.1.0"


def _keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that have not
    changed since it last read them (CPython < 3.13 only).

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). Before
    3.13, each zipimporter then re-parses its archive's whole central
    directory in Python. A reused worker holds 16 of them (pyspark.zip,
    py4j's zip and the spark-core jar on its PYTHONPATH), so every task
    re-read ~27k directory entries: 0.14-0.38 s on 4 cores before the
    first row reached the UDF. 3.13's ``invalidate_caches`` only drops
    the cache.

    The wrapper re-reads an archive when its ``(st_mtime_ns, st_size)``
    differs from the one stat'ed just before the wrapper last read it,
    or when the wrapper never read it; otherwise the importer takes the
    shared ``zipimport._zip_directory_cache`` entry. So a worker's first
    task after this package is imported reads each archive once
    (0.06-0.12 s), and later tasks read none (< 1 ms). Every Python
    worker that unpickles a glirel_spark function imports this package,
    which installs the wrapper.
    """
    import sys

    if sys.version_info >= (3, 13):
        return
    import os
    import threading
    import zipimport

    cls = zipimport.zipimporter
    if cls.invalidate_caches.__module__ == __name__:
        return
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int] | None] = {}
    lock = threading.Lock()

    def invalidate_caches(self):
        with lock:
            try:
                st = os.stat(self.archive)
                stamp = (st.st_mtime_ns, st.st_size)
            except OSError:
                stamp = None
            unchanged = stamp is not None and read_at.get(self.archive) == stamp
            files = zipimport._zip_directory_cache.get(self.archive)
            if unchanged and files is not None:
                self._files = files
            else:
                reread(self)
                read_at[self.archive] = stamp

    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches


_keep_unchanged_zip_directories()
