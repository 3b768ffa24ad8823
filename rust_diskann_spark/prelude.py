"""The worker prelude: the first statement of every Python task body.

Spark charges each Python task a fixed CPU cost around the task's own
work, and on small serving batches that cost outweighs the kernel.
Two parts of it come from the worker's own state and repeat every task:

- PySpark 4.1's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
  before every task, and on Python 3.11 each cached ``zipimporter``
  re-reads its archive's whole central directory;
- the worker daemon calls ``gc.collect()`` after every task, and that
  full collection rescans every long-lived object the worker imported
  (~73k with numpy, pandas, pyarrow and ``pyspark.worker`` loaded).

:func:`_task_prelude` removes both. It must stay a module-level function:
task closures then pickle it by reference, so its once-per-worker flag
lives in the worker's imported copy of this module, not in a closure.
"""

from __future__ import annotations

import gc
import os
import sys
import zipfile
import zipimport

_worker_ready = False


def _drop_nested_zip_finders() -> None:
    """Forget the worker's per-sub-package zipimporters.

    A worker caches one importer per imported sub-package of an archive
    as well as the archive's own (``pyspark.zip/pyspark/sql/`` ...): a
    local-mode worker held 16, reading pyspark.zip 12 times and the
    spark-core jar twice per task. Only the top-level importers are
    kept, so each archive is still refreshed once per task; a dropped
    importer is rebuilt on its package's next import from the refreshed
    ``zipimport._zip_directory_cache``."""
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            cache.pop(key, None)


def _pyless_archives(paths) -> list[str]:
    """The entries of ``paths`` that are zip archives (a jar is one)
    holding no ``.py`` or ``.pyc`` file, so no module can be imported
    from them. Directories, missing paths and files that are not zip
    archives are never listed."""
    out = []
    for p in paths:
        if not (isinstance(p, str) and os.path.isfile(p)):
            continue
        try:
            with zipfile.ZipFile(p) as zf:
                names = zf.namelist()
        except (OSError, zipfile.BadZipFile):
            continue
        if not any(n.endswith((".py", ".pyc")) for n in names):
            out.append(p)
    return out


def _task_prelude() -> None:
    """Call first in every Python task body; idempotent.

    Every call drops the nested zipimporters
    (:func:`_drop_nested_zip_finders`). The first call in a worker also:

    - removes from ``sys.path`` every archive with no Python in it,
      together with its importer, so ``invalidate_caches()`` stops
      re-reading it (a local-mode worker lists the 5,359-entry
      spark-core jar, ~30-40 ms per re-read). Cluster layouts differ, so
      finding none is fine; an archive that can hold Python is kept;
    - calls ``gc.freeze()``, moving everything the worker has imported
      so far out of reach of the daemon's per-task ``gc.collect()``.
      Any cyclic garbage alive at that moment stays pinned for the
      worker's life; ``worker_rss_peak_mb`` in perfbench guards that."""
    global _worker_ready
    _drop_nested_zip_finders()
    if _worker_ready:
        return
    dead = set(_pyless_archives(sys.path))
    if dead:
        sys.path[:] = [p for p in sys.path if p not in dead]
        for p in dead:
            sys.path_importer_cache.pop(p, None)
    gc.freeze()
    _worker_ready = True
