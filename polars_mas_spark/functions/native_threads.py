"""Once-per-process set-up for executor Python workers.

Every Python stage a study ships (the columnar ``fit_partition``, the
packed grouped-map ``kernel``, the moments ``solve`` and
``checkpoint_wide``'s ``write_parts``) calls [[prepare_worker]] first.
It removes three costs a reused worker would otherwise pay per task or
per fit; each step is safe to call any number of times. Only shipped
closures call it, so the driver process is never changed by it.

1. Native threads. The engine's kernels solve tiny (n x ~10) systems;
   with one Python worker pinned to every core, any intra-process
   parallelism (OpenBLAS threads, pyarrow's pool) only adds contention
   (session._BLAS_ENV has the environment-variable version and
   measurements). Environment variables only work if they are set
   before the worker process loads numpy — true for sessions built by
   get_spark(), but NOT guaranteed when a third-party harness owns the
   SparkSession. [[limit_native_threads]]
   is the runtime fallback: it calls openblas_set_num_threads on the
   already-loaded BLAS (what threadpoolctl does; not installed here)
   and caps pyarrow's pool.
2. Zip-archive re-reads. pyspark's worker calls
   ``importlib.invalidate_caches()`` at the start of every task
   (``worker_util.setup_spark_files``). On CPython < 3.12 every
   ``zipimporter`` then re-parses its archive's whole central
   directory, and a worker importing pyspark from ``pyspark.zip``
   (1,328 entries) holds about 16 of them: on a 4-core guest that was
   0.25-0.3 s of CPU per task, most of an empty task's cost.
   [[stamp_zip_importers]] makes the re-read conditional on the archive
   having changed on disk. CPython 3.12 made the invalidation lazy, so
   the step does nothing there.
3. Full garbage collections. After every task of a reused worker,
   pyspark's daemon calls ``gc.collect()`` (``pyspark/daemon.py``), a
   full sweep over every object the worker's imports left tracked: a
   profile of a worker between tasks showed 45 ms of ``gc.collect``
   per task, and a trivial 4-task ``mapInPandas`` job cost 0.146-0.158
   s of worker CPU (4-core guest, steady state over 20 jobs).
   [[freeze_worker_heap]] imports the modules the shipped closures use
   and calls ``gc.freeze()`` once per process, after which each sweep
   scans only what tasks allocated: the same job then cost 0.012 s.
   Memory stays bounded: refcounting and later collections still free
   everything tasks allocate, and only objects alive at the freeze,
   which live as long as the process does, are exempt.
"""

from __future__ import annotations

import functools
import gc
import importlib
import os
import sys

_DONE = False
_FROZEN = False
# The modules the shipped closures import, loaded before the freeze so
# their objects are frozen with the rest of the long-lived heap.
_WORKER_MODULES = (
    "numpy",
    "pandas",
    "pyarrow.compute",
    "pyarrow.dataset",
    "polars_mas_spark.operators.association",
)
# archive path -> (st_ino, st_mtime_ns, st_size) when its directory was
# last read. Process-wide on purpose: zipimport's own directory cache is.
_ARCHIVE_STAMPS: dict[str, tuple[int, int, int]] = {}


def prepare_worker() -> None:
    """The once-per-process worker set-up: one native thread per
    worker, stamped zip importers and a frozen long-lived heap (module
    docstring). Cheap after the first call, so it can sit at the top of
    every shipped closure."""
    limit_native_threads(1)
    stamp_zip_importers()
    freeze_worker_heap()


def freeze_worker_heap() -> None:
    """Import _WORKER_MODULES, then move every object the garbage
    collector tracks to its permanent generation (``gc.freeze()``), so
    later collections skip them. Once per process."""
    global _FROZEN
    if _FROZEN:
        return
    _FROZEN = True
    for name in _WORKER_MODULES:
        importlib.import_module(name)
    gc.freeze()


def limit_native_threads(n: int = 1) -> None:
    global _DONE
    if _DONE:
        return
    _DONE = True
    try:
        import ctypes
        import glob

        import numpy as np

        np_dir = os.path.dirname(np.__file__)
        # Wheel layouts by platform/numpy version:
        # - manylinux numpy 1.x:  numpy.libs/libopenblas64_p-*.so
        # - manylinux numpy 2.x:  numpy.libs/libscipy_openblas64_-*.so
        # - macOS wheels:         numpy/.dylibs/libopenblas*.dylib
        lib_dirs = (np_dir + ".libs", os.path.join(np_dir, ".dylibs"))
        patterns = ("libopenblas*", "libblas*", "libscipy_openblas*")
        for libs_dir in lib_dirs:
            for pattern in patterns:
                for path in glob.glob(os.path.join(libs_dir, pattern)):
                    try:
                        lib = ctypes.CDLL(path)
                    except OSError:
                        continue
                    for sym in ("scipy_openblas_set_num_threads64_",
                                "scipy_openblas_set_num_threads",
                                "openblas_set_num_threads64_",
                                "openblas_set_num_threads"):
                        fn = getattr(lib, sym, None)
                        if fn is not None:
                            fn(int(n))
                            break
    except Exception:
        pass  # best-effort: env vars remain the primary mechanism
    try:
        import pyarrow as pa

        pa.set_cpu_count(int(n))
        pa.set_io_thread_count(max(2, int(n)))
    except Exception:
        pass


def _stat_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def stamp_zip_importers() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_ino, st_mtime_ns, st_size)`` differs from the values
    recorded at its last read (CPython < 3.12; a no-op on 3.12+).

    One read per changed archive refreshes every importer on it: the
    others adopt the directory zipimport already cached for the archive.
    An archive rewritten in place is still re-read, and an archive that
    cannot be stat'ed or has no cached directory takes the original
    path. The importers already in ``sys.path_importer_cache`` are
    stamped on install, so the next task is already cheap: in a Spark
    worker the installing task's own ``invalidate_caches()`` has just
    re-read them. Later ``SparkFiles``/``addPyFile`` archives get new
    finders, which read their directory when created."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    reread = cls.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        archive = self.archive
        stamp = _stat_stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if (
            stamp is not None
            and files is not None
            and _ARCHIVE_STAMPS.get(archive) == stamp
        ):
            self._files = files
            return
        reread(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _ARCHIVE_STAMPS[archive] = stamp
        else:
            _ARCHIVE_STAMPS.pop(archive, None)

    for importer in list(sys.path_importer_cache.values()):
        if not isinstance(importer, cls):
            continue
        stamp = _stat_stamp(importer.archive)
        if stamp is not None and importer.archive in zipimport._zip_directory_cache:
            _ARCHIVE_STAMPS[importer.archive] = stamp
    cls.invalidate_caches = invalidate_caches
