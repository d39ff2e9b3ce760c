"""Deployment helpers: package the library for ``spark-submit --py-files``.

Cluster contract (north rule): jobs ship as a zip of this package plus a
driver script, e.g.::

    python -m fastbloom_spark.deploy --out /tmp/fastbloom_spark.zip
    spark-submit --master spark://... \
        --py-files /tmp/fastbloom_spark.zip jobs/build_bloom.py ...

The zip contains only the package sources (no tests, no caches) and is
deterministic for a given tree (fixed timestamps), so repeated submissions
are byte-identical and cacheable by the cluster manager.
"""

from __future__ import annotations

import functools
import gc
import os
import sys
import zipfile
import zipimport


def freeze_reused_worker_heap() -> None:
    """Exempt a reused Python worker's import-time objects from PySpark's
    per-task ``gc.collect()``. Runs once per process, and only where
    ``SPARK_REUSE_WORKER`` is set.

    PySpark's daemon runs a full collection after every task in a reused
    worker, and each one walks the ~73k objects that numpy, pandas,
    pyarrow, pyspark and this package created at import: ~35-40 ms of CPU
    per task, more than most tasks' own work. The package import runs this
    in each worker the first time a library UDF unpickles: it imports the
    array stack, collects once and moves every survivor into the permanent
    generation (``gc.freeze``), so later collections walk only the task's
    own objects. A second freeze would pin a later task's live objects too,
    so a process with a frozen heap is left alone. The driver and
    single-task workers have no per-task collection to save, and freezing
    the driver would exempt the user's heap from cycle collection."""
    if not os.environ.get("SPARK_REUSE_WORKER") or gc.get_freeze_count():
        return
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()


def install_zip_directory_cache() -> None:
    """Stop ``importlib.invalidate_caches()`` from re-reading unchanged zip
    archives. Idempotent; a no-op on CPython >= 3.12.

    PySpark's worker invalidates the import caches at the start of every
    task, and on CPython 3.11 each ``zipimporter`` then re-reads its
    archive's central directory (about 16 importers per worker, most over
    the 1,328-entry ``pyspark.zip``): ~0.2 CPU-s per task, whatever the
    task's rows. Python workers are reused across tasks, and the package
    import installs this cache in each one the first time a library UDF
    unpickles. An archive keyed by an unchanged ``(st_ino, st_size,
    st_mtime_ns)`` reuses the directory already read; a changed or missing
    one takes the original re-read, once per archive instead of once per
    importer. CPython 3.12 made the invalidation lazy."""
    if sys.version_info >= (3, 12):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_fastbloom_cached", False):
        return
    read = {}  # archive -> (stat key at read time, directory dict)

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        hit = read.get(self.archive)
        if hit is not None and hit[0] == key:
            self._files = hit[1]
            return
        original(self)
        read[self.archive] = (key, self._files)

    invalidate_caches._fastbloom_cached = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def make_pyfiles_zip(out_path: str, package_dir: str | None = None) -> str:
    """Zip the fastbloom_spark package for --py-files. Returns out_path."""
    if package_dir is None:
        package_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(package_dir)
    pkg = os.path.basename(package_dir)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, dirnames, filenames in os.walk(package_dir):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join(pkg, os.path.relpath(full, package_dir))
                info = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
                info.external_attr = 0o644 << 16
                with open(full, "rb") as f:
                    zf.writestr(info, f.read(), zipfile.ZIP_DEFLATED)
    return out_path


def ensure_shipped(spark) -> None:
    """Make the package importable on executors regardless of driver cwd.

    Driver-side ``sys.path`` does NOT propagate to Python workers; when the
    package was imported from a plain directory (not --py-files / a
    site-packages install), ship it once via ``addPyFile``. Idempotent per
    SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_fastbloom_shipped", False):
        return
    import hashlib
    import tempfile

    # content-stable cache path: the zip is byte-deterministic (pinned
    # zipinfo timestamps), so repeated SparkContexts in one host reuse one
    # artifact instead of leaking a fresh tmpdir + re-zipping per context;
    # keyed by source path+mtimes so edits still rebuild. Built aside and
    # os.replace'd (atomic) so concurrent drivers never ship a torn zip.
    package_dir = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256(package_dir.encode())
    for dirpath, _, filenames in sorted(os.walk(package_dir)):
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                h.update(fn.encode())
                h.update(str(os.path.getmtime(full)).encode())
    cache_dir = os.path.join(tempfile.gettempdir(), "fastbloom_pyfiles")
    os.makedirs(cache_dir, exist_ok=True)
    zip_path = os.path.join(cache_dir,
                            f"fastbloom_spark-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + f".tmp.{os.getpid()}"
        make_pyfiles_zip(tmp)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    sc._fastbloom_shipped = True


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="fastbloom_spark.zip")
    args = ap.parse_args()
    print(make_pyfiles_zip(args.out))
