"""spark-submit --py-files deployment contract (north rule)."""

from __future__ import annotations

import importlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

from fastbloom_spark.deploy import install_zip_directory_cache, make_pyfiles_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 invalidates zip importers lazily")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture
def counted_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_eager_zip_invalidation
def test_invalidate_caches_reuses_unchanged_zip_directory(
        tmp_path, monkeypatch, counted_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"fb_zipcache_pkg/__init__.py": "",
                         "fb_zipcache_pkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("fb_zipcache_pkg.a").X == 1
        # one importer for the archive root, one for the package dir
        importers = [i for i in sys.path_importer_cache.values()
                     if isinstance(i, zipimport.zipimporter)
                     and i.archive == archive]
        assert len(importers) == 2
        importlib.invalidate_caches()  # first sight of the archive: read
        counted_reads.clear()
        importlib.invalidate_caches()
        assert counted_reads.count(archive) == 0

        # an added module changes the archive: it is re-read, once
        _write_zip(archive, {"fb_zipcache_pkg/__init__.py": "",
                             "fb_zipcache_pkg/a.py": "X = 1\n",
                             "fb_zipcache_pkg/b.py": "Y = 2\n"})
        counted_reads.clear()
        importlib.invalidate_caches()
        assert counted_reads.count(archive) == 1
        assert importlib.import_module("fb_zipcache_pkg.b").Y == 2
    finally:
        for name in ("fb_zipcache_pkg", "fb_zipcache_pkg.a",
                     "fb_zipcache_pkg.b"):
            sys.modules.pop(name, None)
        for path in [p for p in sys.path_importer_cache
                     if p.startswith(archive)]:
            del sys.path_importer_cache[path]


@needs_eager_zip_invalidation
def test_invalidate_caches_drops_missing_zip(tmp_path, monkeypatch,
                                             counted_reads):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"fb_zipcache_gone.py": "Z = 3\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("fb_zipcache_gone").Z == 3
        importlib.invalidate_caches()
        os.remove(archive)
        sys.modules.pop("fb_zipcache_gone")
        importlib.invalidate_caches()
        with pytest.raises(ImportError):
            importlib.import_module("fb_zipcache_gone")
        counted_reads.clear()  # still missing: no second read attempt
        importlib.invalidate_caches()
        assert counted_reads.count(archive) == 0
    finally:
        sys.modules.pop("fb_zipcache_gone", None)
        sys.path_importer_cache.pop(archive, None)


def test_zip_directory_cache_installs_once_and_only_before_312(monkeypatch):
    current = zipimport.zipimporter.invalidate_caches
    stdlib = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    monkeypatch.setattr(sys, "version_info", (3, 11, 7, "final", 0))
    install_zip_directory_cache()
    cached = zipimport.zipimporter.invalidate_caches
    assert cached is not stdlib and cached.__wrapped__ is stdlib
    install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is cached


@needs_eager_zip_invalidation
def test_reused_python_workers_skip_zip_rereads(spark):
    """PySpark invalidates the import caches at the start of every task.
    Once a worker has run the library's UDFs, a later job's tasks re-read
    no unchanged zip directory (pyspark.zip, py4j, --py-files)."""
    import pandas as pd

    from fastbloom_spark import kernel

    def count_reads(batches):
        import zipimport

        state = getattr(zipimport, "_fb_test_reads", None)
        if state is None:  # once per worker: count every directory read
            real = zipimport._read_directory
            state = zipimport._fb_test_reads = {"reads": 0, "tasks": 0}

            def counting(archive):
                state["reads"] += 1
                return real(archive)

            zipimport._read_directory = counting
        state["tasks"] += 1
        rows = sum(len(kernel.source_hash(b["id"].to_numpy()))
                   for b in batches)
        zips = sum(isinstance(i, zipimport.zipimporter)
                   for i in sys.path_importer_cache.values())
        yield pd.DataFrame({"pid": [os.getpid()], "reads": [state["reads"]],
                            "tasks": [state["tasks"]], "zips": [zips],
                            "rows": [rows]})

    schema = "pid long, reads long, tasks long, zips long, rows long"
    df = spark.range(0, 3200, numPartitions=32).mapInPandas(count_reads,
                                                            schema)
    first = df.toPandas()
    second = df.toPandas()
    assert first["rows"].sum() == second["rows"].sum() == 3200
    if not (first["zips"] > 0).any():
        pytest.skip("Python workers import nothing from a zip")
    # workers that ran >= 2 tasks in the first job have seen every archive
    warm = first.groupby("pid").agg(reads=("reads", "max"),
                                    tasks=("tasks", "max"))
    warm = warm[warm["tasks"] >= 2]
    assert len(warm) > 0
    again = second[second["pid"].isin(warm.index)]
    assert len(again) > 0
    after = again.groupby("pid")["reads"].max()
    assert (after - warm["reads"].loc[after.index]).sum() == 0


def test_zip_is_deterministic_and_complete(tmp_path):
    a = make_pyfiles_zip(str(tmp_path / "a.zip"))
    b = make_pyfiles_zip(str(tmp_path / "b.zip"))
    assert open(a, "rb").read() == open(b, "rb").read()
    names = zipfile.ZipFile(a).namelist()
    assert "fastbloom_spark/__init__.py" in names
    assert "fastbloom_spark/operators/bloom.py" in names
    assert not any("__pycache__" in n or n.endswith(".pyc") for n in names)


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_job(tmp_path):
    """The real deployment path: spark-submit with ONLY the zip on the
    python path (cwd moved away so the repo isn't importable)."""
    zip_path = make_pyfiles_zip(str(tmp_path / "fastbloom_spark.zip"))
    ckpt = str(tmp_path / "ckpt")
    env = dict(os.environ, PYTHONPATH="")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "build_bloom.py"),
         "/root/testdata/sf0.001/documents.parquet", "text",
         "0.01", "42", ckpt],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["rows"] == 500
    assert out["k"] >= 1 and out["m"] % 64 == 0
    assert os.path.isdir(ckpt)


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_dedup_job(tmp_path):
    """Corpus dedup pipeline via spark-submit --py-files: exact then
    MinHash near-dup, counts reported on stdout."""
    zip_path = make_pyfiles_zip(str(tmp_path / "fastbloom_spark.zip"))
    out_dir = str(tmp_path / "deduped")
    env = dict(os.environ, PYTHONPATH="")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "dedup_corpus.py"),
         "/root/testdata/sf0.001/documents.parquet", "doc_id", "text",
         "0.7", out_dir],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["rows_in"] == 500
    assert 0 < out["after_near_dedup"] <= out["after_exact_dedup"] <= 500
    assert os.path.isdir(out_dir)


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_streaming_dedup_job(tmp_path):
    """Streaming Bloom dedup via spark-submit: drain-available trigger,
    restart resumes state (second run over appended duplicates emits
    nothing new)."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    zip_path = make_pyfiles_zip(str(tmp_path / "fastbloom_spark.zip"))
    src = tmp_path / "src"
    src.mkdir()
    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet",
                        columns=["doc_id", "text"])
    pq.write_table(tbl, str(src / "a.parquet"))
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    env = dict(os.environ, PYTHONPATH="")
    args = ["spark-submit", "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            os.path.join(REPO, "jobs", "streaming_dedup.py"),
            str(src), "text", str(1 << 14), "5", "42", out_dir, ckpt,
            "doc_id"]
    p1 = subprocess.run(args, capture_output=True, text=True, timeout=300,
                        cwd=str(tmp_path), env=env)
    assert p1.returncode == 0, p1.stderr[-3000:]
    n1 = json.loads([l for l in p1.stdout.splitlines()
                     if l.startswith("{")][-1])["emitted_total"]
    # replay the same rows as a new file: state must suppress all of them
    pq.write_table(tbl, str(src / "b.parquet"))
    p2 = subprocess.run(args, capture_output=True, text=True, timeout=300,
                        cwd=str(tmp_path), env=env)
    assert p2.returncode == 0, p2.stderr[-3000:]
    n2 = json.loads([l for l in p2.stdout.splitlines()
                     if l.startswith("{")][-1])["emitted_total"]
    assert n1 > 0
    assert n2 == n1  # replay emitted nothing


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_build_block64_xxh64(tmp_path):
    """The build job's layout/digest arguments reach the filter config."""
    zip_path = make_pyfiles_zip(str(tmp_path / "fastbloom_spark.zip"))
    ckpt = str(tmp_path / "ckpt_blk")
    env = dict(os.environ, PYTHONPATH="")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "build_bloom.py"),
         "/root/testdata/sf0.001/documents.parquet", "text",
         "0.01", "42", ckpt, "block64", "xxh64"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["rows"] == 500
    assert out["layout"] == "block64" and out["digest"] == "xxh64"


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_index_job(tmp_path):
    """Skip-index job over the zip-only deployment path: builds the
    bucketed table + index and reports pruning for a member probe."""
    import duckdb

    zip_path = make_pyfiles_zip(str(tmp_path / "fastbloom_spark.zip"))
    out_path = str(tmp_path / "indexed")
    probe = duckdb.sql(
        "SELECT text FROM '/root/testdata/sf0.001/documents.parquet' "
        "WHERE doc_id = 7").fetchone()[0]
    env = dict(os.environ, PYTHONPATH="")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "build_index.py"),
         "/root/testdata/sf0.001/documents.parquet", out_path,
         "text", "doc_id", "8", "0.01", "zones=n_chars", probe],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["rows"] == 500 and out["num_buckets"] == 8
    assert out["probe_rows_matched"] >= 1      # zero-FN: the row is found
    assert 1 <= out["buckets_survived"] <= 2   # FPR-bounded over-read
    # versioned atomic publish: exactly one committed version dir with the
    # bloom rows + zones inside it
    vroot = f"{out_path}/index_versions"
    versions = sorted(os.listdir(vroot))
    assert len(versions) == 1, versions
    vdir = f"{vroot}/{versions[0]}"
    assert os.path.isfile(f"{vdir}/_COMMITTED")
    assert os.path.isdir(f"{vdir}/bloom")
    assert os.path.isdir(f"{vdir}/zones/n_chars")


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_pipeline_job(tmp_path):
    """The composed corpus pipeline via spark-submit --py-files: packed
    output partitioned by split, per-stage counts + fill stats on
    stdout; packed rows never exceed capacity except oversize-solo."""
    import pyarrow.parquet as pq

    zip_path = make_pyfiles_zip(str(tmp_path / "fastbloom_spark.zip"))
    src = str(tmp_path / "docs.parquet")
    tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet",
                        columns=["doc_id", "text"])
    pq.write_table(tbl, src)
    out_dir = str(tmp_path / "packed")
    env = dict(os.environ, PYTHONPATH="")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=8",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", "run_pipeline.py"),
         src, out_dir, "-", "0.2", "5", "128", "8"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert out["rows_in"] == 500
    assert 0 < out["rows_packed"] <= 500
    assert out["rows_packed"] == out["rows_in"] - out["rows_dropped"]
    assert set(out["splits"]) <= {"train", "val", "test"}
    assert sum(out["splits"].values()) == out["rows_packed"]
    assert out["blocks"] > 0 and 0 < out["fill_ratio"]
    # read the table back: split-partitioned, capacity law holds
    import duckdb

    over = duckdb.sql(
        f"""SELECT count(*) FROM (
              SELECT split, shard, block_id, sum(n_tokens) AS t,
                     max(oversize::INT) AS over
              FROM parquet_scan('{out_dir}/*/*.parquet',
                                hive_partitioning=1)
              GROUP BY ALL)
            WHERE t > 128 AND over = 0""").fetchone()[0]
    assert over == 0
