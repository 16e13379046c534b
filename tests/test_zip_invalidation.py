"""The package's stat guard on ``zipimport.zipimporter.invalidate_caches``:
an unchanged archive is not re-read, a changed or missing one is, and a
PySpark worker that has run an engine UDF pays no directory reads for the
``importlib.invalidate_caches()`` at the start of each task."""

import importlib
import json
import os
import sys
import zipfile
import zipimport

import pytest

import wikisource_latin_text_cleaner_spark as pkg


def _write_zip(path, *modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zipguard_a`` on ``sys.path``, and a list that
    collects each ``zipimport._read_directory`` call on that archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "zipguard_a")
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("zipguard_a", "zipguard_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_zip_is_read_once(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("zipguard_a").NAME == "zipguard_a"
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    before = len(reads)
    importlib.invalidate_caches()  # no stamp yet: the first refresh reads
    assert len(reads) == before + 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == before + 1


def test_rewritten_zip_is_reread(zip_on_path):
    archive, _ = zip_on_path
    importlib.import_module("zipguard_a")
    importlib.invalidate_caches()
    _write_zip(archive, "zipguard_a", "zipguard_b")
    importlib.invalidate_caches()
    assert importlib.import_module("zipguard_b").NAME == "zipguard_b"


def test_missing_zip_takes_original_path(zip_on_path):
    archive, reads = zip_on_path
    importlib.import_module("zipguard_a")
    importlib.invalidate_caches()
    before = len(reads)
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == before + 2


def test_package_import_installs_guard_once():
    guarded = zipimport.zipimporter.invalidate_caches
    assert getattr(guarded, "stat_guarded", False)
    pkg._install_zip_stat_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_worker_steady_state_reads_no_directory(spark):
    """Job 1 puts the guard in the workers (unpickling the probe imports the
    package); each later task's ``setup_spark_files`` invalidation stamps
    every zipimporter, so job 2's probe invalidation reads nothing. Tasks
    on a worker whose importers were not all stamped on entry (one that
    had run no package code before) are left out; at least one must remain."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(s):
        import importlib as il
        import json as js
        import sys as sy
        import zipimport as zi

        import wikisource_latin_text_cleaner_spark  # noqa: F401

        zips = [f for f in sy.path_importer_cache.values()
                if isinstance(f, zi.zipimporter)]
        warm = all(hasattr(f, "_stat_stamp") for f in zips)
        reads = []
        read_directory = zi._read_directory
        zi._read_directory = lambda path: (reads.append(path),
                                           read_directory(path))[1]
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read_directory
        out = js.dumps({"zips": len(zips), "warm": warm, "reads": len(reads)})
        return s.map(lambda _: out)

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n, numPartitions=n).select(
        probe(F.col("id").cast("string")).alias("p"))
    df.collect()
    job2 = [json.loads(r.p) for r in df.collect()]
    assert all(t["zips"] >= 1 for t in job2), job2
    warm = [t for t in job2 if t["warm"]]
    assert warm, job2
    assert all(t["reads"] == 0 for t in warm), job2
