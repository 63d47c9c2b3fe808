"""Laws for the engine's Python worker entry (``pyspark_mrdf_spark/worker.py``)
and for q56's exact-side thread, which must carry the caller's job tags."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import warnings
import zipfile
import zipimport

import pandas as pd

from pyspark_mrdf_spark import worker as worker_entry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_kernels_run_through_the_engine_worker_entry(spark):
    """A mapInPandas kernel on an engine session sees the entry's
    ``invalidate_caches``, not zipimport's own."""

    def probe(batches):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame(
                {"file": [fn.__code__.co_filename], "name": [fn.__qualname__]}
            )

    rows = spark.range(0, 2, numPartitions=2).mapInPandas(probe, "file string, name string").collect()
    assert len(rows) == 2
    for r in rows:
        assert r.name == "invalidate_caches"
        assert os.path.exists(r.file), r.file
        assert os.path.samefile(r.file, worker_entry.__file__)


def test_worker_module_conf_imports_cleanly_and_passes_the_daemon_rule(spark):
    """pyspark.daemon imports the worker module only if its name starts
    with "pyspark" and silently runs pyspark.worker otherwise, so a
    renamed entry would quietly undo the gain."""
    module = spark.sparkContext.getConf().get("spark.python.worker.module")
    assert module is not None and module.startswith("pyspark")
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import importlib, sys; assert callable(importlib.import_module(sys.argv[1]).main)",
            module,
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stderr == ""


def _write_archive(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


def test_zip_directory_is_reread_only_when_the_archive_changed(tmp_path, monkeypatch):
    assert zipimport.zipimporter.invalidate_caches is worker_entry.invalidate_caches
    archive = str(tmp_path / "lawpkg.zip")
    _write_archive(archive, {"lawpkg/__init__.py": "", "lawpkg/mod.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    names = ("lawpkg", "lawpkg.mod", "lawpkg.extra")
    try:
        assert importlib.import_module("lawpkg.mod").VALUE == 1
        importers = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
        ]
        assert len(importers) == 2  # the archive root and lawpkg/
        importlib.invalidate_caches()

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            if path == archive:
                reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads == []

        _write_archive(
            archive,
            {
                "lawpkg/__init__.py": "",
                "lawpkg/mod.py": "VALUE = 2\n",
                "lawpkg/extra.py": "EXTRA = 3\n",
            },
        )
        for name in names:
            sys.modules.pop(name, None)
        importlib.invalidate_caches()
        assert len(reads) == len(importers)
        assert importlib.import_module("lawpkg.mod").VALUE == 2
        assert importlib.import_module("lawpkg.extra").EXTRA == 3
    finally:
        for name in names:
            sys.modules.pop(name, None)


def test_q56_exact_side_thread_carries_the_callers_tags(spark, sf_dir, monkeypatch):
    """q56 builds its exact graph on a pool thread; the thread's jobs
    must carry a tag added on the caller's session, without the
    "Tags will not be inherited" warning."""
    from pyspark_mrdf_spark.queries import vector as qv

    def probe(batches):
        from pyspark import TaskContext

        tags = TaskContext.get().getLocalProperty("spark.job.tags") or ""
        for _ in batches:
            yield pd.DataFrame({"tags": [tags]})

    seen = []
    exact_graph = qv._exact_graph

    def traced_exact_graph(s, d):
        seen.extend(r.tags for r in s.range(1).mapInPandas(probe, "tags string").collect())
        return exact_graph(s, d)

    monkeypatch.setattr(qv, "_exact_graph", traced_exact_graph)
    tag = "q56-thread-law"
    spark.addTag(tag)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            recall = qv.q56_mrdf_recall(spark, sf_dir).collect()[0]["recall"]
    finally:
        spark.removeTag(tag)
    assert 0.0 < recall <= 1.0
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]
    assert seen and all(tag in t for t in seen), seen
