"""compat/zipcache.py: importlib.invalidate_caches() re-reads a zip archive
only when it changed, and Spark's Python workers run with the patch."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from gridmr_spark.compat import zipcache


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(name, source)


def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_probe_a.py": "X = 1\n"})
    # Undone at teardown, so this process keeps whatever it had before.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    assert zipcache.install()
    assert zipcache.install()  # idempotent
    importer = zipimport.zipimporter(archive)
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real_read(path)
    )
    importer.invalidate_caches()  # the first call re-reads once
    importer.invalidate_caches()
    zipimport.zipimporter(archive).invalidate_caches()  # a second importer shares it
    assert reads == [archive]

    _write_zip(archive, {"zc_probe_a.py": "X = 1\n", "zc_probe_b.py": "Y = 2\n"})
    os.utime(archive, ns=(0, 0))  # a new mtime even on a coarse clock
    importer.invalidate_caches()
    assert reads == [archive, archive]
    assert importer.find_spec("zc_probe_b") is not None


def test_import_sees_a_rewritten_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_probe_c.py": "V = 'old'\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    zipcache.install()
    monkeypatch.syspath_prepend(archive)
    import zc_probe_c  # noqa: F401

    assert sys.modules["zc_probe_c"].V == "old"
    del sys.modules["zc_probe_c"]
    _write_zip(archive, {"zc_probe_c.py": "V = 'old'\n", "zc_probe_d.py": "V = 'new'\n"})
    os.utime(archive, ns=(0, 0))
    importlib.invalidate_caches()
    assert importlib.import_module("zc_probe_d").V == "new"
    sys.modules.pop("zc_probe_d", None)


def test_spark_workers_run_with_the_patch(spark):
    def probe(_):
        import zipimport

        yield getattr(zipimport.zipimporter.invalidate_caches, "_stat_checked", False)

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [True]


def test_shim_exported_when_protobuf_does_not_resolve(spark, monkeypatch):
    """get_spark exports the shim directory (whose sitecustomize installs
    this patch in workers) also on a host where no protobuf runtime
    resolves, to future JVMs and to the running context."""
    from gridmr_spark.compat import pbshim
    from gridmr_spark.session import get_spark

    monkeypatch.setattr(pbshim, "_bootstrap_current_process", lambda: False)
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.setitem(spark.sparkContext.environment, "PYTHONPATH", "")
    assert get_spark() is spark
    assert pbshim._SHIM_PATH_DIR in os.environ["PYTHONPATH"].split(os.pathsep)
    assert pbshim._SHIM_PATH_DIR in spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
