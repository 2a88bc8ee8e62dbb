"""The worker daemon re-indexes a zip on the import path only when it changes."""

import importlib
import sys
import zipfile
import zipimport


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reindexed(tmp_path, monkeypatch):
    from ironspark import worker_daemon

    monkeypatch.setattr(zipimport, "_read_directory", worker_daemon.read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"_wd_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("_wd_mod_a").VALUE == 1
        n_import = reads.count(str(archive))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n_import

        _write_zip(archive, {"_wd_mod_a": "VALUE = 1\n", "_wd_mod_b": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == n_import + 1
        assert importlib.import_module("_wd_mod_b").VALUE == 2
    finally:
        for name in ("_wd_mod_a", "_wd_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_workers_run_the_patched_daemon(spark):
    def owner(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {"owner": [zipimport.zipimporter.invalidate_caches.__module__]}
            )

    rows = spark.range(2, numPartitions=2).mapInPandas(owner, "owner string").collect()
    assert {r.owner for r in rows} == {"ironspark.worker_daemon"}
