"""The engine session's Python-worker daemon entry
(``broadway_spark._worker_daemon``): zip importers re-read an archive
only when it changed, and the session's workers run under it."""

import importlib
import os
import sys
import zipfile
import zipimport


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    from broadway_spark import _worker_daemon

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )  # restored after the test
    _worker_daemon.install()
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"bw_zip_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("bw_zip_first", "bw_zip_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("bw_zip_first").VALUE == 1

    # rewritten in place with a new module: the next invalidation
    # re-reads the archive and the new module imports
    _write_zip(archive, {"bw_zip_first": "VALUE = 1\n",
                         "bw_zip_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("bw_zip_second").VALUE == 2

    # unchanged archives: an invalidation reads no zip directory
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def _worker_report(batches):
    """Which module the worker's daemon runs, and whether each zip
    importer's stamp matches its archive."""
    import pandas as pd

    from broadway_spark._worker_daemon import archive_stamp

    for _ in batches:
        pass
    with open(f"/proc/{os.getppid()}/cmdline", "rb") as fh:
        daemon = fh.read().split(b"\0")
    importers = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter)
    ]
    yield pd.DataFrame({
        "daemon_module": [daemon[daemon.index(b"-m") + 1].decode()],
        "zip_importers": [len(importers)],
        "stamped": [sum(
            getattr(imp, "_archive_stamp", None)
            == archive_stamp(imp.archive)
            for imp in importers
        )],
    })


def test_python_workers_run_under_the_daemon_entry(spark):
    df = spark.range(1, numPartitions=1)
    schema = "daemon_module string, zip_importers long, stamped long"
    for _ in range(2):
        (row,) = df.mapInPandas(_worker_report, schema).collect()
        assert row.daemon_module == "broadway_spark._worker_daemon"
        assert row.zip_importers > 0
        assert row.stamped == row.zip_importers
