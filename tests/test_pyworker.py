"""The Spark-worker zip-directory fix (sfr_ingest_pipeline_spark.pyworker)."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from sfr_ingest_pipeline_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_unchanged_archive_is_not_reread_and_a_rewrite_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"zipfix_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    # restored when the test ends, so the fix does not outlive it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    # a copy, so the archive's importer goes when the test ends
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    try:
        _check_rereads(archive, monkeypatch)
    finally:
        for name in ("zipfix_probe_a", "zipfix_probe_b"):
            sys.modules.pop(name, None)


def _check_rereads(archive, monkeypatch):
    import zipfix_probe_a  # noqa: F401 - creates the archive's zipimporter

    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    pyworker.install_zip_cache_fix()

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zipfix_probe_a": "VALUE = 1\n",
                         "zipfix_probe_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    import zipfix_probe_b

    assert zipfix_probe_b.VALUE == 2
    importlib.invalidate_caches()
    assert reads == [archive]


def test_import_outside_a_task_changes_nothing():
    code = (
        "import zipimport\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "import pyspark.taskcontext, sfr_ingest_pipeline_spark\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


def test_engine_udf_installs_the_fix_in_its_worker(spark):
    """A UDF that imports the engine runs with the fix installed."""
    from pyspark.sql import functions as F

    @F.udf("boolean")
    def keyed(_):
        import zipimport

        import sfr_ingest_pipeline_spark  # noqa: F401

        return bool(getattr(zipimport.zipimporter.invalidate_caches,
                            "keyed_on_archive_stat", False))

    assert spark.range(1).select(keyed("id")).first()[0] is (sys.version_info < (3, 13))
