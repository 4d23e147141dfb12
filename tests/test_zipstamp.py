"""Zip importers re-read their archive only when it has changed
(gclog_parser_spark/_zipstamp.py): in this process, and in every task
of a Spark Python worker, whose ``setup_spark_files()`` invalidates
the import caches once per task."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import gclog_parser_spark  # noqa: F401  (installs the rule)


def _count_rereads(monkeypatch) -> list[str]:
    """Archives ``zipimport._read_directory`` parses from now on."""
    real = zipimport._read_directory
    seen: list[str] = []
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: seen.append(a) or real(a)
    )
    return seen


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "X = 1\n")
        z.writestr("zpkg/a.py", "A = 2\n")
    monkeypatch.syspath_prepend(archive)
    try:
        import zpkg.a

        assert zpkg.a.A == 2
        importlib.invalidate_caches()  # stamps every importer
        seen = _count_rereads(monkeypatch)
        importlib.invalidate_caches()
        assert archive not in seen

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr("zpkg/b.py", "B = 3\n")
        importlib.invalidate_caches()
        assert archive in seen
        import zpkg.b

        assert zpkg.b.B == 3
    finally:
        for name in ("zpkg", "zpkg.a", "zpkg.b"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if archive in k]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def _probe_rereads(batches):
    """mapInPandas body: the zip importers this worker holds (pyspark.zip
    and py4j's zip), how many of them are pyspark.zip's, and how many
    one ``invalidate_caches()`` re-reads once the worker has seen each
    archive."""
    import importlib
    import sys
    import zipimport

    import pandas as pd

    import gclog_parser_spark  # noqa: F401

    for _ in batches:
        pass
    importlib.invalidate_caches()
    archives = [
        f.archive
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    ]
    real = zipimport._read_directory
    seen = []
    zipimport._read_directory = lambda a: seen.append(a) or real(a)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    yield pd.DataFrame(
        {
            "importers": [len(archives)],
            "pyspark_zip": [sum(a.endswith("pyspark.zip") for a in archives)],
            "rereads": [len(seen)],
        }
    )


def test_worker_task_does_not_reread_pyspark_zip(spark):
    """A worker holds 16 zip importers, 12 of them over pyspark.zip's
    1,328 entries; without the rule every task re-read all 16."""
    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(
            _probe_rereads, "importers long, pyspark_zip long, rereads long"
        )
        .collect()
    )
    assert len(rows) == 4
    assert all(r["pyspark_zip"] > 0 for r in rows)
    assert [r["rereads"] for r in rows] == [0, 0, 0, 0]
