"""Python-worker setup paid once per worker (session.exempt_spark_archives).

Every task calls ``importlib.invalidate_caches()``; on CPython 3.11 that
re-reads each cached zip archive's directory.  The package exempts the
archives of the Spark install and leaves every other zip alone.  These
tests assert the mechanism, not a wall-clock bound.
"""

import importlib
import sys
import zipfile
import zipimport

from gonova_document_parser_spark.session import exempt_spark_archives


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_spark_archives_not_reread_in_workers(spark):
    """16 tasks on local[4]: every reused worker has the replacement
    installed, and invalidating caches leaves the pyspark.zip importer's
    directory dict the very same object (it was not re-read)."""

    def probe(batches):
        import gonova_document_parser_spark  # noqa: F401

        import importlib
        import zipimport

        import pandas as pd
        import pyspark

        loader = pyspark.__loader__
        installed = hasattr(zipimport.zipimporter.invalidate_caches, "spark_root")
        before = loader._files
        importlib.invalidate_caches()
        kept = loader._files is before
        for _ in batches:
            pass
        yield pd.DataFrame({"installed": [installed], "kept": [kept]})

    rows = (
        spark.range(16, numPartitions=16)
        .mapInPandas(probe, "installed boolean, kept boolean")
        .collect()
    )
    assert len(rows) == 16
    assert all(r["installed"] for r in rows)
    assert all(r["kept"] for r in rows)


def test_exemption_scoped_to_spark_install_root(tmp_path, monkeypatch):
    """Under a (fake) install root the directory is not re-read; a user
    zip outside it is, so a module added to it after import imports."""
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)

    root = tmp_path / "spark"
    (root / "python" / "lib").mkdir(parents=True)
    (root / "jars").mkdir()
    spark_jar = root / "jars" / "core.jar"
    user_zip = tmp_path / "user.zip"
    _write_zip(spark_jar, ["gv_spark_a"])
    _write_zip(user_zip, ["gv_user_a"])
    for name in ("gv_spark_a", "gv_spark_b", "gv_user_a", "gv_user_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(str(spark_jar))
    monkeypatch.syspath_prepend(str(user_zip))
    import gv_spark_a  # noqa: F401
    import gv_user_a  # noqa: F401

    exempt_spark_archives(str(root / "python" / "lib" / "pyspark.zip"))
    replaced = zipimport.zipimporter.invalidate_caches
    assert replaced is not original
    exempt_spark_archives(str(root / "python" / "lib" / "pyspark.zip"))
    assert zipimport.zipimporter.invalidate_caches is replaced  # idempotent

    spark_importer = sys.path_importer_cache[str(spark_jar)]
    spark_files = spark_importer._files
    _write_zip(spark_jar, ["gv_spark_a", "gv_spark_b"])
    _write_zip(user_zip, ["gv_user_a", "gv_user_b"])
    importlib.invalidate_caches()

    assert importlib.import_module("gv_user_b").NAME == "gv_user_b"
    assert spark_importer._files is spark_files
    assert "gv_spark_b.py" not in spark_importer._files


def test_no_exemption_without_a_zipped_pyspark(tmp_path, monkeypatch):
    """The driver's pyspark is not imported from a zip, so importing the
    package left the original method in place; neither a missing archive
    nor a pyspark.zip outside ``<root>/python/lib`` installs anything."""
    import pyspark

    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    if getattr(pyspark.__loader__, "archive", None) is None:
        assert not hasattr(original, "spark_root")
    exempt_spark_archives(None)
    exempt_spark_archives(str(tmp_path / "userFiles-1" / "pyspark.zip"))
    assert zipimport.zipimporter.invalidate_caches is original
