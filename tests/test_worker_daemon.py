"""The Python worker daemon's cache invalidation (el.worker_daemon):
zip importers keep their archive directory, every other finder is
invalidated, and files shipped to running workers stay importable."""

from __future__ import annotations

import importlib.machinery
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from el import worker_daemon


def test_invalidate_caches_keeps_zip_directories(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("probe_zip_mod.py", "X = 1\n")
    directory = str(tmp_path / "plain")
    (tmp_path / "plain").mkdir()
    zipper = zipimport.zipimporter(archive)
    finder = importlib.machinery.FileFinder(directory)
    finder.find_spec("anything")  # fills the directory cache
    sys.path_importer_cache[archive] = zipper
    sys.path_importer_cache[directory] = finder
    try:
        files = zipimport._zip_directory_cache[archive]
        assert finder._path_mtime != -1
        worker_daemon.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is files
        assert sys.path_importer_cache[archive] is zipper
        assert finder._path_mtime == -1
    finally:
        sys.path_importer_cache.pop(archive, None)
        sys.path_importer_cache.pop(directory, None)


def test_add_py_file_after_tasks_ran(spark, tmp_path):
    """Workers that already ran tasks import modules shipped later
    with addPyFile, as a .py file and inside a .zip."""
    df = spark.range(8).repartition(4)
    plus_one = F.udf(lambda x: x + 1, "long")
    assert df.select(plus_one("id")).count() == 8

    module = tmp_path / "el_shipped_mod.py"
    module.write_text("VALUE = 40\n")
    archive = tmp_path / "el_shipped_zip.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("el_shipped_zip_mod.py", "VALUE = 2\n")
    spark.sparkContext.addPyFile(str(module))
    spark.sparkContext.addPyFile(str(archive))

    def shipped(x):
        import el_shipped_mod
        import el_shipped_zip_mod

        return x + el_shipped_mod.VALUE + el_shipped_zip_mod.VALUE

    got = df.select(F.udf(shipped, "long")("id").alias("v")).collect()
    assert sorted(r["v"] for r in got) == [i + 42 for i in range(8)]
