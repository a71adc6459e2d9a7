"""The engine's worker daemon entry (``ocr_platform_spark.pyworker``): a
task's ``importlib.invalidate_caches()`` must not re-read zip archives."""

import sys
import zipfile

import pandas as pd
import pytest


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="zipimporter re-reads its archive only before 3.12")
def test_task_does_not_reread_zip_directories(spark, tmp_path):
    archive = str(tmp_path / "mod.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipped_mod.py", "X = 1\n")

    def count_rereads(batches):
        import importlib
        import zipimport

        # one importer known to be cached, so a re-read cannot go unseen
        sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
        read = zipimport._read_directory
        calls = []

        def counting(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
            del sys.path_importer_cache[archive]
        for _ in batches:
            pass
        yield pd.DataFrame({"rereads": [len(calls)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(
        count_rereads, "rereads long").collect()
    assert [r["rereads"] for r in rows] == [0]
