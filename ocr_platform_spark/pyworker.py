"""Python worker daemon entry (``spark.python.daemon.module``).

PySpark calls ``importlib.invalidate_caches()`` at the start of every task.
On CPython < 3.12 that makes each cached ``zipimporter`` re-read its whole
archive directory, so every task re-parses ``pyspark.zip`` once per cached
importer. Spark's zips do not change while a worker lives, and a
``--py-files`` archive arrives under a new path (a new importer that reads
it fresh), so the re-read is skipped here before handing off to PySpark's
own daemon.
"""

import sys
import zipimport

from pyspark import daemon

if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = lambda self: None
    daemon.manager()
