"""The worker-side zip re-read skip (geowave_spark._skip_unchanged_zip_rereads).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; on CPython 3.11 that re-parses the central directory of
``pyspark.zip`` once per cached zip importer. Importing the package in a
worker task wraps ``zipimporter.invalidate_caches`` so that unchanged
archives are not re-read; the driver is left alone.
"""

from __future__ import annotations

import zipimport

import pandas as pd
from pyspark.sql import functions as F


def test_worker_skips_rereads_of_unchanged_archives(spark, tmp_path):
    zpath = str(tmp_path / "mods.zip")

    @F.pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipfile
        import zipimport

        import geowave_spark  # noqa: F401  (installs the wrapper)

        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        # an importer that never read through the wrapper reads once
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory

        # a rewritten archive is still re-read: its new module imports
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("gw_zip_mod_a.py", "A = 1\n")
        sys.path.insert(0, zpath)
        try:
            import gw_zip_mod_a

            importlib.invalidate_caches()
            with zipfile.ZipFile(zpath, "w") as z:  # rewritten in place
                z.writestr("gw_zip_mod_a.py", "A = 1\n")
                z.writestr("gw_zip_mod_b.py", "B = 2\n")
            importlib.invalidate_caches()
            import gw_zip_mod_b

            semantics = gw_zip_mod_a.A == 1 and gw_zip_mod_b.B == 2
        finally:
            sys.path.remove(zpath)
            sys.path_importer_cache.pop(zpath, None)
            sys.modules.pop("gw_zip_mod_a", None)
            sys.modules.pop("gw_zip_mod_b", None)
        wrapped = zipimport.zipimporter.invalidate_caches.__module__
        return pd.Series(
            [f"{zips} {len(reads)} {semantics} {wrapped}"] * len(ids)
        )

    got = spark.range(1, numPartitions=1).select(probe("id").alias("r")).first()
    zips, reads, semantics, wrapped = got.r.split()
    assert int(zips) > 0  # the worker imports pyspark from a zip archive
    assert int(reads) == 0  # no re-read of an unchanged archive
    assert semantics == "True"  # a changed archive is re-read
    assert wrapped == "geowave_spark"


def test_driver_keeps_the_stdlib_invalidate_caches(spark):
    import geowave_spark  # noqa: F401

    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"
