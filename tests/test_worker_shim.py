"""The Python-worker daemon shim (``worker_shim.py``): which archives it
drops from the worker path, that workers started by ``get_spark`` really
run on the cleaned path, and that they still start from any directory."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyspark
import pytest

from async_stream_processing_spark import worker_shim
from async_stream_processing_spark.session import PACKAGE_ROOT

VERSION = '__version__: str = "9.9.9"\n'


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in members.items():
            z.writestr(name, body)
    return str(path)


def _unpacked(site, version):
    pkg = site / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(version)
    return str(site)


@pytest.fixture
def archives(tmp_path):
    """A jar with no Python module and a pyspark.zip at version 9.9.9."""
    jar = _zip(tmp_path / "spark-core.jar",
               {"META-INF/MANIFEST.MF": "", "org/apache/spark/X.class": ""})
    pyzip = _zip(tmp_path / "pyspark.zip",
                 {"pyspark/__init__.py": "", "pyspark/version.py": VERSION})
    return jar, pyzip


def test_drops_jar_and_identical_pyspark_zip(tmp_path, archives):
    jar, pyzip = archives
    site = _unpacked(tmp_path / "site", VERSION)
    assert worker_shim.worker_path([jar, pyzip, site]) == [site]


def test_keeps_pyspark_zip_of_another_version(tmp_path, archives):
    jar, pyzip = archives
    site = _unpacked(tmp_path / "site", '__version__: str = "4.1.2"\n')
    assert worker_shim.worker_path([jar, pyzip, site]) == [pyzip, site]


def test_keeps_pyspark_zip_without_unpacked_pyspark(tmp_path, archives):
    jar, pyzip = archives
    site = tmp_path / "site"
    site.mkdir()
    missing = str(tmp_path / "missing")
    assert worker_shim.worker_path([jar, pyzip, str(site), missing]) == [
        pyzip, str(site), missing,
    ]


def test_clean_sys_path_clears_importer_cache_sub_paths(
    tmp_path, archives, monkeypatch
):
    jar, pyzip = archives
    site = _unpacked(tmp_path / "site", VERSION)
    cache = dict.fromkeys([
        jar, pyzip, os.path.join(pyzip, "pyspark"),
        jar + "x",  # a sibling name, not a sub-path
    ])
    monkeypatch.setattr(sys, "path", [jar, pyzip, site])
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    worker_shim.clean_sys_path()
    assert sys.path == [site]
    assert jar + "x" in sys.path_importer_cache
    assert not {jar, pyzip, os.path.join(pyzip, "pyspark")} & set(
        sys.path_importer_cache
    )


def test_get_spark_workers_skip_needless_archives(spark):
    site = os.path.dirname(pyspark.__path__[0])
    spark_zip = os.path.join(
        os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip"
    )
    if worker_shim.worker_path([spark_zip, site]) != [site]:
        pytest.skip("no unpacked pyspark identical to Spark's pyspark.zip")

    def worker_imports(_):
        import pyspark as worker_pyspark

        yield (worker_pyspark.__file__, sorted({
            imp.archive for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        }))

    [(path, archives)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(worker_imports)
        .collect()
    )
    assert ".zip" not in path
    for archive in archives:
        with zipfile.ZipFile(archive) as z:
            assert any(n.endswith(".py") for n in z.namelist()), archive


def test_pandas_udf_runs_from_foreign_cwd_without_pythonpath(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from async_stream_processing_spark import get_spark

        spark = get_spark("shim-cwd", shuffle_partitions=1)
        spark.sparkContext.setLogLevel("ERROR")

        @F.pandas_udf("long")
        def plus_one(v: pd.Series) -> pd.Series:
            return v + 1

        print("SUM", spark.range(10).select(plus_one("id").alias("x"))
              .agg(F.sum("x")).first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "SUM 55" in out.stdout, out.stderr[-3000:]
