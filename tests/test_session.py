"""Session defaults that ``get_spark`` sets as constants."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from async_stream_processing_spark.session import PACKAGE_ROOT


def test_get_spark_turns_off_console_progress_bar(tmp_path):
    """A fresh ``get_spark`` JVM reads ``spark.ui.showConsoleProgress``
    as false, so no ``[Stage N:...]`` bar interleaves with what a tool
    prints (PySpark's ``pyspark-shell`` launch would turn it on)."""
    script = textwrap.dedent("""
        from async_stream_processing_spark import get_spark

        spark = get_spark("progress-probe", shuffle_partitions=1)
        print("PROGRESS", spark.sparkContext.getConf().get(
            "spark.ui.showConsoleProgress"))
        spark.stop()
    """)
    env = dict(os.environ, PYTHONPATH=PACKAGE_ROOT, SPARK_GRAFT_CPUS="1",
               SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert "PROGRESS false" in out.stdout, out.stderr[-3000:]
