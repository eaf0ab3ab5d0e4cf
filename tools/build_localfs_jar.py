"""Rebuild ``async_stream_processing_spark/jvm/localfs.jar``, the fork-free
local Hadoop filesystem that ``get_spark`` puts on the driver classpath.

Compiles the ``.java`` sources beside the jar with ``javac --release 17``
against the ``hadoop-client-api`` jar of the installed pyspark, then
writes a jar with sorted entries and fixed timestamps, so the same
``javac`` gives the same bytes.  The manifest records the ``javac``
version (``Created-By``).

Usage: python tools/build_localfs_jar.py [out.jar]
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

JVM_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "async_stream_processing_spark", "jvm")
JAR = os.path.join(JVM_DIR, "localfs.jar")


def hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars",
                                  "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise FileNotFoundError(f"expected one hadoop-client-api jar, found {jars}")
    return jars[0]


def javac_version() -> str:
    """``javac -version`` output, e.g. ``javac 17.0.20``."""
    out = subprocess.run(["javac", "-version"], capture_output=True, text=True,
                         check=True)
    return (out.stdout or out.stderr).strip()


def build(out: str = JAR) -> str:
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(["javac", "--release", "17", "-cp", hadoop_api_jar(),
                        "-d", classes, *sources], check=True)
        names = sorted(
            os.path.relpath(os.path.join(d, f), classes).replace(os.sep, "/")
            for d, _, files in os.walk(classes) for f in files)
        manifest = f"Manifest-Version: 1.0\r\nCreated-By: {javac_version()}\r\n\r\n"
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
            entries = [("META-INF/MANIFEST.MF", manifest.encode())]
            for name in names:
                with open(os.path.join(classes, name), "rb") as fh:
                    entries.append((name, fh.read()))
            for name, body in entries:
                z.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), body,
                           zipfile.ZIP_DEFLATED)
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else JAR))
