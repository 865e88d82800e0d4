"""Rebuild the no-fork local filesystem jar from its Java source.

    python tools/build_localfs_jar.py [out_jar]

Compiles ``btc_usdt_etl_pipeline_spark/jvm/src/*.java`` against the
pyspark jars with ``javac --release 17`` and packs the classes with
``jar --create --no-manifest --date=<fixed>`` in sorted order, so the
same JDK turns the same source into the same bytes.  ``out_jar``
defaults to the committed ``btc_usdt_etl_pipeline_spark/jvm/localfs.jar``.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "btc_usdt_etl_pipeline_spark", "jvm")
JAR_DATE = "2000-01-01T00:00:00Z"


def build(out_jar: str) -> None:
    import pyspark

    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "src", "*.java")))
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-encoding", "UTF-8",
             "-cp", os.path.join(spark_jars, "*"), "-d", classes, *sources],
            check=True,
        )
        entries = sorted(
            os.path.relpath(p, classes)
            for p in glob.glob(os.path.join(classes, "**", "*.class"),
                               recursive=True)
        )
        if os.path.exists(out_jar):
            os.remove(out_jar)
        subprocess.run(
            ["jar", "--create", "--no-manifest", f"--date={JAR_DATE}",
             "--file", os.path.abspath(out_jar),
             *(arg for e in entries for arg in ("-C", classes, e))],
            check=True,
        )


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1
          else os.path.join(JVM_DIR, "localfs.jar"))
