"""The no-fork ``file://`` filesystem (``btc_usdt_etl_pipeline_spark/jvm``).

Each run starts its own JVM in a subprocess from a foreign cwd: once as
a ``build_session`` session (the engine's filesystem), once as a plain
session on the same runtime confs (the stock filesystem that wins the
service-loader order), and once as a plain session pinned to Hadoop's
``LocalFileSystem``.  All write the same Parquet input and drain the
same two streams — a q49-shaped sliding-window aggregate into the memory
sink and a q46-shaped dedup into the Parquet sink — into trees the test
then compares: same files, same mode bits, same drained values, and the
same ``getFileLinkStatus`` answers.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import stat
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = os.path.join(ROOT, "btc_usdt_etl_pipeline_spark", "jvm", "localfs.jar")
PKG = "btc_usdt_etl_pipeline_spark.jvm."
HADOOP_LOCAL_FS = "org.apache.hadoop.fs.LocalFileSystem"
# 0o421, 0o142 and 0o214 set each of the nine bits once, alone in its
# class; then none, all, and all with the sticky bit
SET_MODES = (0o421, 0o142, 0o214, 0o000, 0o777, 0o1777)

_RUN = """
import hashlib, json, os, sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession, functions as F
from btc_usdt_etl_pipeline_spark.session import RUNTIME_CONF, build_session
from btc_usdt_etl_pipeline_spark.streaming.ohlcv import run_available_now

conf = {{"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false",
         "spark.driver.memory": "1g", **{extra_conf!r}}}
if {engine!r}:
    spark = build_session("local-fs", master="local[2]", extra_conf={{
        **conf, "spark.driver.extraClassPath": {caller_cp!r}}})
else:
    b = SparkSession.builder.master("local[2]")
    for k, v in {{**RUNTIME_CONF, **conf}}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
jvm, hconf = spark._jvm, spark._jsc.hadoopConfiguration()
uri = jvm.java.net.URI("file:///")
fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, hconf)
fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, hconf)
out = {{
    "classpath": spark.sparkContext.getConf().get("spark.driver.extraClassPath", ""),
    "fs": [fs.getClass().getName(), fs.getRawFileSystem().getClass().getName()],
    "fc": fc.getDefaultFileSystem().getClass().getName(),
}}

def link_status(get, p):
    try:
        s = get(jvm.org.apache.hadoop.fs.Path(p))
    except Exception as e:  # a Py4JJavaError: compare the Java side
        return [e.java_exception.getClass().getName(),
                e.java_exception.getMessage()]
    return [s.isFile(), s.isDirectory(), s.isSymlink(), s.getLen(),
            s.getSymlink().toString() if s.isSymlink() else None,
            s.getPermission().toString()]

links = {links!r}
out["link_status"] = {{
    f"{{how}} {{name}} {{form}}": link_status(get, prefix + os.path.join(links, name))
    for how, get in (("fs", fs.getFileLinkStatus), ("fc", fc.getFileLinkStatus))
    for name in ("file", "link", "dangling", "missing")
    for form, prefix in (("bare", ""), ("uri", "file:"))
}}

work = {work!r}
modes = os.path.join(work, "modes")
os.makedirs(modes)
out["set_permission"] = {{}}
for mode in {set_modes!r}:
    path = os.path.join(modes, oct(mode))
    open(path, "w").close()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(path),
                     jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
    out["set_permission"][oct(mode)] = oct(os.stat(path).st_mode & 0o7777)

events = spark.createDataFrame(
    [(i, 1_700_000_000_000 + i * 997_000, i % 13) for i in range(3000)],
    "event_id long, ts_ms long, value long",
).withColumn("ts", F.timestamp_millis("ts_ms"))
events.repartition(3, "event_id").write.parquet(os.path.join(work, "events"))

def stream():
    return (spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "events")))

sliding = (stream().withWatermark("ts", "100 days")
           .groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
           .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
           .select(F.col("w.start").cast("long").alias("ws"), "n", "s"))
run_available_now(sliding, "sliding", os.path.join(work, "ckpt_sliding"))
dedup = (stream().union(stream()).withWatermark("ts", "30 days")
         .dropDuplicates(["event_id"]).select("event_id", "value"))
run_available_now(dedup, "dedup", os.path.join(work, "ckpt_dedup"),
                  output_mode="append")
out["hashes"] = {{
    name: hashlib.sha256(repr(sorted(
        tuple(r) for r in spark.table(name).collect())).encode()).hexdigest()
    for name in ("sliding", "dedup")
}}
print("RESULT " + json.dumps(out))
"""

_UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _run(tmp_path, side, links, extra_conf=None):
    engine = side == "engine"
    work, cwd = tmp_path / side / "work", tmp_path / side / "cwd"
    work.mkdir(parents=True)
    cwd.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _RUN.format(
            root=ROOT, engine=engine, extra_conf=extra_conf or {},
            caller_cp="/caller/extra.jar",
            links=str(links), work=str(work), set_modes=SET_MODES)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    (line,) = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    return json.loads(line[len("RESULT "):]), work


def _modes(top):
    """``{relative path, run-specific UUIDs masked: mode bits}`` of
    every file and directory under ``top``."""
    modes = {}
    for dirpath, dirnames, filenames in os.walk(top):
        for name in dirnames + filenames:
            path = os.path.join(dirpath, name)
            rel = _UUID.sub("<uuid>", os.path.relpath(path, top))
            modes[rel] = oct(stat.S_IMODE(os.lstat(path).st_mode))
    return modes


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("local-fs")
    links = tmp / "links"
    links.mkdir()
    (links / "file").write_text("twelve bytes")
    os.symlink(links / "file", links / "link")
    os.symlink(links / "gone", links / "dangling")
    return (
        _run(tmp, "engine", links),
        _run(tmp, "stock", links),
        _run(tmp, "hadoop", links,
             {"spark.hadoop.fs.file.impl": HADOOP_LOCAL_FS}),
    )


def test_file_scheme_resolves_to_the_no_fork_classes(runs):
    (engine, _), (stock, _), _ = runs
    assert engine["fs"] == [PKG + "NoForkLocalFileSystem",
                            PKG + "NoForkRawLocalFileSystem"]
    assert engine["fc"] == PKG + "NoForkLocalFs"
    # stock FileSystem: whichever LocalFileSystem the service loader
    # registers last for file:// (Hive's ProxyLocalFileSystem when its
    # jar comes after Hadoop's on the classpath)
    assert not stock["fs"][0].startswith(PKG)
    assert stock["fs"][1] == "org.apache.hadoop.fs.RawLocalFileSystem"
    assert stock["fc"] == "org.apache.hadoop.fs.local.LocalFs"
    # the caller's classpath keeps its entry; the jar is appended
    assert engine["classpath"] == os.pathsep.join(("/caller/extra.jar", JAR))


def test_written_trees_have_stock_mode_bits(runs):
    (_, engine_work), (_, stock_work), _ = runs
    engine, stock = _modes(engine_work), _modes(stock_work)
    assert engine == stock
    # the comparison covers the Parquet write, both checkpoints' logs,
    # the state store and the Parquet sink, with their checksums
    for part in ("events/.part-", "ckpt_sliding/offsets/.0.crc",
                 "ckpt_sliding/commits/0", "ckpt_sliding/state/0/0/1.delta",
                 "ckpt_dedup/_append_out/_spark_metadata/0"):
        assert any(part in rel for rel in engine), part


def test_set_permission_applies_stock_mode_bits(runs):
    (engine, _), (stock, _), _ = runs
    assert engine["set_permission"] == stock["set_permission"] == {
        oct(m): oct(m) for m in SET_MODES}


def test_link_status_matches_stock_hadoop(runs):
    (engine, _), (stock, _), _ = runs
    assert engine["link_status"] == stock["link_status"]
    assert engine["link_status"]["fs file bare"][0] is True


def test_drained_values_match_stock_filesystem(runs):
    (engine, _), (stock, _), _ = runs
    assert engine["hashes"] == stock["hashes"]


def test_results_do_not_depend_on_the_stock_class(runs):
    # which stock class serves file:// in a plain session depends on jar
    # order; pinning Hadoop's own changes neither the modes of the
    # written tree nor the drained values
    _, (stock, stock_work), (hadoop, hadoop_work) = runs
    assert hadoop["fs"][0] == HADOOP_LOCAL_FS
    assert _modes(hadoop_work) == _modes(stock_work)
    assert hadoop["hashes"] == stock["hashes"]


@pytest.mark.skipif(not (shutil.which("javac") and shutil.which("jar")),
                    reason="no JDK compiler on PATH")
def test_committed_jar_rebuilds_byte_identical(tmp_path):
    rebuilt = tmp_path / "localfs.jar"
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "build_localfs_jar.py"),
         str(rebuilt)],
        cwd=tmp_path, check=True, capture_output=True, timeout=300,
    )
    with open(JAR, "rb") as committed:
        assert rebuilt.read_bytes() == committed.read()
