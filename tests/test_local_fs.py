"""The fork-free ``file:`` filesystem that ``get_spark`` installs, and the
package jar that holds it.

- fork guard: a session runs streaming micro-batches and a batch write
  without forking ``chmod`` or ``readlink`` from the JVM;
- semantics parity with Hive's ``ProxyLocalFileSystem`` (what ``file:``
  resolves to without the override) and Hadoop's ``LocalFs``: modes,
  checksums, rename, link status, listing and checkpoint writes;
- ``get_spark`` merges caller JVM settings into its own, and leaves the
  filesystem of a JVM launched without the package jar alone;
- the committed jar is what ``make jvm`` builds from the source, the Avro
  codec classes included.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pyspark
import pytest
from py4j.protocol import Py4JJavaError

from pyconnect_spark import session

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GUARDED_RUN = textwrap.dedent(
    """
    import json, os, sys
    from pyconnect_spark.config import SinkConfig
    from pyconnect_spark.session import get_spark
    from pyconnect_spark.streaming.sink import EpochFileSink
    from pyconnect_spark.streaming.windows import stream_dedup

    root, caller_cp = sys.argv[1:]
    spark = get_spark(
        "fork-guard", cores=2, shuffle_partitions=2, driver_memory="1g",
        extra_conf={
            "spark.driver.extraClassPath": caller_cp,
            "spark.driver.extraJavaOptions": "-Dpyconnect.probe=caller",
        },
    )
    topic, out, ck = (os.path.join(root, d) for d in ("topic", "out", "ck"))
    os.makedirs(topic)

    class DedupSink(EpochFileSink):
        def transform(self, df):
            return stream_dedup(df, ["key"])

    cfg = SinkConfig(bootstrap_servers="localhost:9092", topics=[topic], checkpoint_location=ck)
    for batch in range(3):
        with open(os.path.join(topic, f"f{batch}.jsonl"), "w") as f:
            for i in range(4):
                f.write(json.dumps({"key": f"k{batch + i}", "value": str(batch)}) + "\\n")
        DedupSink(spark, cfg, out_dir=out).run()
    spark.range(100).write.parquet(os.path.join(root, "table"))
    props = spark._jvm.java.lang.System
    print(json.dumps({
        "epochs": sorted(os.listdir(out)),
        "checksum_conf": spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled"),
        "class_path": props.getProperty("java.class.path").split(os.pathsep),
        "java_options": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions"),
        "derby_home": props.getProperty("derby.system.home"),
        "probe": props.getProperty("pyconnect.probe"),
    }))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def guarded_run(tmp_path_factory):
    """Three micro-batches of a ``stream_dedup`` -> ``EpochFileSink`` stream
    and one ``DataFrame.write``, in a ``get_spark`` session whose caller
    adds JVM settings, with logging ``chmod``/``readlink`` first on PATH.
    Each wrapper logs the name of the process that ran it: Hadoop runs the
    commands straight from the JVM, the launch scripts from a shell.
    Returns (the run's report, the logged forks, its work dir)."""
    tmp = tmp_path_factory.mktemp("guard")
    bindir, log, work, caller_cp = tmp / "bin", tmp / "forks.log", tmp / "work", tmp / "caller-cp"
    for d in (bindir, work, caller_cp):
        d.mkdir()
    for cmd in ("chmod", "readlink"):
        wrapper = bindir / cmd
        wrapper.write_text(f'#!/bin/sh\necho "$(cat /proc/$PPID/comm) {cmd}" >> {log}\nexec {shutil.which(cmd)} "$@"\n')
        wrapper.chmod(0o755)
    env = {**os.environ, "PATH": f"{bindir}:{os.environ['PATH']}", "PYTHONPATH": _ROOT}
    proc = subprocess.run(
        [sys.executable, "-c", _GUARDED_RUN, str(work), str(caller_cp)],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    forks = log.read_text().splitlines() if log.exists() else []
    return json.loads(proc.stdout.strip().splitlines()[-1]), forks, work


def test_micro_batches_fork_no_chmod_or_readlink(guarded_run):
    report, forks, work = guarded_run
    assert report["epochs"] == [f"epoch-{e:010d}.jsonl" for e in range(3)]
    assert [f for f in forks if f.startswith("java ")] == []
    # The checksum layers still write: Hadoop's .crc files and, with the
    # checkpoint checksum setting at its default, Spark's own.
    assert report["checksum_conf"] == "true"
    ck = work / "ck"
    assert (ck / "offsets" / ".2.crc").exists() and (ck / "commits" / ".2.crc").exists()
    assert glob.glob(str(ck / "state" / "*" / "*" / ".*.delta.crc"))
    assert glob.glob(str(work / "table" / ".part-*.crc"))


def test_caller_class_path_follows_the_package_jar(guarded_run):
    report, _, work = guarded_run
    first = [os.path.normpath(p) for p in report["class_path"][:2]]
    assert first == [session._JAR, str(work.parent / "caller-cp")]


def test_caller_java_options_follow_the_package_options(guarded_run):
    report, _, _ = guarded_run
    # Spark prepends its module flags; a later -D wins.
    assert report["java_options"].endswith(f"{session._JAVA_OPTIONS} -Dpyconnect.probe=caller")
    assert report["derby_home"] == "/tmp/pyconnect-spark-derby"
    assert report["probe"] == "caller"


_PLAIN_SESSION_FIRST = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession
    from pyconnect_spark.session import get_spark

    SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate().stop()
    spark = get_spark("plain-first", cores=1, driver_memory="1g")
    spark.range(10).write.parquet(sys.argv[1])
    print(spark.read.parquet(sys.argv[1]).count())
    spark.stop()
    """
)


def test_a_jvm_launched_without_the_jar_keeps_its_filesystem(tmp_path):
    """A plain builder launched the JVM (no package jar on its classpath)
    and stopped its session; the SparkContext ``get_spark`` then starts in
    that JVM must not point ``file:`` at the missing class."""
    proc = subprocess.run(
        [sys.executable, "-c", _PLAIN_SESSION_FIRST, str(tmp_path / "t")],
        capture_output=True, text=True, env={**os.environ, "PYTHONPATH": _ROOT}, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split()[-1] == "10"


STOCK = ("org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem", "org.apache.hadoop.fs.local.LocalFs")
FORK_FREE = (session._LOCAL_FS, f"{session._LOCAL_FS}$Fs")
IMPLS = pytest.mark.parametrize("impl", [STOCK, FORK_FREE], ids=["stock", "fork_free"])


def _local_fs(spark, root, impl):
    """(jvm, conf, FileSystem) for ``impl`` under a 027 umask, which the
    mode checks can tell from the process umask's defaults."""
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    conf.set("fs.permissions.umask-mode", "027")
    conf.set("fs.AbstractFileSystem.file.impl", impl[1])
    fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(jvm.java.lang.Class.forName(impl[0]), conf)
    fs.initialize(jvm.java.net.URI(root.as_uri()), conf)
    return jvm, conf, fs


def _mode(p) -> int:
    return os.stat(p).st_mode & 0o7777


def _write(jvm, fs, p, data: bytes) -> None:
    out = fs.create(jvm.org.apache.hadoop.fs.Path(str(p)))
    out.write(bytearray(data))
    out.close()


def _read(jvm, fs, p) -> bytes:
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(str(p)))
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


@IMPLS
def test_modes_follow_the_session_umask(spark, tmp_path, impl):
    jvm, _, fs = _local_fs(spark, tmp_path, impl)
    path = jvm.org.apache.hadoop.fs.Path
    assert fs.mkdirs(path(str(tmp_path / "d" / "e")))
    _write(jvm, fs, tmp_path / "d" / "f", b"x")
    assert [_mode(tmp_path / p) for p in ("d", "d/e", "d/f", "d/.f.crc")] == [0o750, 0o750, 0o640, 0o640]
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    fs.setPermission(path(str(tmp_path / "d" / "f")), perm("604"))
    fs.setPermission(path(str(tmp_path / "d" / "e")), perm("1777"))
    assert [_mode(tmp_path / p) for p in ("d/f", "d/e")] == [0o604, 0o1777]


@IMPLS
def test_checksums_are_written_and_verified(spark, tmp_path, impl):
    jvm, _, fs = _local_fs(spark, tmp_path, impl)
    data = bytes(range(256)) * 8
    _write(jvm, fs, tmp_path / "f", data)
    assert (tmp_path / ".f.crc").stat().st_size > 0
    assert _read(jvm, fs, tmp_path / "f") == data
    with open(tmp_path / "f", "r+b") as f:
        f.seek(1000)
        f.write(b"\xff")
    with pytest.raises(Py4JJavaError) as err:
        _read(jvm, fs, tmp_path / "f")
    assert err.value.java_exception.getClass().getName() == "org.apache.hadoop.fs.ChecksumException"


@IMPLS
def test_rename_never_replaces_a_file(spark, tmp_path, impl):
    jvm, _, fs = _local_fs(spark, tmp_path, impl)
    path = jvm.org.apache.hadoop.fs.Path
    _write(jvm, fs, tmp_path / "a", b"a")
    _write(jvm, fs, tmp_path / "b", b"b")
    assert not fs.rename(path(str(tmp_path / "a")), path(str(tmp_path / "b")))
    assert fs.rename(path(str(tmp_path / "a")), path(str(tmp_path / "c")))
    assert sorted(os.listdir(tmp_path)) == [".b.crc", ".c.crc", "b", "c"]
    assert _read(jvm, fs, tmp_path / "b") == b"b" and _read(jvm, fs, tmp_path / "c") == b"a"


def _observe_tree(spark, root, impl):
    """What ``impl`` reports of a file, a dir, two symlinks and a missing
    path, each named qualified and bare, plus the listing."""
    jvm, _, fs = _local_fs(spark, root, impl)
    seen = {}
    for name in ("file", "dir", "link", "dirlink", "missing"):
        bare = jvm.org.apache.hadoop.fs.Path(str(root / name))
        for form, p in (("bare", bare), ("qualified", fs.makeQualified(bare))):
            try:
                st = fs.getFileLinkStatus(p)
                link = st.getSymlink().toString() if st.isSymlink() else None
                seen[name, form] = (st.getPath().toString(), st.isFile(), st.isDirectory(), link, st.getLen())
            except Py4JJavaError as e:
                seen[name, form] = e.java_exception.getClass().getName()
    listed = fs.listStatus(jvm.org.apache.hadoop.fs.Path(str(root)))
    seen["list"] = sorted((s.getPath().getName(), s.isDirectory(), s.getLen()) for s in listed)
    return seen


def test_link_status_and_listing_match_stock(spark, tmp_path):
    (tmp_path / "file").write_bytes(b"12345")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    (tmp_path / "dirlink").symlink_to("dir")
    stock, fork_free = (_observe_tree(spark, tmp_path, impl) for impl in (STOCK, FORK_FREE))
    assert fork_free == stock
    assert stock["link", "bare"][3] == (tmp_path / "file").as_uri().replace("file:///", "file:/")
    assert stock["missing", "bare"] == "java.io.FileNotFoundException"


def test_checkpoint_create_atomic_matches_stock(spark, tmp_path):
    """Spark's checkpoint manager writes through FileContext: same bytes,
    same modes, the same .crc and no leftovers under both classes."""
    data = b"v1\n" + bytes(range(256)) * 4
    seen = []
    for impl in (STOCK, FORK_FREE):
        root = tmp_path / impl[1].rsplit(".", 1)[1]
        root.mkdir()
        jvm, conf, _ = _local_fs(spark, root, impl)
        path = jvm.org.apache.hadoop.fs.Path
        manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
            path(root.as_uri()), conf
        )
        assert manager.getClass().getSimpleName() == "FileContextBasedCheckpointFileManager"
        out = manager.createAtomic(path(str(root / "0")), False)
        out.write(bytearray(data))
        out.close()
        seen.append(
            ((root / "0").read_bytes(), sorted(os.listdir(root)), _mode(root / "0"), (root / ".0.crc").read_bytes())
        )
    assert seen[1] == seen[0]
    assert seen[0][:3] == (data, [".0.crc", "0"], 0o640)


def test_committed_jar_is_built_from_the_source(tmp_path):
    """Recompiles the source as ``make jvm`` does (same class path and lint
    flags) and compares the classes byte for byte, when a javac of the JDK
    release that built the jar is on PATH (the jar's manifest names it)."""
    with zipfile.ZipFile(session._JAR) as jar:
        built_by = re.search(r"Created-By: (\d+)", jar.read("META-INF/MANIFEST.MF").decode()).group(1)
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    javac = shutil.which("javac")
    version = subprocess.run([javac, "-version"], capture_output=True, text=True).stdout if javac else ""
    if not re.match(rf"javac {built_by}\b", version):
        pytest.skip(f"the jar was built by JDK {built_by}; javac on PATH: {version.strip() or 'none'}")
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    class_path = [
        glob.glob(os.path.join(jars, pattern))[0]
        for pattern in ("hadoop-client-api-*.jar", "avro-[0-9]*.jar", "spark-sql-api_*.jar",
                        "scala-library-*.jar", "jackson-databind-*.jar")
    ]
    sources = sorted(glob.glob(os.path.join(_ROOT, "pyconnect_spark", "jvm", "src", "**", "*.java"), recursive=True))
    subprocess.run(
        [javac, "--release", "17", "-Xlint:all", "-Werror", "-cp", os.pathsep.join(class_path), "-d", str(tmp_path), *sources],
        check=True,
    )
    rebuilt = {str(p.relative_to(tmp_path)): p.read_bytes() for p in tmp_path.rglob("*.class")}
    assert rebuilt == committed
