"""SparkSession factory tuned for both local testing and cluster scale.

Local mode (``local[N]``) is used for correctness tests; the same config
surface is what a 1000-executor deployment would tune. Scale-relevant
defaults set here:

- AQE on (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — the single most important knob at 100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescing makes the initial number much less sensitive.
- Arrow enabled so every pandas-UDF operator moves columns, not pickled rows.
- The driver heap defaults to half of physical memory, at most 64g: locally
  the driver JVM is the whole cluster, and it must fit the host.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and independent of the host (also required for oracle comparisons).
- The ``file:`` scheme, for both the FileSystem and the FileContext API, is
  ``pyconnect.fs.ForkFreeLocalFileSystem`` from the package's own jar
  (``jvm/pyconnect.jar``, put first on the driver classpath; build it with
  ``make jvm``; it also holds the Java UDFs ``java_udf`` registers: the Avro
  codec of ``functions/avro_codec.py`` and the MinHash and LSH kernels of
  ``operators/dedup.py`` and ``operators/similarity.py``).
  pyspark ships no libhadoop, so Hadoop's local filesystem forks ``chmod``
  on every create and mkdirs and ``readlink`` on every link lookup, about
  150 processes per micro-batch of a stateful stream
  (docs/SCALE.md §12). The jar's classes do the same with syscalls and keep
  the checksum layer, the ``.crc`` files and the no-rename-onto-a-file rule
  of Hive's ``ProxyLocalFileSystem`` that ``file:`` resolved to before.
  Other schemes (HDFS, S3) are untouched.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

_DEFAULT_APP = "pyconnect-spark"
_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "pyconnect.jar")
_LOCAL_FS = "pyconnect.fs.ForkFreeLocalFileSystem"
_JAVA_OPTIONS = "-Dderby.system.home=/tmp/pyconnect-spark-derby"


# (gateway, answer) of the last class-path probe: a JVM's class path is
# fixed at launch, and each probe costs five py4j round trips.
_jar_probe: tuple[object, bool] = (None, True)


def _jvm_has_jar() -> bool:
    """True when the driver JVM is yet to start (it will start with the jar)
    or started with it; a JVM someone else launched keeps its filesystems."""
    global _jar_probe
    gateway = SparkContext._gateway
    if gateway is None:
        return True
    if _jar_probe[0] is not gateway:
        _jar_probe = (gateway, _JAR in gateway.jvm.java.lang.System.getProperty("java.class.path"))
    return _jar_probe[1]


def java_udf(spark: SparkSession, name: str, java_class: str, return_type: str) -> str:
    """``name``, registered in ``spark`` as ``java_class`` from the package
    jar unless it already is (the name encodes the class and the return
    type); call it with ``F.call_udf``. A JVM launched without the jar (a
    plain ``SparkSession.builder``, as an external driver builds) gets it
    added to the session first, so the kernels run in any session."""
    if not spark.catalog.functionExists(name):
        listed = _jvm_has_jar() or any(
            row[0].endswith("/" + os.path.basename(_JAR)) for row in spark.sql("LIST JAR").collect()
        )
        if not listed:
            spark.sql(f"ADD JAR '{_JAR}'")
        spark.udf.registerJavaFunction(name, java_class, return_type)
    return name


def _driver_memory(driver_memory: str | None) -> str:
    """The heap asked for, else ``$SPARK_GRAFT_DRIVER_MEM``, else half of
    physical memory capped at 64g: in ``local[N]`` the driver JVM runs every
    task, and a heap the host cannot back lets the JVM grow until the
    kernel kills it."""
    asked = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if asked:
        return asked
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // (1 << 20)
    return f"{min(half_mb, 64 * 1024)}m"


def get_spark(
    app_name: str = _DEFAULT_APP,
    *,
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``, ``driver_memory``
    to ``$SPARK_GRAFT_DRIVER_MEM`` or half the host's memory (at most 64g).
    On a real cluster the builder would instead carry master/deploy-mode
    from the environment; nothing else here is local-specific.

    ``extra_conf`` entries override the defaults, except
    ``spark.driver.extraClassPath`` and ``spark.driver.extraJavaOptions``,
    which extend the package's own.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cores = os.cpu_count() or 8 if cores in ("*", None) else int(cores)
    shuffle_partitions = shuffle_partitions or max(2 * n_cores, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory(driver_memory))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The fixture `events` table stores TIMESTAMP(NANOS) which Spark's
        # parquet reader rejects outright; read as long and convert in the
        # catalog (stays in the vectorized reader, fully distributed).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Keep the warehouse and (via _JAVA_OPTIONS) the derby metastore, used
        # only by bucketed-table features, out of the repo working tree.
        .config("spark.sql.warehouse.dir", "/tmp/pyconnect-spark-warehouse")
        # files.maxPartitionBytes default 128m is right for the 100 TB target;
        # leave it — small local files read as one task regardless.
        # Answer bare MIN/MAX/COUNT from parquet footers instead of scanning
        # row groups (applies when no post-scan filter remains; at 100 TB a
        # COUNT(*) over a partition becomes a metadata read).
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Iterative operators (connected_components) truncate lineage with
        # reliable checkpoint() when a checkpoint dir is configured; GC the
        # per-iteration checkpoint files once their RDDs go out of scope so
        # a long-lived cluster session doesn't accumulate max_iter dirs per
        # invocation on HDFS/S3.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    conf = dict(extra_conf or {})
    # The caller's JVM settings extend the package's instead of replacing
    # them; a later -D wins, so the caller's own properties still apply.
    conf["spark.driver.extraClassPath"] = os.pathsep.join(
        filter(None, [_JAR, conf.get("spark.driver.extraClassPath")])
    )
    conf["spark.driver.extraJavaOptions"] = " ".join(
        filter(None, [_JAVA_OPTIONS, conf.get("spark.driver.extraJavaOptions")])
    )
    if _jvm_has_jar():
        conf.setdefault("spark.hadoop.fs.file.impl", _LOCAL_FS)
        conf.setdefault("spark.hadoop.fs.AbstractFileSystem.file.impl", f"{_LOCAL_FS}$Fs")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def runtime_filter_conf(*, test_scale: bool = False) -> dict[str, str]:
    """Conf block enabling runtime bloom-filter pushdown on shuffle joins.

    When a join's build side is selective (a filtered dimension) but too
    big to broadcast, Spark 3.3+ can inject a ``bloom_filter_agg`` on the
    build side's join key and semi-filter the probe side's SCAN with it —
    at 100 TB this prunes most of a fact-table shuffle for
    dim-filter-then-join shapes, the same effect DPP gives on partition
    columns but for arbitrary keys.

    The stock thresholds are sized for clusters (probe side > 10 GB); the
    ``test_scale`` variant lowers them so the mechanism is exercisable on
    fixture-sized data (see tests/test_scale_utils.py), which is how this
    repo proves the plan shape without a cluster.
    """
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # ~100 MB creation-side cap: a filtered dim slice of a 100 TB join
        # typically lands well under this; bigger build sides would make
        # the bloom filter itself shuffle-expensive.
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    if test_scale:
        conf["spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"] = "1KB"
        conf["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    return conf
