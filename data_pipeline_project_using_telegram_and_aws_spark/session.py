"""SparkSession factory.

The engine runs on any SparkSession, but local runs (tests, bench) want a
consistent tuning profile: AQE on (runtime coalescing + skew-join handling),
UTC session timezone (the reference pipeline is timezone-sensitive — it
partitions by UTC-3 arrival date, ipynb:310 — so the engine pins the session
zone and converts explicitly), Arrow enabled for the Pandas-UDF paths.

Scale notes (100 TB / 1000 executors): everything here is per-session config
that holds on a real cluster — AQE coalesces the post-shuffle partition count
at runtime so a static ``spark.sql.shuffle.partitions`` of a few thousand is
safe; ``maxPartitionBytes`` keeps scan tasks ~128 MB; broadcast threshold is
left at default (10 MB) because the dimension tables we broadcast are tiny
and we mark them explicitly with ``broadcast()`` anyway.

Streaming checkpoints go through Spark's ``FileSystemBasedCheckpointFileManager``
(:data:`CHECKPOINT_FILE_MANAGER`) instead of the default FileContext one.
Every micro-batch writes four checkpoint files (source log, offsets WAL,
sink ``_spark_metadata``, commit log), each as a temp file renamed into
place. Without libhadoop, ``FileContext.rename`` on the local filesystem
resolves symlinks by forking ``readlink`` eight times per rename, so
each checkpoint write cost about 30 ms, almost all of it process starts;
``FileSystem.rename`` forks nothing, and the same writes take 7-13 ms
(perfbench traces, ``local[2]`` on a 4-vCPU KVM guest). The guarantee,
filesystem by filesystem:

- local: the FileContext route is already the non-atomic
  check-then-rename of ``AbstractFileSystem.renameInternal``; the
  FileSystem manager's ``exists``-then-``rename`` gives the same
  guarantee. An existing batch file is never replaced (a second
  ``createAtomic(path, overwriteIfPossible=false)`` fails on close and
  the first file survives), readers never see a partial file (temp
  file + rename), and ``.crc`` files are still written;
- HDFS: ``FileSystem.rename`` is the NameNode's atomic rename and fails
  when the target exists;
- object stores: neither manager is atomic there.

Sessions not built by :func:`get_spark` keep Spark's default manager.

Local files go through :data:`LOCAL_FILESYSTEM`, Hadoop's ``LocalFileSystem``
with one method replaced (``jvm/NioLocalFileSystem.java``, built into
:data:`JVM_JAR` by ``tools/build_jvm.sh``). Without libhadoop, Hadoop's
``RawLocalFileSystem.setPermission`` forks ``/bin/chmod`` for every file
and directory it creates, ``.crc`` files included: each webhook
micro-batch forked 12 ``chmod`` processes (8 for its four checkpoint
files, 4 for its two raw-zone files) and each daily ETL 12 more, at
about 6 ms a fork. The replacement sets the same mode bits, sticky bit
included, with a chmod system call and starts no process; checksums,
umask and rename semantics stay Hadoop's. The guarantee is for local
files only: HDFS and object-store schemes keep their own filesystems,
and sessions not built by :func:`get_spark` keep whichever class
Hadoop's service loader finds for ``file:`` (Hive's
``ProxyLocalFileSystem`` or the stock one, by jar order), which this
profile pins. The jar goes on the driver and executor classpaths,
ahead of any ``extraClassPath`` a caller passes: ``spark.jars`` is too
late, since ``spark-submit`` opens a ``file:`` filesystem before it
loads those.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "data-pipeline-spark-engine"

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

LOCAL_FILESYSTEM = "sparkgraft.fs.NioLocalFileSystem"
JVM_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "nio-local-fs.jar"
)
_CLASSPATH_KEYS = ("spark.driver.extraClassPath", "spark.executor.extraClassPath")


def spark_cpus(default: str = "*") -> str:
    """``$SPARK_GRAFT_CPUS`` (``default`` when unset), checked to be a
    positive integer or ``*`` — the forms ``local[N]`` accepts. An empty
    value, ``0`` or anything else raises instead of building a master
    such as ``local[]`` or ``local[0]``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", default)
    if cpus != "*" and not (re.fullmatch(r"[0-9]+", cpus) and int(cpus) > 0):
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer or '*', got {cpus!r}"
        )
    return cpus


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuning profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) when no active session exists; the variable is read,
    and validated by :func:`spark_cpus`, only when ``master`` or
    ``shuffle_partitions`` is left to default.
    """
    if master is None or shuffle_partitions is None:
        cpus = spark_cpus()
        if master is None:
            master = f"local[{cpus}]"
        if shuffle_partitions is None:
            shuffle_partitions = int(cpus) if cpus != "*" else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            CHECKPOINT_FILE_MANAGER,
        )
        .config("spark.hadoop.fs.file.impl", LOCAL_FILESYSTEM)
        # r13: the whole-stage-codegen compile cache defaults to 100
        # generated classes — this engine's 50-query registry compiles
        # ~280 distinct stages per bench sweep, so the LRU thrashed and
        # every query re-paid Janino compilation on every run (measured
        # ABBA on a 10-row interleaved sub-bench: codegen-heavy rows
        # q6/dd2/dd4 −20-30%, total −9%). 2000 entries ≈ ≤100 MB of
        # driver heap for generated classes; scale-neutral (it caches
        # generated CODE keyed by source text, never data or results,
        # and a production cluster running a query fleet wants the same
        # headroom). Static conf — must be set before session creation.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    conf = dict(extra_conf or {})
    for k in _CLASSPATH_KEYS:
        conf[k] = os.pathsep.join(filter(None, (JVM_JAR, conf.get(k))))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
