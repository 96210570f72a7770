"""SparkSession factory with scale-appropriate defaults.

Every job/test goes through :func:`get_spark` so configs that matter at
100 TB (AQE, UTC, Arrow, shuffle sizing, skew-join) are uniform.

Local sessions also get a fork-free local filesystem. The pip pyspark
wheel ships no native ``libhadoop``, and without it Hadoop's
``RawLocalFileSystem`` starts a ``chmod`` process for every file, ``.crc``
sidecar and directory it creates, and a ``readlink`` process for every
FileContext status check and rename (streaming offsets, commits and
state-store deltas). That was about 200 forks per eventday commit and
about 140 per streaming micro-batch, most of a small commit's fixed cost
(BASELINE.md §13). The classes in ``jvm/`` keep Hadoop's local filesystem,
``.crc`` checksums and permission bits included, and make those two calls
with ``java.nio`` instead. They are compiled once with ``javac`` into a
user cache directory.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from importlib import resources

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_DEFAULTS = {
    # Determinism: the reference parses epochs in local TZ (a bug,
    # transformation_function/app.py:75); we pin UTC everywhere.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime re-plan, partition coalescing, skew joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / mapInPandas / applyInPandasWithState /
    # toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet vectorized reader + pushdown are on by default; keep explicit.
    "spark.sql.parquet.filterPushdown": "true",
    # keep partition-key types as written (eventDay stays the string
    # 'YYYYMMDD' per the reference's path contract, app.py:404)
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # zstd shuffle/spill compression: transcript rows are text-heavy and
    # zstd's ratio cuts cross-executor shuffle bytes ~3x vs lz4 — measured
    # 2.6x wall on the shuffle-bound window stage at 4 executors
    # (BASELINE.md §4.2); worth its small CPU premium on this data shape.
    "spark.io.compression.codec": "zstd",
    # zstd parquet for every file the engine keeps (snapshot data,
    # compaction, bucketed tables, dedup index, graph checkpoints), for
    # the same text-heavy rows: a feature_build commit stores ~24% fewer
    # bytes than snappy (BASELINE.md §15), bytes every as-of read,
    # time-travel read and compaction scans again. The codec is recorded
    # per column chunk, so snappy files already written keep reading.
    # plans/writer.append_log writes the driver-side logs in zstd too.
    "spark.sql.parquet.compression.codec": "zstd",
    # pyspark wraps every functions.* / DataFrame call to capture its
    # Python call site for error contexts: a stack walk and ~5 py4j
    # round-trips per call, about half the py4j calls of a warm
    # feature_build op (BASELINE.md §15). Off, an analysis error names
    # the failing expression but not the Python line that built it; to
    # debug, pass {"spark.python.sql.dataFrameDebugging.enabled": "true"}
    # through get_spark's extra_conf in a fresh process (pyspark reads the
    # flag once per process).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}

# Hadoop's two keys for the file:// scheme: FileSystem (batch reads and
# writes) and AbstractFileSystem (FileContext: checkpoints, state store).
_NIO_FS = {
    "spark.hadoop.fs.file.impl": "aslspark.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "aslspark.fs.NioLocalFs",
}
_CLASSPATH_KEYS = ("spark.driver.extraClassPath", "spark.executor.extraClassPath")


@functools.lru_cache(maxsize=None)
def _nio_fs_classes() -> str | None:
    """Directory of the compiled ``jvm/`` classes, or None (said once on
    stderr) when this host cannot build them.

    The directory is keyed by the sources' hash and the Hadoop jar's name.
    It is built in a temporary directory and renamed into place, so
    sessions that start side by side never see a half-built one.
    """
    sources = sorted(
        (f.name, f.read_bytes())
        for f in (resources.files(__package__) / "jvm").iterdir()
        if f.name.endswith(".java")
    )
    jars = [
        jar for part in ("api", "runtime")
        for jar in glob.glob(os.path.join(
            _find_spark_home(), "jars", f"hadoop-client-{part}-*.jar"))
    ]
    java_home = os.environ.get("JAVA_HOME")
    javac = (os.path.join(java_home, "bin", "javac") if java_home
             else shutil.which("javac"))
    if not (jars and javac and os.path.exists(javac)):
        print("asl-spark: no javac or Hadoop client jar; local sessions keep "
              "Hadoop's LocalFileSystem, which forks chmod/readlink per file",
              file=sys.stderr)
        return None
    key = hashlib.sha256(repr((sources, [os.path.basename(j) for j in jars]))
                         .encode()).hexdigest()[:16]
    root = os.path.join(os.environ.get("XDG_CACHE_HOME")
                        or os.path.expanduser("~/.cache"), "asl-spark")
    out = os.path.join(root, f"nio-fs-{key}")
    if os.path.isdir(out):
        return out
    try:
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=root, prefix=".build-")
        try:
            for name, body in sources:
                with open(os.path.join(tmp, name), "wb") as fh:
                    fh.write(body)
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-d", tmp,
                 "-cp", os.pathsep.join(jars),
                 *(os.path.join(tmp, name) for name, _ in sources)],
                check=True, capture_output=True,
            )
            os.rename(tmp, out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)  # already gone if renamed
    except (OSError, subprocess.CalledProcessError) as e:
        if not os.path.isdir(out):  # else a side-by-side session built it
            print(f"asl-spark: building the local filesystem classes failed "
                  f"({e}); local sessions keep Hadoop's LocalFileSystem",
                  file=sys.stderr)
            return None
    return out


def _nio_fs_conf(master: str) -> dict:
    """The conf that swaps in the fork-free local filesystem, or ``{}``.

    Only a ``local[...]``/``local-cluster[...]`` master on a POSIX host
    gets it: there the cache directory is on every executor's
    host, and ``java.nio`` has POSIX permissions to set. The classes
    must be on the JVM's class path when it starts, so only the call that
    starts the JVM gets them; a JVM that is already up (a stopped
    session's, or one ``spark-submit`` started) keeps Hadoop's classes.
    """
    if (not master.startswith("local") or os.name != "posix"
            or SparkContext._gateway is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ):
        return {}
    classes = _nio_fs_classes()
    if classes is None:
        return {}
    return {**_NIO_FS, **dict.fromkeys(_CLASSPATH_KEYS, classes)}


def get_spark(
    app_name: str = "asl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``).

    Two partition counts, because batch and streaming plans read different
    ones:

    * ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` is
      ``shuffle_partitions``, default 2x the local parallelism (at least
      8). With AQE and coalescing on, every batch Exchange is planned this
      wide, and AQE coalesces small partitions at runtime. On a real
      cluster pass ``shuffle_partitions ~= 2-3x total cores``.
    * ``spark.sql.shuffle.partitions`` is the session's default
      parallelism, one task per core. Streaming runs without AQE, so this
      is the width of every stateful operator: one wave of Python tasks
      per micro-batch, each paying its worker's fixed cost once, and
      fewer, larger files per streaming commit. A checkpoint records the
      count it started with, and a restarted query keeps it.

    An explicit ``spark.sql.shuffle.partitions`` in ``extra_conf`` wins. On
    a cluster, the default parallelism counts only the executor cores
    registered when the session starts, so a streaming job there should
    pass its count explicitly.

    A local master also gets the fork-free local filesystem (module
    docstring). An explicit ``fs.file.impl`` or
    ``fs.AbstractFileSystem.file.impl`` in ``extra_conf`` wins; an explicit
    extra class path keeps its entries and gets the classes' directory
    appended.

    A call that finds a session already running returns it with only
    ``extra_conf`` applied. The master, the partition counts and the
    defaults stay as the starting call set them, and so does any conf the
    caller changed since (jobs call ``get_spark`` once per run, in-process
    under the benchmark and the tests).
    """
    live = SparkSession._instantiatedSession
    if live is not None and live._sc._jsc is not None:
        builder = SparkSession.builder
        for k, v in (extra_conf or {}).items():
            builder = builder.config(k, v)
        return builder.getOrCreate()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus != "*" else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, 2 * n)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = str(
        shuffle_partitions
    )
    nio = _nio_fs_conf(master)
    conf.update(nio)
    if extra_conf:
        conf.update(extra_conf)
        for k in _CLASSPATH_KEYS:
            if k in nio and k in extra_conf:
                conf[k] = extra_conf[k] + os.pathsep + nio[k]
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    return spark
