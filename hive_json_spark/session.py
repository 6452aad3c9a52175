"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster — AQE handles runtime re-planning (partition
coalescing, skew joins), Arrow handles the Python boundary, and shuffle
partition count is sized by the driver via ``SPARK_GRAFT_CPUS``.

Python workers start from the engine's own daemon, ``hive_json_spark.worker``:
PySpark's daemon and worker unchanged, except that each task's import-cache
invalidation skips zip archives (``pyspark.zip``, the Spark jar), which it
would otherwise re-read in full on every task. The checkout must therefore be
importable on workers, from the cwd or ``PYTHONPATH``, as the kernels already
need it to be.

The ``file:`` filesystem is the engine's ``NioLocalFileSystem.java``:
Hadoop's checksummed ``LocalFileSystem`` over a ``RawLocalFileSystem`` whose
``setPermission`` is one ``java.nio`` chmod(2) call. Without the Hadoop
native library (``libhadoop``), the stock raw filesystem forks ``chmod`` for
every directory ``mkdirs`` makes and every file and ``.crc`` sidecar it
creates: ~3.4 ms a call, and ~16 ms per file of a 33-partition
``partitionBy`` text write in one task (~3 ms with this class; 4-core x86
host). A seed-1 ``json_shred`` op forked ~310 processes; it now forks ~25.
Modes, ``.crc`` sidecars and checksum verification are Hadoop's.

Streaming checkpoints are written through ``FileContext``, which
``fs.file.impl`` does not reach, so sessions name Spark's
``FileSystem``-based checkpoint manager; its write-then-rename is atomic on
a local POSIX disk.

The class is compiled with the JDK's ``javac`` (~1 s) once per source
hash, into ``_jvm/`` next to the source; later sessions reuse the jar. When
it cannot be built (no ``javac``, an unwritable checkout), the session keeps
Hadoop's filesystem and logs why, once per process. A session created in a
JVM that started without the jar keeps Hadoop's filesystem too (a class path
is fixed at launch) and logs that.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

FS_CLASS = "hive_json_spark.NioLocalFileSystem"
_FS_SOURCE = Path(__file__).with_name("NioLocalFileSystem.java")
_LOG = logging.getLogger(__name__)


@functools.lru_cache(maxsize=None)
def local_fs_jar() -> str | None:
    """The jar of ``NioLocalFileSystem``, compiled on first use per source
    hash; None, logged, when it cannot be built."""
    digest = hashlib.sha256(_FS_SOURCE.read_bytes()).hexdigest()[:16]
    build = _FS_SOURCE.with_name("_jvm")
    jar = build / f"nio-local-fs-{digest}.jar"
    if jar.exists():
        return str(jar)
    try:
        javac = shutil.which("javac")
        if javac is None:
            raise OSError("no javac on PATH")
        build.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build) as tmp:
            api = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
            # a short-lived compiler: C1 only, serial GC, no annotation processing
            # (0.8 s against 1.6 s with the defaults and every hadoop jar)
            fast = ["-J-XX:TieredStopAtLevel=1", "-J-XX:+UseSerialGC", "-proc:none"]
            subprocess.run(
                [javac, *fast, "--release", "17", "-cp", os.pathsep.join(api), "-d", tmp, str(_FS_SOURCE)],
                check=True, capture_output=True, text=True,
            )
            part = os.path.join(tmp, jar.name)
            with zipfile.ZipFile(part, "w") as z:
                for cls in Path(tmp, "hive_json_spark").glob("*.class"):
                    z.write(cls, f"hive_json_spark/{cls.name}")
            os.replace(part, jar)  # whole or absent, also to a concurrent build
    except (OSError, subprocess.CalledProcessError) as e:
        why = e.stderr.strip() if isinstance(e, subprocess.CalledProcessError) else e
        _LOG.warning("file: stays Hadoop's filesystem: cannot build %s: %s", jar, why)
        return None
    return str(jar)


def _local_disk_conf() -> dict[str, str]:
    jar = local_fs_jar()
    if jar is None:
        return {}
    jvm = SparkContext._jvm
    if jvm is not None and jar not in jvm.System.getProperty("java.class.path").split(os.pathsep):
        _LOG.warning("file: stays Hadoop's filesystem: this JVM started without %s", jar)
        return {}
    return {
        # local mode runs every task in the driver JVM
        "spark.driver.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": FS_CLASS,
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
    }


def get_spark(
    app_name: str = "hive-json-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus != "*" else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # per-task import-cache invalidation skips immutable zip archives (~0.3 s a task)
        .config("spark.python.daemon.module", "hive_json_spark.worker")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (test/CI noise); bench.py turns it on to read
        # per-stage shuffle/spill telemetry from the status REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in _local_disk_conf().items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
