"""SparkSession factory with scale-appropriate defaults.

Plays the role of the reference's config layer
(``ConfigurationFactory.java:59-84`` building a Hadoop ``Configuration``
from files + overrides, and the ``parquet_log_level`` knob at
``ParquetHadoopInputPlugin.java:241-267``) — expressed as Spark conf.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_UDS_ENABLED = "spark.python.unix.domain.socket.enabled"
_UDS_DIR = "spark.python.unix.domain.socket.dir"
# An AF_UNIX socket path holds at most 107 bytes (sun_path is 108 with its
# NUL). Spark names each socket "<dir>/.<uuid4>.sock": 43 bytes past <dir>.
_SUN_PATH_MAX = 107
_SOCK_NAME_LEN = 43


def unix_socket_dir(base: str | None = None) -> str | None:
    """Make a private directory (mode 0700) for Spark's JVM<->Python Unix
    domain sockets, or return None when none fits (the session then
    stays on loopback TCP).

    The directory is a fresh ``mkdtemp`` under ``base`` (the caller's
    ``spark.python.unix.domain.socket.dir``), else under ``/tmp``, kept
    only if its socket paths fit in 107 bytes. It must be private: on
    the Unix socket pyspark's daemon hands a forked worker to any
    connection without the shared-secret check the TCP channel makes, so
    whoever can reach a socket can run code as this user. Only the owner
    can reach a socket inside a 0700 directory, whatever the umask."""
    for b in (base, "/tmp"):
        if not b:
            continue
        try:
            d = tempfile.mkdtemp(prefix="sps", dir=os.path.abspath(b))
        except OSError:
            continue
        if len(os.fsencode(d)) + _SOCK_NAME_LEN <= _SUN_PATH_MAX:
            return d
        os.rmdir(d)
    return None


def get_spark(app_name: str = "columnar-encode",
              master: str | None = None,
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              arrow_batch_rows: int = 16384,
              extra_conf: dict | None = None) -> SparkSession:
    """Build a session.

    ``arrow_batch_rows`` bounds the Arrow batch fed to ``mapInArrow`` — it is
    our *chunk size* knob, the analogue of the reference's one-row-group-at-
    a-time memory bound (``ParquetRowReader.java:105-118``).

    The JVM<->Python worker channel (task header and command, partition
    data, results, ``collect`` serving, accumulators) runs over a Unix
    domain socket in a private directory from :func:`unix_socket_dir`,
    unless ``extra_conf`` sets ``spark.python.unix.domain.socket.enabled``
    itself (its value is then kept as given).
    On loopback TCP every Python task stalled about 40 ms waiting for its
    partition data (``PythonRunner`` ``finish`` 39-42 ms for a no-op task
    on a 4-core host; 0-1 ms on the Unix socket).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in py_path.split(os.pathsep):
        py_path = f"{repo_root}{os.pathsep}{py_path}" if py_path else repo_root
    conf = {
        # pre-forking daemon: workers inherit numpy/pyarrow/codec kernels
        # already imported + warmed (see daemon.py)
        "spark.python.daemon.module":
            "embulk_input_parquet_hadoop_spark.daemon",
        "spark.executorEnv.PYTHONPATH": py_path,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch_rows),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        "spark.sql.files.maxPartitionBytes": "268435456",
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    sock_dir = None
    if _UDS_ENABLED not in conf:
        sock_dir = unix_socket_dir(conf.get(_UDS_DIR))
        conf[_UDS_ENABLED] = "true" if sock_dir else "false"
        if sock_dir:
            conf[_UDS_DIR] = sock_dir
            # the JVM, and so every socket in the directory, does not
            # outlive this process; Spark removes its sockets on stop()
            atexit.register(shutil.rmtree, sock_dir, True)
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if sock_dir and spark.sparkContext.getConf().get(_UDS_DIR) != sock_dir:
        os.rmdir(sock_dir)  # an already running session kept its own channel
    spark.sparkContext.setLogLevel("WARN")
    return spark
