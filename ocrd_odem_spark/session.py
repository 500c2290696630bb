"""SparkSession factory with the engine's scale-oriented defaults.

Sized for the sandbox (single JVM, local[N]) but every knob is the one you
would set on a 1000-executor cluster: AQE with skew-join handling, Arrow for
any pandas-UDF exchange, shuffle partitions matched to parallelism.

The Python workers start from ``ocrd_odem_spark.worker_daemon``
(``spark.python.daemon.module``) instead of ``pyspark.daemon``.  PySpark
calls ``importlib.invalidate_caches()`` at the start of every task, and on
Python 3.11 that makes every ``zipimporter`` on the worker's path re-read its
archive's whole central directory: pyspark.zip, the py4j zip and the
spark-core jar, sixteen reads and about 240 ms per task on a 4-vCPU host,
against well under a millisecond for an identity function.  The engine's
daemon re-reads an archive only when its stat changed, which leaves import
semantics as they are (a new ``--py-files`` archive is a new path entry) and
cuts the fixed cost of every Python stage: the Arrow extract, the metadata
extract and the dedup walks.  The same daemon imports the Arrow and pandas
stack and freezes its heap before it forks, so the ``gc.collect()`` the stock
daemon runs in each reused worker after every task walks ~700 objects
instead of ~73k (~0.25 ms instead of ~37 ms).

The JVM reaches the daemon and its workers over a Unix-domain socket
(``spark.python.unix.domain.socket.enabled``) instead of loopback TCP.  An
identity ``mapInArrow`` over 32 tasks on 4 cores takes 0.59 s with TCP and
no frozen heap, 0.54 s with the frozen heap alone, 0.42 s with the socket
alone and 0.25 s with both, against 0.19 s for the scan alone.  The
daemon binds ``<dir>/.<uuid4>.sock``, where Spark takes ``<dir>`` from
``spark.python.unix.domain.socket.dir`` or else the JVM's
``java.io.tmpdir``; ``get_spark`` refuses a directory whose socket path
would not fit Linux's 107-byte ``AF_UNIX`` limit rather than let every
Python task fail at bind.
"""

from __future__ import annotations

import os
import shlex
import uuid

from pyspark.sql import SparkSession

#: longest AF_UNIX socket path Linux accepts (sun_path is 108 bytes with NUL)
SOCKET_PATH_MAX = 107


def socket_dir(conf: dict) -> str:
    """The directory Spark 4.1 hands the worker daemon for its socket: the
    ``spark.python.unix.domain.socket.dir`` conf, else the JVM's
    ``java.io.tmpdir`` (``/tmp`` unless the driver's Java options set it)."""
    if "spark.python.unix.domain.socket.dir" in conf:
        return conf["spark.python.unix.domain.socket.dir"]
    for opt in reversed(shlex.split(conf.get("spark.driver.extraJavaOptions", ""))):
        if opt.startswith("-Djava.io.tmpdir="):
            return opt.split("=", 1)[1]
    return "/tmp"


def check_socket_dir(path: str) -> None:
    """Raise ``ValueError`` unless the daemon's socket path under ``path`` fits."""
    # the name pyspark.daemon binds under the directory
    sock = os.fsencode(os.path.join(path, f".{uuid.uuid4()}.sock"))
    if len(sock) > SOCKET_PATH_MAX:
        raise ValueError(
            f"Python worker socket path {os.fsdecode(sock)!r} is {len(sock)} bytes, "
            f"over Linux's {SOCKET_PATH_MAX}-byte AF_UNIX limit; point "
            "spark.python.unix.domain.socket.dir or java.io.tmpdir at a shorter directory"
        )


def get_spark(
    app_name: str = "ocrd-odem-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    # Python workers resolve imports from PYTHONPATH, not the driver's
    # sys.path — make the engine importable on executors regardless of cwd
    # (cluster deployments ship the package via spark-submit --py-files).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.python.daemon.module": "ocrd_odem_spark.worker_daemon",
        "spark.python.unix.domain.socket.enabled": "true",
    }
    # JVM tuning hook (e.g. GC choice) — local mode runs everything in the
    # driver JVM, so driver options govern executor threads too
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS")
    if java_opts:
        conf["spark.driver.extraJavaOptions"] = java_opts
    conf.update(extra_conf or {})
    if conf["spark.python.unix.domain.socket.enabled"].lower() == "true":
        check_socket_dir(socket_dir(conf))
    builder = SparkSession.builder.appName(app_name).master(f"local[{cores}]")
    for key, val in conf.items():
        builder = builder.config(key, val)
    return builder.getOrCreate()
