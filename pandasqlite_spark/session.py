"""SparkSession factory with SQLite-parity and scale-oriented defaults.

Parity configs (SURVEY.md §4.2-2):

- ``spark.sql.ansi.enabled=false`` — SQLite casts are lossy-but-silent
  (bad casts yield NULL, not errors); the reference's generated SQL relies
  on that forgiveness (reference ``pandasqlite/pandasqlite.py:223``).
- ``spark.sql.caseSensitive=false`` — SQLite identifiers are
  case-insensitive.
- ``spark.sql.session.timeZone=UTC`` — deterministic timestamp semantics,
  matching DuckDB's UTC-naive timestamps for the correctness oracle.

Scale configs: AQE on (runtime re-plan, skew-join handling, partition
coalescing), Arrow on (fast toPandas / pandas_udf), shuffle partitions
sized to the local core count (overridable; on a real cluster this would
be ~2-3× total cores or left to AQE's coalescing).

Python worker daemon: on a ``local[...]`` master, ``get_spark`` has the
JVM start ``_daemon/pqs_daemon.py`` in place of the stock
``pyspark.daemon`` (``spark.python.daemon.module``, with the ``_daemon``
directory merged into ``spark.executorEnv.PYTHONPATH``).  It is the stock
daemon except that a task's import-cache flush no longer re-reads zip
archives whose stamp is unchanged, which was most of a short Python
task's CPU.  Only local masters get it, because only there is this
package's directory known to exist on the executors.  A session that is
already active when ``get_spark`` is called (``getOrCreate``), such as
the external driver's own, keeps the daemon it was started with.

Py4J transport: after ``getOrCreate`` every ``get_spark`` call sets
``TCP_NODELAY`` on the JVM end of the calling thread's Py4J connection.
Py4J's JVM side writes an answer longer than its 8 KB buffer in two
writes; with Nagle's algorithm on, the second write waits for the ACK of
the first, and the Python side delays that ACK by the kernel's 40 ms
minimum.  On a 4-vCPU Linux host a JVM string of 8,150 chars came back
in under 1 ms and one of 8,200 chars in 44 ms.  The answer that hits
this most is the JVM stack trace PySpark fetches for every failed call
(11 KB for an analysis error), so a ``spark.sql`` that fails analysis,
the repair loop's signal, took 60 ms instead of 14 ms.  Only the
bytes' timing changes, never the bytes.  The option is per connection
and set only under PySpark's default pinned-thread mode (py4j's
``ClientServer``), where each Python thread has its own connection: the
thread that calls ``get_spark`` gets it, and any other Python thread
that drives the session keeps Nagle on until it calls ``get_spark``
itself.  Under the older ``JavaGateway`` transport nothing is set.
"""

from __future__ import annotations

import os
import sys

from py4j.clientserver import ClientServer
from pyspark import SparkContext
from pyspark.sql import SparkSession

# A known location of a PURE-PYTHON google.protobuf (Apache-2.0, vendored
# by the Google Cloud SDK) in containers that lack a pip-installed one.
_PROTOBUF_FALLBACK_DIR = "/usr/lib/google-cloud-sdk/platform/google_appengine"

# holds pqs_daemon.py and nothing else (see the module docstring)
_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_daemon")


def enable_spark4_stateful_runner() -> None:
    """Make ``google.protobuf`` importable in the Python that the JVM
    spawns for Spark 4's ``transformWithStateInPandas`` driver worker,
    which hard-requires it.  If protobuf isn't importable but a vendored
    pure-Python copy exists on disk, prepend it to ``PYTHONPATH`` (the
    spawned runner inherits the env) and append it to ``sys.path`` (so
    this process never shadows site-packages).  Where neither exists it
    changes nothing, and a ``transformWithStateInPandas`` query then
    fails when it starts its runner.

    MUST run before the first SparkSession is created in the process:
    the JVM captures its environment at launch and passes it to every
    runner it spawns — called at this module's import for that reason.
    ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` is protobuf's own
    documented escape hatch for the minor-version gap between Spark's
    generated StateMessage bindings and the vendored runtime.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        if not os.path.isdir(os.path.join(_PROTOBUF_FALLBACK_DIR, "google", "protobuf")):
            return
        existing = os.environ.get("PYTHONPATH", "")
        if _PROTOBUF_FALLBACK_DIR not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                _PROTOBUF_FALLBACK_DIR + ((os.pathsep + existing) if existing else "")
            )
        if _PROTOBUF_FALLBACK_DIR not in sys.path:
            sys.path.append(_PROTOBUF_FALLBACK_DIR)
        # the version-check escape hatch is for the VENDORED pure-Python
        # runtime's minor-version gap only — when a healthy site-packages
        # protobuf imported on the first try, leave the check on so a
        # genuine gencode/runtime incompatibility on a properly
        # provisioned cluster still fails loudly
        os.environ.setdefault("TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true")


# import-time: the shim is only effective if it precedes JVM launch
enable_spark4_stateful_runner()


def _with_worker_daemon(master: str, conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the two settings that start ``pqs_daemon`` as the
    Python worker daemon, for a ``local[...]`` master only; the daemon
    directory is merged in front of any ``PYTHONPATH`` the caller gave."""
    conf = dict(conf)
    if master == "local" or master.startswith("local["):
        conf.setdefault("spark.python.daemon.module", "pqs_daemon")
        paths = [p for p in conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep) if p]
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join([_DAEMON_DIR] + paths)
    return conf


def _set_tcp_nodelay(sc: SparkContext) -> None:
    """Turn off Nagle on the JVM end of the calling thread's Py4J
    connection (see the module docstring); a no-op unless the gateway is
    py4j's pinned-thread ``ClientServer`` and the thread has a connection."""
    if not isinstance(sc._gateway, ClientServer):
        return
    conn = sc._gateway.java_gateway_server.getCallbackClient().getPerThreadConnection()
    if conn is not None:
        conn.getSocket().setTcpNoDelay(True)


def get_spark(
    app_name: str = "pandasqlite_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism;
    defaults to all cores.

    Every call also sets ``TCP_NODELAY`` on the JVM end of the calling
    thread's Py4J connection, so a JVM answer over 8 KB (such as the
    stack trace of a failed analysis) does not wait 40 ms for a delayed
    ACK.  Only that thread's connection is covered: a Python thread that
    drives the session without calling ``get_spark`` keeps Nagle on.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("PANDASQLITE_SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        ncpu = (os.cpu_count() or 8) if cpus == "*" else int(cpus)
        shuffle_partitions = max(8, ncpu)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # --- parity with the reference's SQLite semantics ---
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # --- scale / performance posture ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PANDASQLITE_SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in _with_worker_daemon(master, extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _set_tcp_nodelay(spark.sparkContext)
    return spark
