"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-planning, skew-join handling), Arrow transfer for
the Pandas-UDF slow path, UTC session timezone so timestamp semantics
match the DuckDB oracle, and shuffle partitions sized to the machine
instead of Spark's legacy default of 200.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_mem() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's physical memory, capped at 48g. A heap larger than the host
    lets the JVM grow until the kernel OOM-kills it, instead of failing
    one query with an OutOfMemoryError."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(1024, min(48 * 1024, host_mb // 2))}m"


def _package_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: Known locations of a vendored pure-Python ``google.protobuf`` on
#: hosts without the pip package (e.g. the gcloud SDK ships one).
_PROTOBUF_FALLBACK_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable if at all possible — the
    ``transformWithStateInPandas`` Python worker hard-requires it
    (Spark ships protobuf gencode for its StateMessage schema).  If
    the package is absent, probe the known vendored copies and, when
    one is adopted, extend ``PYTHONPATH`` (so forked Python workers
    inherit it — call this BEFORE the JVM starts) and set protobuf's
    own ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` escape hatch,
    because a vendored runtime is typically one minor version behind
    Spark's gencode stamp (pure-python wire compat is unaffected).
    Returns True when ``google.protobuf`` imports."""
    import sys

    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    for d in _PROTOBUF_FALLBACK_DIRS:
        if not os.path.isdir(os.path.join(d, "google", "protobuf")):
            continue
        if d not in sys.path:
            sys.path.insert(0, d)
        pp = os.environ.get("PYTHONPATH", "")
        if d not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = f"{d}{os.pathsep}{pp}" if pp else d
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        try:
            import google.protobuf  # noqa: F401

            return True
        except ImportError:
            continue
    return False


def ensure_package_shipped(spark: SparkSession) -> None:
    """Idempotently ship ``libmr_spark`` to the executors of ANY
    session — including one created by an external harness rather than
    :func:`get_spark`. Safe to call per-query (marker on the
    SparkContext makes repeats free)."""
    sc = spark.sparkContext
    if getattr(sc, "_libmr_pkg_shipped", False):
        return
    _ship_package(spark)
    sc._libmr_pkg_shipped = True


def _ship_package(spark: SparkSession) -> None:
    """Make ``libmr_spark`` importable on every executor.

    Steps registered inside the package (e.g. the built-in ``dbsize``
    remote task) pickle by module reference, so executors must be able
    to import the package — the Spark-native replacement for LibMR's
    register-on-every-node-at-load (``/root/reference/src/mr.c:1698-1762``).
    ``addPyFile`` ships a zip of the package through Spark's file
    server, which works identically on a real cluster and in local mode.
    The zip lives in the SparkContext's own temporary directory, which
    Spark removes at shutdown, so sessions that share ``TMPDIR`` (two
    checkouts side by side) never overwrite each other's zip.
    """
    pkg_dir = os.path.join(_package_root(), "libmr_spark")
    zpath = os.path.join(spark.sparkContext._temp_dir, "libmr_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, _package_root()))
    spark.sparkContext.addPyFile(zpath)


def get_spark(
    app_name: str = "libmr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-aware defaults.

    These configs are the ones that still matter at 1000 executors:
    AQE coalescing/skew handling, broadcast threshold, Arrow batching.
    ``local[N]`` is only the test harness; nothing here assumes
    single-node execution.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # must run before the JVM starts so Python workers inherit the
    # adopted protobuf path (transformWithStateInPandas support)
    ensure_protobuf()
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescePartitions.minPartitionSize stays at Spark's default
        # (1m): a 64k floor lost net in OPTIMIZATION_r12.md's A/B.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # INT96 (the legacy default) writes NO footer min/max for
        # timestamp columns, killing row-group skipping and the zone
        # layer on every time-keyed table; TIMESTAMP_MICROS is the
        # modern standard every reader (incl. DuckDB) understands
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # Local-mode python workers inherit PYTHONPATH from the driver env;
    # set it before the JVM starts so registered steps resolve.
    pp = os.environ.get("PYTHONPATH", "")
    if _package_root() not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_package_root()}{os.pathsep}{pp}" if pp else _package_root()
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_package_shipped(spark)
    return spark
