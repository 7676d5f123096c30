"""Spark entry points for the engine: a SparkSession for queries, a
bare SparkContext for the CLI.

One place to set every scale-relevant knob. Local mode is the test bed;
the same conf (minus local master) is what a 1000-executor cluster
deployment would use — AQE, Arrow, and UTC semantics are identical.
Both entry points start from :func:`_core_conf`: :func:`get_spark` adds
the Spark SQL settings, and :func:`get_context`, which the CLI uses
because a pass runs one RDD job and no Spark SQL, adds nothing.
"""

from __future__ import annotations

import os
import site
import threading

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

#: Shuffle partitions: match local cores while testing. On a real cluster
#: this is overridden (or left to AQE coalescing) — AQE is enabled so the
#: initial number only caps parallelism, it does not fix it.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_STOCK_FLOOR_LOCK = threading.Lock()

#: Directory that holds the package; a Python worker imports
#: ``worker_daemon`` from it, as it imports the kernels.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _workers_import_package() -> bool:
    """Whether a Python worker started by this process can import the
    package: its directory is the working directory (which ``python -m``
    puts on the worker's path), on PYTHONPATH, or site-packages."""
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages()]
    return os.path.realpath(_PACKAGE_ROOT) in {os.path.realpath(d) for d in dirs if d}


def _core_conf(app_name: str) -> SparkConf:
    """The SparkContext settings every entry point shares:

    - master ``SPARK_MASTER``, else ``local[SPARK_GRAFT_CPUS]`` (all
      cores when unset), and driver memory ``SPARK_GRAFT_DRIVER_MEM``
      (8g);
    - no web UI, and no console progress bar: a run reports through
      its own output (the CLI's summary line), and Spark's
      carriage-return bar would only garble a nightly log;
    - the serial garbage collector in the driver JVM, as
      ``spark.driver.defaultJavaOptions`` so that a caller's
      ``spark.driver.extraJavaOptions`` still apply after it. G1, the
      default, sizes its young generation from pause-time predictions,
      so the heap the driver commits and fills differs from one
      identical run to the next: over 5 ``catalog_queries`` runs
      (seed 1, 4 cores) the driver JVM's RSS was 661-1010 MB under G1
      and 483-488 MB under the serial collector, with pass times
      unchanged (``survey_night``: 290-322 vs 282-283 MB);
    - spark.python.daemon.module = ``worker_daemon``: Python workers
      load pyspark as bytecode from its installed package instead of
      compiling it from ``$SPARK_HOME/python/lib/pyspark.zip``, which
      Spark puts first on a worker's path. That compile cost about 1 s
      per daemon, paid before it forks its first worker (for
      ``q_periodogram``'s pandas UDF, for the CLI's RDD job). The
      daemon keeps the zip first unless the installed pyspark and py4j
      are the zips' releases. Workers import the package already, for
      the kernels; the setting is made only when they can, i.e. when
      the package is in the working directory, on PYTHONPATH or in
      site-packages.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    conf = (SparkConf(loadDefaults=False)
            .setMaster(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
            .setAppName(app_name)
            .set("spark.ui.enabled", "false")
            .set("spark.ui.showConsoleProgress", "false")
            .set("spark.driver.defaultJavaOptions", "-XX:+UseSerialGC")
            .set("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")))
    if _workers_import_package():
        conf.set("spark.python.daemon.module",
                 "telescope_data_pipeline_spark.worker_daemon")
    return conf


def get_context(app_name: str = "telescope_data_pipeline_spark") -> SparkContext:
    """The process's SparkContext, made from :func:`_core_conf` if there
    is none yet (an existing one is returned as it is), at log level
    WARN. No SparkSession is made: Spark SQL's session state (its
    catalog, analyzer and SQL conf, ~0.4 s even beside an existing
    session, 2-3 s and ~3,300 JVM classes in a new process) is fixed
    cost to a caller that runs only RDD jobs, such as the CLI."""
    sc = SparkContext.getOrCreate(_core_conf(app_name))
    sc.setLogLevel("WARN")
    return sc


def get_spark(app_name: str = "telescope_data_pipeline_spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or get) the SparkSession with the engine's standard config:
    :func:`_core_conf` plus the Spark SQL settings below, then
    ``extra_conf``.

    Settings and why they matter at 100 TB:

    - AQE on (+ coalesce + skew join): runtime re-planning fixes the two
      failure modes a static plan has at scale — thousands of tiny
      post-shuffle partitions, and skewed join keys.
    - Arrow on: every pandas UDF crosses JVM<->Python in columnar batches
      instead of pickled rows.
    - UTC session timezone: timestamp semantics must not depend on the
      executor host's locale.
    - autoBroadcastJoinThreshold raised to 64 MB: dimension tables
      (region/nation/ephemeris) should never shuffle.
    - maxPartitionBytes 128 MB: parquet scan split size — keeps scan tasks
      uniform regardless of input file layout.
    """
    builder = (
        SparkSession.builder
        .config(conf=_core_conf(app_name))
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor (r13, guide §2.5): with parallelismFirst
        # (default true) the coalesce target is max(bytes/parallelism,
        # minPartitionSize). The 1 MB default floor collapses any
        # sub-1MB shuffle to ONE partition — fatal for joins whose
        # OUTPUT expands far beyond their input bytes (q_semdedup's
        # cluster self-join: 569 KB in, 2.2M pairs out, measured 5.2 s
        # on a single task; 64 KB floor → 32 tasks, query 4.5 s → 1.7 s).
        # At cluster scale bytes/parallelism >> 1 MB, so the floor only
        # ever binds on compute-dense small shuffles — exactly where it
        # must not serialize.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Driver parquet uses pandas-style timestamps: ns-unit (events.ts)
        # and ms-unit (orders.o_orderdate). Read ns as long (converted to
        # micros in sources.load_table — every value is a whole µs) and
        # keep ltz TimestampType everywhere so UTC arithmetic matches the
        # DuckDB oracle's naive-timestamp semantics.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stock_coalesce_floor(spark: SparkSession) -> SparkSession:
    """A child session (shared SparkContext, isolated SQLConf) running
    Spark's STOCK 1 MB AQE coalesce floor instead of the engine's 64 KB
    default.

    The 64 KB floor exists for output-expanding joins (see get_spark):
    a sub-MB shuffle that fans out into millions of pair rows must not
    collapse to one task. Its cost is the flip side: a many-stage query
    over mid-size (1-10 MB) shuffles gets 32 tasks per stage where 5
    would do, and pays task-scheduling overhead once per stage — the
    r13/r14 interleaved A/B measured q_spearman 4.4 s under the 64 KB
    floor vs 2.5-3.2 s at stock (same session, same host), while the
    expansion-join wins (q_semdedup 1.7 s, q_adamic_adar) stay intact
    on the parent. Queries for which that interleaved A/B measured the
    stock floor faster opt into it HERE, scoped to their own plan,
    instead of flipping the session default that the expansion family
    depends on.

    At cluster scale bytes/parallelism >> 1 MB so neither floor ever
    binds — this is a local/small-shuffle trade only, which is why it
    is safe to decide per query shape. ``newSession()`` inherits every
    builder conf (verified: shuffle.partitions, broadcast threshold,
    timezone, Arrow, nanosAsLong all carry over); only the floor is
    overridden. The child shares the parent's SparkContext, catalog and
    cache manager, so CacheSlot pins and ``clearCache`` behave
    identically.
    """
    with _STOCK_FLOOR_LOCK:  # one child per session, also under threads
        child = getattr(spark, "_tdp_stock_floor_session", None)
        if child is None:
            child = spark.newSession()
            child.conf.set(
                "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
            spark._tdp_stock_floor_session = child
    return child
