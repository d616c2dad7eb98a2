"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the configs are
chosen to also be sane defaults on a real cluster (AQE on, skew-join
handling, Arrow for the pandas-UDF slow path, UTC session timezone so
timestamps hash-match the DuckDB oracle).
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def host_cpus() -> str:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return env
    try:
        return str(len(os.sched_getaffinity(0)))
    except AttributeError:  # no affinity API on this platform
        return str(os.cpu_count() or 1)


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half the host's physical memory
    (MemTotal), capped at 48g: a fixed 48g heap lets the JVM outgrow a
    smaller host until the kernel kills it."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf: keep the cap
        return "48g"
    return f"{max(1, min(48, total // 2 // 2**30))}g"


def get_spark(
    app_name: str = "graph_db_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or host_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(int(cpus), 8))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # Partition count must scale with DATA, not sit at a fixed 32:
        # AQE starts every exchange wide and coalesces down to the 16m
        # advisory, so small stages still end at a handful of partitions
        # while big shuffles keep enough parallelism to stay linear.
        # Measured on the exact-recall prefix join (round 14, 500k-doc
        # corpus, 878 MB shuffle): fixed 32 partitions scaled 14.3× on
        # 10× data; 128+ restored ~9-10× (SCALE_STRESS_r14) — the same
        # reducer-size wall a 100 TB job would hit ~immediately.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(int(shuffle_partitions) * 8, 256)),
        )
        # Without this, AQE does NOT coalesce the output partitioning of
        # plans being CACHED (default false preserves cached-plan
        # partitioning for reuse): with a wide initialPartitionNum the
        # cached graph snapshot then materializes at the full initial
        # width — 256 micro-partitions — and every traversal pays a
        # 256-task scan per hop (measured round 14: 5-hop 2.0 → 5.3 s).
        # True lets the cache coalesce like any other exchange.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Loops release superseded localCheckpoint generations on purpose
    # (pregel.release); Spark warns on each that the RDD "cannot be
    # recomputed after unpersisting". Only that logger is raised.
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD", log4j.Level.ERROR
    )
    return spark


_INITIAL_PARTITIONS_KEY = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

#: session id → [holders, saved initialPartitionNum or None]. Process-wide
#: because the conf it guards is shared by every caller of a session;
#: _CAP_LOCK makes overlapping capped sections restore the value exactly.
_CAPS: dict = {}
_CAP_LOCK = threading.Lock()


@contextmanager
def capped_initial_partitions(spark, n: int | None = None):
    """Scoped override of AQE's initialPartitionNum for DRIVER-SIDE
    iterative loops (BFS levels, Pregel rounds, Lloyd passes) whose
    per-step shuffles are frontier-/codebook-sized, never corpus-sized.

    The session default starts every exchange wide (data-proportional —
    see get_spark) so one-shot corpus shuffles scale linearly; but an
    iterative loop pays that width's per-exchange constant (map writers
    allocate one buffer per initial bucket) dozens of times on tiny
    frontiers — measured round 14: get_stats 4.0 → 5.4 s, 5-hop 2.0 →
    2.8 s at sf0.1 under the wide default. Loops that EXECUTE inside the
    engine cap the initial width to the core count for their own
    actions and restore the session value on exit; queries returned
    lazily to callers still execute under the wide session default.

    The cap is reference-counted per session: the first section to
    enter saves the session value and sets the cap, nested and
    concurrent sections only join it, and the last to leave restores
    the saved value. The conf is session-global while held: a concurrent
    query on the same session during a capped loop executes at the
    capped width (slower on huge shuffles, never incorrect)."""
    key = spark._jsparkSession.sessionUUID()
    with _CAP_LOCK:
        held = _CAPS.get(key)
        if held is None:
            prev = spark.conf.get(_INITIAL_PARTITIONS_KEY, None)
            spark.conf.set(
                _INITIAL_PARTITIONS_KEY, str(n or spark.sparkContext.defaultParallelism)
            )
            held = _CAPS[key] = [0, prev]
        held[0] += 1
    try:
        yield
    finally:
        with _CAP_LOCK:
            held[0] -= 1
            if not held[0]:
                del _CAPS[key]
                if held[1] is None:
                    spark.conf.unset(_INITIAL_PARTITIONS_KEY)
                else:
                    spark.conf.set(_INITIAL_PARTITIONS_KEY, held[1])


def frontier_paced(fn):
    """Decorator form of ``capped_initial_partitions`` for the Pregel
    family: finds the first DataFrame argument and runs the wrapped
    driver loop under the capped width.

    Scope contract: the cap covers only work EXECUTED inside the call.
    Every decorated pregel function (bfs_levels, tagged_bfs_levels,
    connected_components, connected_components_star, shortest_paths,
    pagerank, personalized_pagerank, kcore, label_propagation)
    checkpoints each round's state eagerly inside the
    loop — the iterative stages, which are the cap's entire target,
    therefore always run capped. What a decorated function RETURNS is a
    frame over those localCheckpoint cuts plus at most a final
    projection/back-join (e.g. labels joined to the caller's vertices);
    those closing stages execute lazily at the CALLER under the wide
    session default — which is correct, since they are one-shot and
    possibly corpus-sized, exactly what the wide default exists for. A
    concurrent query on the same session during a capped loop executes
    at the capped width (slower on huge shuffles, never incorrect) — the
    documented price of session-global conf. Nested calls share the
    outermost cap (see capped_initial_partitions)."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        df = next(
            (a for a in list(args) + list(kwargs.values()) if isinstance(a, DataFrame)),
            None,
        )
        if df is None:
            return fn(*args, **kwargs)
        with capped_initial_partitions(df.sparkSession):
            return fn(*args, **kwargs)

    return wrapper


def load_events(spark: SparkSession, sf_dir: str):
    """Load the events table and normalize its timestamp, exposing both:
      - ``ts_ns``  LONG       — exact nanosecond epoch, used for ordering,
                                gap arithmetic, and second/hour bucketing
                                (bit-for-bit reproducible in the oracle);
      - ``ts``     TIMESTAMP  — the instant as a session-tz timestamp, for
                                display/windows.

    The fixture's parquet ``ts`` has shipped in two physical encodings:
    TIMESTAMP(NANOS) (unreadable by Spark's vectorized reader as a
    timestamp — loaded as exact LONG nanos via the legacy conf) and
    TIMESTAMP(MICROS) with isAdjustedToUTC=false (loads as TIMESTAMP_NTZ
    on Spark 4.x). We branch on the *loaded* dtype so either encoding —
    and either Spark major — produces identical ``ts_ns``/``ts`` columns.
    """
    from pyspark.sql import functions as F

    try:
        # Lets genuine TIMESTAMP(NANOS) columns load as exact nanos longs
        # instead of failing with PARQUET_TYPE_ILLEGAL. No effect on
        # micros columns. Guarded: a future Spark may drop the conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # nanos-as-long: the long IS the exact ns epoch
        return df.withColumn("ts_ns", F.col("ts").cast("long")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
        )
    # timestamp / timestamp_ntz: Spark timestamps carry at most micro
    # precision, so micros*1000 is lossless. The ntz→ltz cast is an
    # identity on the instant because the session timezone is UTC.
    ts = F.col("ts").cast("timestamp")
    return df.withColumn("ts_ns", F.unix_micros(ts) * F.lit(1000)).withColumn("ts", ts)


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet tables from *sf_dir* as a dict of DataFrames."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names}


def spread_small_input(df, factor: int = 1):
    """Repartition *df* to the cluster's parallelism iff it scans fewer
    partitions than that — the guard for single-file / single-row-group
    inputs whose downstream per-row work (explode + hashing) would
    otherwise run as one task.

    At real scale the corpus arrives in thousands of splits and this is a
    no-op (no shuffle is ever added to an already-wide input); on the
    local fixtures it turns a 1-task scan stage into a full-width one at
    the cost of shuffling the (small, by premise) raw input once."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
