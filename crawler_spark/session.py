"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the same configs are what we would
ship to a multi-executor cluster via spark-submit --py-files (AQE on,
adaptive skew-join handling, Arrow for pandas UDFs, UTC timestamps so
results compare cleanly against DuckDB oracles).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def pin_active_session(spark: SparkSession) -> None:
    """Pin the JVM thread-local active SparkSession for the calling
    thread. Python threads the engine creates (commit thread pool,
    foreachBatch callbacks) get fresh py4j-paired JVM threads whose
    InheritableThreadLocal state depends on which JVM thread spawned
    the connection — the active session is NOT guaranteed to ride
    along. A physical plan node constructed on such a thread captures
    `session = null` and NPEs later in `SparkPlan.resetMetrics`
    (observed once, under load, in the ingest stream). One static
    setter per thread/batch closes the race."""
    try:
        cls = SparkSession._get_j_spark_session_class(spark._jvm)
        cls.setActiveSession(spark._jsparkSession)
    except Exception:
        pass  # e.g. Spark Connect: no JVM handle, manages this itself


class CheckpointHandle:
    """Releasable handle for an EAGER localCheckpoint — quacks like a
    persisted DataFrame for the persist-and-release contract (exposes
    `unpersist`). `DataFrame.unpersist()` is a cache-manager call and
    a NO-OP for checkpoints (their blocks are registered directly on
    the BlockManager), so iterative operators that truncate lineage
    per round otherwise leak one edge-set-sized block PER ROUND until
    driver GC + the async ContextCleaner get around to it — at a
    billion-edge CC run that is dozens of live copies of the edge
    set. The handle reads the checkpointed RDD id off the frame's
    LogicalRDD plan node (exact — no global persistent-set diffing,
    which would race with concurrent engine threads) and frees it on
    demand. After release the frame is UNUSABLE (lineage was
    truncated; the blocks are gone) — callers release only after
    their last action over it."""

    def __init__(self, df):
        self._sc = df.sparkSession.sparkContext
        try:
            plan = df._jdf.queryExecution().analyzed()
            self._rdd_id = int(plan.rdd().id())
        except Exception:
            self._rdd_id = None  # not a LogicalRDD (not checkpointed)

    def unpersist(self, blocking: bool = False) -> None:
        if self._rdd_id is not None:
            try:
                self._sc._jsc.sc().unpersistRDD(self._rdd_id, bool(blocking))
            except Exception:
                pass  # blocks already dropped / context shut down
            self._rdd_id = None


def free_local_checkpoint(df, blocking: bool = False) -> None:
    """Immediately drop an eager localCheckpoint's storage blocks
    (see CheckpointHandle). Safe only once no future action depends
    on `df` or any plan built over it."""
    CheckpointHandle(df).unpersist(blocking)


def get_spark(
    app_name: str = "crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession: apply_session_defaults'
    semantic settings plus this host's topology.

    master defaults to local[$SPARK_GRAFT_CPUS or *]; shuffle
    partitions default to the local core count — at cluster scale the
    caller sets this to ~2-3x total cores (AQE coalesces down).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)

    b = (
        apply_session_defaults(SparkSession.builder.appName(app_name))
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def apply_session_defaults(builder):
    """Semantic defaults for a SUBMIT-OWNED session (scripts run via
    spark-submit --py-files): timezone, Arrow, the AQE family, and
    the checkpoint GC bound — everything get_spark sets EXCEPT
    cluster topology (master, memory, shuffle width), which on a real
    cluster belongs to the spark-submit command line and must not be
    overridden here."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # localCheckpoint blocks are reclaimed by the ContextCleaner
        # only after a DRIVER JVM GC notices the RDD is unreachable;
        # the default periodic-GC interval (30min) lets a continuous
        # crawl accumulate ~30min of superseded per-epoch state
        # blocks in the BlockManager. Iterative operators free their
        # rounds explicitly (session.free_local_checkpoint); this
        # bounds everything else.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
