"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but with settings that carry to a large
cluster: AQE on (runtime re-plan, skew-join splitting), partition
coalescing, Arrow for the few Pandas-UDF paths, and a shuffle
partition count sized by env rather than hard-coded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "logprep-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` sizes local parallelism; shuffle partitions
    default to that so small-SF local runs don't fan out into hundreds
    of empty tasks, while a cluster deployment overrides via normal
    Spark conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # r15 (guide §2.2): size reduce partitions by DATA, not core count.
    # parallelismFirst=true (the Spark default) ignores the advisory
    # size and fans every shuffle out to ~defaultParallelism tasks —
    # at small inputs that is pure per-task scheduling overhead (the
    # r14 driver measured 8 cores BEATING 32 on the multi-stage rows:
    # ratios 0.2-0.6), and at large inputs it under-partitions. With
    # parallelismFirst=false AQE coalesces each shuffle to
    # ceil(bytes / advisory): tiny sf0.1 exchanges collapse to 1-4
    # tasks, a 100 TB exchange fans out to bytes/advisory regardless
    # of the local core count — the "derive parallelism from input
    # size" posture. Advisory is env-tunable: 8m locally (keeps the
    # genuinely compute-bound sf0.1 stages parallel); production
    # deployments set 128-256m (guide §9) via normal Spark conf.
    advisory = os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "8m")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores TIMESTAMP(NANOS); Spark has no nanos
        # type — read as long and normalize in load_tables()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Call-site capture for DataFrame error context costs ~3 extra
        # py4j round trips on EVERY Column/DataFrame API call
        # (pyspark/errors/utils.py _with_origin: conf read +
        # PySparkCurrentOrigin.set + clear). Plan-construction-heavy
        # paths pay hard: the 1000-rule dispatch compile drops ~2.3x
        # (measured, PLANS/rule_dispatch_probe.md) with it off. A
        # debugging nicety, not an execution feature — off for an
        # engine, flip on when chasing a plan-construction error.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    try:
        # pyspark caches this flag on first use; set it at runtime too
        # so a pre-existing session (getOrCreate reuse) is covered
        spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
    except Exception:
        pass
    return spark


class AppMemo:
    """Bounded memo of driver-side artifacts scoped to ONE Spark
    application — compiled Columns, partition probes, table frames:
    things that depend on code and schema, never on row contents.
    Every key carries the application id, so a restarted application
    never sees the previous JVM's handles, and the memo is cleared
    whole once it holds ``cap`` entries, so it cannot grow without
    bound. A None key is never stored and never hits."""

    def __init__(self, cap: int):
        self.cap = cap
        self._entries: dict = {}

    @staticmethod
    def key(spark: SparkSession | None, *parts):
        """``(application id, *parts)`` for ``spark``'s application
        (the active SparkContext's when ``spark`` is None), or None
        when no application id is reachable."""
        from pyspark import SparkContext

        try:
            sc = spark.sparkContext if spark else SparkContext._active_spark_context
            return (sc.applicationId, *parts)
        except Exception:
            return None

    def get(self, key):
        return None if key is None else self._entries.get(key)

    def put(self, key, value) -> None:
        if key is None:
            return
        if len(self._entries) >= self.cap:
            self._entries.clear()
        self._entries[key] = value

    def __len__(self) -> int:
        return len(self._entries)


#: fan_out partition-probe memo: ``df.rdd.getNumPartitions()``
#: converts the FULL plan to an RDD — ~0.3 s of driver latency on a
#: deep frame, re-paid per plan construction. The partition count of
#: a logical plan is session-stable metadata, so it is memoized per
#: analyzed-plan semanticHash. A hash collision could only skip/add a
#: repartition — a performance nuance, never a result change.
_FANOUT_MEMO = AppMemo(4096)


def fan_out(df, factor: float = 1.0):
    """Widen a too-narrow scan to the session's parallelism before
    genuinely heavy per-row work (e.g. multimodal decode in
    ``mapInPandas``). A small parquet file arrives as ONE input split,
    serializing that compute on a single core.

    NOT for cheap-per-row column expressions: measured at sf0.1, the
    extra round-robin shuffle plus AQE plan finalization cost more
    than the parallelism gained for shingle/hash pipelines (those are
    better served by persisting their small derived frames). Use only
    when per-row work is tens of microseconds or more.
    """
    target = int(df.sparkSession.sparkContext.defaultParallelism * factor)
    # The probe triggers plan analysis + RDD conversion on the DRIVER —
    # a few ms at plan-build frequency. Skipping it and repartitioning
    # unconditionally was measured 15-20% WORSE end-to-end on
    # dedup_minhash_lsh at sf0.1: when the scan already has >= target
    # splits the unconditional path adds a full round-robin shuffle of
    # the corpus — executor cost proportional to data size, the wrong
    # trade at any scale. r15: the probe result is memoized per
    # (appId, plan semanticHash) — see _FANOUT_MEMO above.
    try:
        key = _FANOUT_MEMO.key(
            df.sparkSession,
            df._jdf.queryExecution().analyzed().semanticHash(),
            target,
        )
    except Exception:
        key = None
    n = _FANOUT_MEMO.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _FANOUT_MEMO.put(key, n)
    if n < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
    """Register the driver's parquet tables as temp views; return dict of DFs."""
    names = tables or [
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
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # The testdata parquet stores TIMESTAMP(NANOS); a caller-supplied
    # plain SparkSession (e.g. the grading driver's) won't have the
    # builder conf from get_spark(), so set it at runtime too — it is a
    # runtime-settable SQLConf.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass

    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            # TIMESTAMP(NANOS) columns arrive as long (nanosAsLong):
            # normalize to microsecond timestamps
            for field in df.schema.fields:
                if field.name in ("ts",) and isinstance(field.dataType, T.LongType):
                    # integer div: float division would lose precision
                    # on 1e18-scale nanos and shift rows by ±1 µs
                    df = df.withColumn(
                        field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
                    )
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def release_staging_cache(spark: SparkSession) -> None:
    """Unpersist every cached block in the session.

    The dedup/text/similarity plan builders persist their staging
    frames (tfidf's tf table, the LSH pair stage, the bigram stream,
    …) because lazy return values give callers no hook to unpersist —
    Spark's LRU eviction bounds the cost, but a long-lived session
    that builds many plans accumulates cached blocks. Call this
    between logical work units (the bench calls it between its
    phases) to release them all; CacheManager re-caches on the next
    use, so correctness is unaffected."""
    spark.catalog.clearCache()
