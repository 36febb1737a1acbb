"""SparkSession factory and the session-scoped policies every module shares.

The reference delegates execution to Postgres + Pentaho's row-at-a-time step
engine (SURVEY.md §3-4); our equivalent of its "engine configuration" is a
SparkSession with adaptive execution on. Every knob here is a public Spark
conf, and this module owns the two policies that would otherwise be spelled
once per call site:

- **Scoped confs.** A conf one piece of work needs (a data-sized reducer
  count, cached-plan coalescing) is set around that work and restored
  after it — never left on the session, so no global conf can change what
  another face computes (:func:`scoped_shuffle_partitions`).
- **Caching.** :func:`persisted` is the package's only ``persist`` call and
  :func:`materialized` its scoped form; no other module persists, caches or
  picks a storage level.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# Defaults sized for the test harness (local[$SPARK_GRAFT_CPUS], 128 GiB).
# On a real cluster the same conf names apply; only master/memory change.
_DEFAULT_CONF: dict[str, str] = {
    # Adaptive query execution: runtime re-plan, skew-join splitting, and
    # partition coalescing — the core of "would this survive 100×".
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dimension tables in a star schema are small: let Spark broadcast
    # aggressively (dims here are <= a few MB even at sf100).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for any pandas interchange (pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet: vectorized reader + pushdown are on by default; keep snappy.
    "spark.sql.parquet.compression.codec": "snappy",
    # ANSI off: the reference's Kettle casts turn bad values into NULL
    # (SURVEY.md §2.2 P1); ANSI mode would raise instead.
    "spark.sql.ansi.enabled": "false",
    # Stable timestamp behavior for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) columns (e.g. the events fixture) surface as
    # long nanos; readers re-cast to micros (sources/testdata.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Whole-stage codegen on (default, but explicit: the hot path must stay
    # inside generated JVM code, not Python).
    "spark.sql.codegen.wholeStage": "true",
}


@contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set ``key`` to ``value`` for the block, then restore the previous
    value — or unset the key if the session had not set it."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily set ``spark.sql.shuffle.partitions``, restoring the
    previous value on exit (no-op when ``n`` is None).

    Two classes of work want a reducer count sized to their DATA rather
    than to the session default (which is sized to the cluster):

    - **Streaming state stores**: a stateful operator keeps one state-store
      instance per shuffle partition and pays a per-instance open/commit
      every micro-batch — fixed I/O independent of state size.
    - **Iterative ML fits**: every iteration re-runs the stage DAG, so a
      kilobyte-scale training frame shuffled into ``default`` partitions
      pays ``default × iterations`` task launches for work that fits in a
      handful of tasks.

    AQE's partition coalescing solves this for one-shot batch SQL but
    cannot help a streaming query (state partitioning is pinned at first
    start) or an ``ml`` estimator's internal RDD jobs. Affects only
    parallelism, never results. Lazy plans built inside the scope but
    EXECUTED after it use the restored session value — callers must keep
    eager work (fits, ``start()``/``awaitTermination``) inside the scope.
    """
    if n is None:
        yield
        return
    with _scoped_conf(spark, "spark.sql.shuffle.partitions", str(n)):
        yield


def persisted(df: DataFrame) -> DataFrame:
    """Persist ``df`` at Spark's Dataset default level (memory, spilling to
    disk) and return it. The caller owns the release: use this only where
    the cached frame outlives the function; everywhere else use
    :func:`materialized`.

    Cached-plan coalescing is on for this one ``persist()``: Spark builds
    the cached plan at the call, and by default pins it to the raw
    ``spark.sql.shuffle.partitions`` count, so a kilobyte-scale frame
    (dedup fingerprints, ML features, curation tiers) would be stored — and
    re-read by every consumer — as that many near-empty blocks. With
    coalescing AQE sizes the cached partitions like any other stage.
    Partitioning only, never results; the session conf is restored on
    return, so caches the package does not create keep Spark's default.
    """
    with _scoped_conf(
        df.sparkSession,
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true",
    ):
        return df.persist()


@contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame]:
    """Yield ``df`` :func:`persisted` for the block and unpersist it on
    exit, also when the block raises.

    A frame that is already cached (by the caller, or through an equal
    plan) is yielded unchanged and not released: its owner releases it.
    A lazy result built inside the block that still reads the cache must
    be computed inside it too (``localCheckpoint(eager=True)``, a collect,
    a write or a fit) — after the block it would recompute from source.
    """
    if df.storageLevel != StorageLevel.NONE:
        yield df
        return
    cached = persisted(df)
    try:
        yield cached
    finally:
        cached.unpersist()


def get_spark(
    app_name: str = "datawarehousefinal_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so tests and bench share one code path. ``shuffle_partitions``
    defaults to the core count locally; on a cluster you would size it to
    ~2-3× total executor cores (or rely on AQE coalescing, which is on).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Local mode: one big JVM; give the driver room for 32 concurrent tasks.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
