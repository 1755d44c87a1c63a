"""SparkSession construction with scale-oriented defaults.

The reference engine hand-rolled its control plane (MPI jobtracker,
pthread pools, sentinel termination — /root/reference/mapreduce.cc:42-205).
Spark's driver/executor model replaces all of it; what remains our job is
*configuration*: AQE, sensible shuffle parallelism, Arrow for the few
Python-side operators, and a UTC session timezone so event-time semantics
are reproducible anywhere.

Tested locally on ``local[N]``; the same builder works unchanged on a
cluster because nothing here assumes a single JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable session confs applied even when the caller (e.g. the
# verification driver) hands us an already-built SparkSession.
RUNTIME_CONFS: dict[str, str] = {
    # Event-time math (window/date_trunc/year) must be timezone-stable.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    # At 100 TB, static shuffle partitioning is always wrong for some
    # stage; AQE re-plans from actual map-output sizes.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the output partitioning of persisted plans too
    # (off by default). Every iterative operator here (pagerank,
    # connected components, k-means) and every persisted intermediate
    # (tf table, LSH buckets) re-scans its cache once per round — at a
    # 64-MB advisory size the cache collapses to a handful of
    # right-sized partitions instead of one tiny task per original
    # shuffle partition. Results stay partition-count-independent by
    # the engine's decimal-routing convention (oracles.py), so this is
    # purely a task-count knob.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for the (rare, declared) pandas-UDF operators.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet TIMESTAMP(NANOS) (events.ts) is read as long nanos and
    # converted to a microsecond timestamp in the loader (catalog.py) —
    # the same ns→us truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate adds `size(arr) > 0 AND isnotnull(arr)`
    # under every inner explode; PushDownPredicates then substitutes the
    # generator input's FULL defining expression into that filter and
    # pushes it through projections and exchanges to the scan. For
    # derived arrays (word shingles, tokenizations) the expensive
    # expression is thereby evaluated 3x — twice of those in the
    # pre-repartition scan stage, i.e. at the file layout's parallelism
    # (often 1 task). Measured on the novelty family at sf0.1: explode
    # of the shingle table went 4.5 s -> 0.35 s with the rule excluded.
    # The inferred filter is a pure row-skipping optimization (inner
    # explode drops empty/null arrays anyway), so excluding it never
    # changes results; our generator inputs are non-empty by
    # construction, so nothing is lost.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    # Parquet timestamps without isAdjustedToUTC read as TIMESTAMP (LTZ),
    # not TIMESTAMP_NTZ. With the UTC session timezone above the two are
    # numerically identical, but the engine's event-time operators use
    # unix_micros()/RANGE frames, which require the LTZ type; the
    # testdata's ts column has shipped as both int64-nanos and
    # timestamp[us], and this pins one read type for both layouts.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def stream_state_partitions() -> int:
    """Shuffle-partition count for STREAMING micro-batch drains — i.e.
    the state-store instance count (it is pinned into the checkpoint at
    first batch and every stateful stage runs exactly this many tasks
    per micro-batch; AQE never applies to stateful streaming, so unlike
    batch stages nothing coalesces this at runtime).

    Default: one wave, ``min(default_parallelism(), 8)``. Each instance
    costs a task launch plus a state-store commit (delta file + fsync)
    per stateful stage per micro-batch. With more instances than cores
    every stateful stage runs in two or more waves, and those waves'
    commits queue behind each other without adding any parallelism.
    The cap of 8 keeps a many-core host from paying one commit per core
    for the contract fixtures' O(10²–10³) keys. Measured on a 4-core
    host (medians of five benchmark runs), stream_dedup's four
    micro-batches took 2.09 s at 8 partitions and 1.49 s at 4.
    Production streams size this to throughput × state volume through
    ``SPARK_GRAFT_STREAM_PARTS``; the checkpoint pins whatever value
    the job started with.
    """
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTS")
    return int(env) if env else min(default_parallelism(), 8)


_CONFS_APPLIED: "weakref.WeakSet" = None  # type: ignore[assignment]


def apply_runtime_confs(spark: SparkSession, force: bool = False) -> SparkSession:
    """Apply runtime-settable confs to an externally-built session.

    Idempotent per session and memoized (weak set): the driver contract
    wraps EVERY query builder with this call, so a bench/gate run pays
    len(RUNTIME_CONFS) py4j round-trips per query build otherwise.
    Nothing in the engine mutates these confs after application (the
    streaming drain helper overrides only shuffle.partitions and
    restores it), so first-application semantics are identical.

    CONTRACT CHANGE vs pre-r13 (ADVICE r13 #4): the memo means an
    external caller that mutates a RUNTIME_CONFS key mid-session is no
    longer self-healed on the next query build. Callers that need the
    old always-reapply behavior pass ``force=True``."""
    global _CONFS_APPLIED
    if _CONFS_APPLIED is None:
        import weakref

        _CONFS_APPLIED = weakref.WeakSet()
    if not force and spark in _CONFS_APPLIED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic deployments; best-effort.
            pass
    _CONFS_APPLIED.add(spark)
    return spark


def get_spark(app_name: str = "cs422pp_mapreduce_spark") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]``; shuffle partitions are
    sized to the local core count. On a real cluster these two settings
    are deployment-time choices (spark-submit conf), not code.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # One shuffle partition per core locally; AQE coalesces further.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Keep parquet scans splittable into right-sized tasks.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


from contextlib import contextmanager


@contextmanager
def driver_paced_build_conf(spark: SparkSession):
    """Disable AQE for a bounded driver-paced build sequence (Lloyd
    fit collects, the suffix ladder's eager checkpoints), restoring
    the session value after — the stream_drain_conf pattern.

    Under AQE every exchange of every bounded collect/materialization
    becomes its own stage-materialization job so the plan can be
    re-optimized from map stats; these build sequences run dozens of
    TINY driver-paced queries over persisted inputs whose plans carry
    nothing AQE can improve (explicit partition counts or broadcast
    hints, kilobyte aggregates), so the extra jobs are pure driver
    pacing — measured 66 → 16 jobs on the dedup_suffix ladder at
    sf0.1 (r14). Queries planned OUTSIDE the context (the returned
    lazy frames forced by the harness) still plan under AQE."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


# --- scratch-persist registry (ADVICE r10) ----------------------------------
# Queries that persist branch-shared intermediates (containment's
# inverted index, the recall report's scored pass) return a LAZY
# DataFrame, so there is no natural in-query point to unpersist. The
# harness protocol (bench.py / tools/spot_tier.py per-query isolation)
# already calls clearCache(); this registry gives NON-harness callers
# the same explicit hook the index memos have (evict_index_caches /
# evict_cluster_cache): long-lived sessions call evict_scratch(spark)
# between queries, otherwise MEMORY_AND_DISK blocks accumulate until
# spark.catalog.clearCache().
# The bucket stores the py4j Dataset handles (df._jdf), NOT the Python
# DataFrame wrappers: a wrapper references .sparkSession, so a bucket
# of DataFrames would keep the session strongly reachable from this
# module-level dict and the weakref.finalize below could never fire
# (ADVICE r11). The JVM handle is all unpersist() needs, and it does
# not reference the Python session, so a dropped session becomes
# weakly reachable and the finalizer prunes its registry entry.
_SCRATCH: dict[int, list] = {}


def scratch_persist(df, level=None):
    """persist(MEMORY_AND_DISK) + register for evict_scratch."""
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    out = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    bucket = _SCRATCH.setdefault(id(spark), [])
    bucket.append(out._jdf)
    if len(bucket) == 1:
        import weakref

        weakref.finalize(spark, _SCRATCH.pop, id(spark), None)
    return out


def local_frame(spark: SparkSession, rows, schema: str):
    """A small driver-built frame (result rows, broadcast dimension
    tables, index metadata) from Python tuples and a DDL schema.

    Goes through an Arrow table, which Spark keeps in the plan as a
    ``LocalRelation``, so the frame plans as a bare ``LocalTableScan``.
    ``createDataFrame(list)`` instead parallelizes the rows into an RDD
    scan that every force (and every broadcast) runs as tasks: forcing
    a 2-row result took 0.29 s that way and 0.04 s from Arrow on a
    4-core host. Arrow carries doubles, longs and arrays bit-for-bit,
    and the schema is parsed as ``createDataFrame(list, schema)``
    parses it (all fields nullable), so results are unchanged. Every
    row must hold one value per field."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows, strict=True)) if rows else [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow, strict=True)],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def evict_scratch(spark: SparkSession) -> None:
    """Unpersist every scratch frame this session registered."""
    for jdf in _SCRATCH.pop(id(spark), []):
        try:
            jdf.unpersist(False)
        except Exception:  # noqa: BLE001 — already-stopped session/JVM
            pass
