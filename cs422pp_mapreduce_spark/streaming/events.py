"""Structured Streaming event-time pipeline.

The batch operators in operators/events.py are written against
event-time semantics precisely so these streaming forms are the *same
expressions* behind ``readStream`` — the Spark unification the
reference's hard two-phase barrier (/root/reference/mapreduce.cc:200)
has no analog for.

Design:
- sources: file-stream over a parquet directory (tests feed it by
  copying files in), schema from the catalog;
- watermarks bound state: late events beyond the watermark are dropped,
  which is what makes unbounded streams runnable in bounded memory at
  scale;
- tumbling/sliding = ``F.window`` groupBy aggregation (incremental,
  partial aggregation per micro-batch);
- sessions = ``F.session_window`` (state merges windows within gap);
- sinks: append/update to memory (tests) or any ``writeStream`` target.

The ``value`` sums here stay plain doubles: streaming state updates are
sequential per window, and the oracle story for streams is the batch
twin (tests assert stream result == batch result on the same data).
"""

from __future__ import annotations

import itertools
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numeric import exact_sum
from ..session import local_frame, stream_state_partitions
from ..sources.catalog import TABLE_SCHEMAS, table_path


@contextmanager
def stream_drain_conf(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to the streaming
    state-partition count for the duration of a micro-batch drain, then
    restore the batch setting.

    Stateful streaming fixes its state-store instance count from this
    conf at the first batch and AQE never coalesces streaming stages,
    so a session's batch setting (Spark's default is 200) would make
    EVERY stateful stage of EVERY micro-batch run that many tasks and
    state-store commits, in waves — pure fixed cost at contract-fixture
    state sizes (see session.stream_state_partitions). Results are
    partition-count independent by the engine's conventions
    (decimal-routed sums, per-key sequential state), which the oracle
    gate re-verifies.

    The conf is session-scoped, so a drain temporarily narrows batch
    queries planned concurrently on OTHER threads — harmless for
    results (AQE re-splits batch stages) and the harness protocol runs
    queries sequentially anyway."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(stream_state_partitions()))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based event stream with the catalog's events schema.

    NOTE: expects microsecond-timestamp parquet (the engine's internal
    event format); the driver's ns-timestamp testdata is converted by
    tests before feeding (Spark streams don't read TIMESTAMP(NANOS)).
    """
    return (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_tumbling_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """1-hour tumbling count+sum per event_type with watermarked state —
    the streaming twin of operators.events.q_event_tumbling."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows with state — streaming twin of
    operators.events.q_event_session_native."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def run_stream_foreach_batch(
    stream_df: DataFrame, batch_fn, checkpoint_dir: str | None = None
) -> "object":
    """Drive a streaming DataFrame through a ``foreachBatch`` sink until
    all available input is processed.

    ``foreachBatch`` is the escape hatch for sinks Structured Streaming
    lacks natively (JDBC upserts, multi-table fan-out, MERGE INTO):
    ``batch_fn(batch_df, batch_id)`` receives each micro-batch as a
    BATCH DataFrame, so every batch writer in sources/sinks.py works
    unchanged inside it. Exactly-once comes from the (batch_id,
    checkpoint) pair: a restarted query re-offers the same batch_id, so
    idempotent writers (overwrite-by-batch-partition, MERGE on key)
    upgrade at-least-once delivery to effectively-once."""
    writer = stream_df.writeStream.foreachBatch(batch_fn).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with stream_drain_conf(stream_df.sparkSession):
        q = writer.start()
        q.awaitTermination()
    return q


_MEMSINK_SEQ = itertools.count()
# per-invocation src-dir suffix for stage_event_files (see its
# docstring: shared src dirs race concurrent file-source streams)
_STAGE_SRC_SEQ = itertools.count()


def read_event_stream_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the catalog's events parquet, robust to the
    fixture's physical ``ts`` layout (it has flipped between
    TIMESTAMP(NANOS)-as-int64 and timestamp[us] across fixture
    regenerations — see sources/catalog.load_table, which pins the
    same two layouts for batch scans). The layout probe reads only the
    parquet footer via pyarrow — no Spark job."""
    import pyarrow.parquet as pq

    phys = pq.read_schema(table_path(sf_dir, "events")).field("ts").type
    nanos = str(phys).startswith(("int64", "timestamp[ns"))
    if nanos:
        fields = [
            T.StructField("ts", T.LongType()) if f.name == "ts" else f
            for f in TABLE_SCHEMAS["events"].fields
        ]
        schema = T.StructType(fields)
    else:
        schema = TABLE_SCHEMAS["events"]
    # File-stream sources require a DIRECTORY basePath; the fixture is
    # one file per table in sf_dir, so stream the dir with a glob
    # filter selecting only the events file.
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if nanos:
        # integer div: epoch-nanos exceed double's 2^53 exact range
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def _tumbling_agg(ev: DataFrame) -> DataFrame:
    """The shared watermark → 1-hour tumbling window → count/exact-sum
    aggregation over an event stream (used by the contract query, the
    analysis-only plan builder, and the checkpoint-recovery query)."""
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _sliding_agg(ev: DataFrame) -> DataFrame:
    """Watermark → 1-hour windows sliding every 30 minutes (each event
    lands in exactly 2 windows) → count/exact-sum. The streaming twin
    of q_event_sliding: same window expression, same decimal-routed
    sum, so complete-mode end-of-stream output equals the batch result
    exactly and the DuckDB oracle is SHARED with event_sliding."""
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"), "n_events", "sum_value"
        )
    )


def stream_sliding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started streaming sliding-window aggregation behind
    q_stream_sliding (see stream_event_tumbling_plan for why)."""
    return _sliding_agg(read_event_stream_auto(spark, sf_dir))


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract streaming query: sliding (overlapping) windowed
    aggregation through Structured Streaming — each event contributes
    to 2 window states — drained with availableNow into a complete-mode
    memory sink. Overlapping-window state is the one windowing shape
    the tumbling/session contracts don't cover; scale posture is the
    incremental form (per-micro-batch partials into windowed state,
    shuffle O(windows), watermark bounds state size)."""
    return _drain_to_memory(
        stream_sliding_plan(spark, sf_dir), "stream_sliding"
    )


def stream_event_tumbling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-STARTED streaming aggregation behind
    q_stream_event_tumbling: readStream → watermark → 1-hour tumbling
    window per event_type. Exposed separately so analysis-only tooling
    (tools/audit_plans.py, tools/sweep_dtypes.py) can inspect the REAL
    streaming plan/schema without running a streaming job — the
    contract query's returned memory-sink table would otherwise hide
    the aggregation plan behind a trivial in-memory scan."""
    return _tumbling_agg(read_event_stream_auto(spark, sf_dir))


def _drain_to_memory(
    agg: DataFrame,
    prefix: str,
    checkpoint_dir: str | None = None,
    output_mode: str = "complete",
) -> DataFrame:
    name = f"{prefix}_{next(_MEMSINK_SEQ)}"
    writer = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with stream_drain_conf(agg.sparkSession):
        q = writer.start()
        q.awaitTermination()
    return agg.sparkSession.table(name)


def staged_slice_parts(
    spark: SparkSession, sf_dir: str, n_files: int, by: str = "time"
) -> list[str]:
    """Session-memoized deterministic slices of the events table:
    built ONCE per (application, sf_dir, n_files, by) and returned as
    n parquet file paths in slice order. ``by='time'``: equal-size
    event-time slices (ntile over (ts, event_id) — the ingestion-
    directory convention); ``by='hash'``: event_id % n.

    The slices are pure functions of the fixture, so reusing them is
    semantics-free for the streaming contract queries — what those
    queries verify is the LANDING/RESTART sequence over per-call
    source/checkpoint dirs, not the slicing. Memoizing here removes
    the per-invocation global sort + n writes that dominated
    stream_foreach_upsert/stream_event_recovery's fixed cost (a
    r06 bench finding: 13 s/invocation at sf0.1, most of it
    re-slicing identical input)."""
    import os

    from ..sources.catalog import load_table
    from ..sources.staging import session_staging_dir, sf_tag, tag_lock

    tag = f"slices_{by}_{sf_tag(sf_dir)}_{n_files}"
    base = session_staging_dir(spark, tag)
    marker = os.path.join(base, "_COMPLETE")

    def _paths() -> list[str]:
        out = []
        for i in range(1, n_files + 1):
            d = os.path.join(base, f"s{i}")
            f = next(n for n in os.listdir(d) if n.endswith(".parquet"))
            out.append(os.path.join(d, f))
        return out

    # check-marker + build is serialized per tag: two concurrent
    # first-callers must not race interleaved overwrite writes into
    # the same slice parts (ADVICE r06)
    with tag_lock(spark, tag):
        if os.path.isfile(marker):
            return _paths()

        ev = load_table(spark, sf_dir, "events")
        if by == "time":
            from pyspark.sql.window import Window

            sliced = ev.withColumn(
                "_slice",
                F.ntile(n_files).over(Window.orderBy("ts", "event_id")),
            )
            for i in range(1, n_files + 1):
                sliced.where(F.col("_slice") == i).drop("_slice").coalesce(
                    1
                ).write.mode("overwrite").parquet(os.path.join(base, f"s{i}"))
        else:
            for i in range(1, n_files + 1):
                ev.where(F.col("event_id") % n_files == i - 1).coalesce(
                    1
                ).write.mode("overwrite").parquet(os.path.join(base, f"s{i}"))
        with open(marker, "w") as fh:
            fh.write("ok")
        return _paths()


def stage_event_files(
    spark: SparkSession, sf_dir: str, n_files: int = 2
) -> str:
    """Stage the catalog's events table as ``n_files`` TIME-ORDERED
    parquet files in a fresh temp directory, for feeding file-stream
    contract queries as a multi-micro-batch sequence.

    Files are split on event-time quantiles (file k holds the k-th time
    slice) and stamped with increasing mtimes so the file-stream source
    (which orders new files by modification time) processes them in
    event-time order — the arrival pattern of a real ingestion
    directory, where landing order tracks event time. Splitting on a
    time column rather than a hash keeps cross-batch watermark
    semantics honest: each batch's data is newer than the last.

    The staging BASE dir is SESSION-SCOPED per (sf_dir, n_files) —
    amortized across gate/bench/pytest runs instead of leaking one
    temp dir per invocation (ADVICE r05) — but each invocation gets
    its OWN src/ subdir (ADVICE r06): a shared src/ that is rmtree'd
    per call would delete slice files out from under a concurrent
    invocation's still-running file-source stream, and callers that
    add extras after staging (stream_dedup's redelivered copies) must
    never leak them into another invocation's stream. Only the
    memoized slice parquet files are shared; per-call cost is n file
    copies + mtime stamps."""
    import os
    import shutil
    import time as _time

    from ..sources.staging import session_staging_dir, sf_tag

    base = session_staging_dir(
        spark, f"stream_stage_{sf_tag(sf_dir)}_{n_files}"
    )
    src = os.path.join(base, f"src{next(_STAGE_SRC_SEQ)}")
    os.makedirs(src)

    # slices are session-memoized (pure function of the fixture);
    # per-call work is n file copies + mtime stamps only
    slice_files = staged_slice_parts(spark, sf_dir, n_files, by="time")
    now = _time.time()
    for i, part in enumerate(slice_files, start=1):
        dst = os.path.join(src, f"slice{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now + i * 10, now + i * 10))
    return src


def read_staged_event_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File stream over a ``stage_event_files`` directory (the staged
    files are Spark-written, so the catalog schema applies directly —
    no ns-layout probe needed). ``max_files_per_trigger`` sizes the
    micro-batch: watermark-sensitive contracts (late_audit) and the
    restart sequences keep 1 file per batch; the NoTimeout stateful
    recurrences may batch wider (see their contract notes)."""
    return (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src)
    )


def q_stream_event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract streaming query: the q_event_tumbling aggregation
    computed THROUGH Structured Streaming — readStream file source →
    watermarked 1-hour tumbling window per event_type → complete-mode
    memory sink, driven to completion with availableNow — then returned
    as the sink's batch DataFrame.

    Deterministic by construction: complete mode re-emits the full
    aggregate at the last trigger, so end-of-stream output equals the
    batch twin exactly (same window expression, same decimal-routed
    value sum ⇒ accumulation-order-independent), and the DuckDB oracle
    is the SAME SQL as event_tumbling's. This puts a hash-verified
    driver row on the streaming code path (readStream → watermark →
    windowed state → availableNow drain), which the pytest-only
    streaming twins didn't have (VERDICT r03 ask #6).

    Scale: the plan is the incremental form — per-micro-batch partial
    aggregation into windowed state, shuffle O(windows × groups). The
    memory sink is test-harness plumbing; production writes the same
    stream to any writeStream target (sinks.py foreachBatch bridge)."""
    return _drain_to_memory(
        stream_event_tumbling_plan(spark, sf_dir), "stream_event_tumbling"
    )


def stream_event_session_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-started streaming session aggregation behind
    q_stream_event_session (see stream_event_tumbling_plan for why)."""
    ev = read_event_stream_auto(spark, sf_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", 2, "sum_value"),
        )
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value"
        )
    )


def q_stream_event_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract streaming SESSION query: per-user 30-minute-gap
    session windows computed through Structured Streaming's merging
    session state (readStream → watermark → session_window → complete-
    mode memory sink, availableNow) — the stateful-window twin of
    q_stream_event_tumbling's tumbling case, mirroring
    operators.events.q_event_session_native column-for-column so the
    oracle is event_session's SQL.

    session_window state MERGES (a new event can bridge two open
    sessions); complete mode re-emits the converged session set at the
    last trigger, so end-of-stream output equals the batch aggregation
    exactly — including the decimal-routed value sums (accumulation-
    order-independent). Hash-verified driver row on the session-state
    code path."""
    return _drain_to_memory(
        stream_event_session_plan(spark, sf_dir), "stream_event_session"
    )


def q_stream_event_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-recovery contract query (VERDICT r04 ask #2): the
    tumbling aggregation run as TWO separate streaming queries against
    the SAME checkpoint — start, drain half the input, STOP (the
    planned-kill analog: availableNow processes only what exists, then
    shuts the query down), land the other half while no query is
    running, restart, drain, return the final complete-mode state.

    What this pins, hash-verified against event_tumbling's batch
    oracle: the restarted query recovers windowed state + source
    offsets from the checkpoint (offset log → no file replayed, state
    store → no count lost), so end-of-stream output equals the batch
    aggregate over ALL events exactly — the exactly-once restart
    semantics that pytest exercised (tests/test_streaming_recovery.py)
    but no driver row did.

    Determinism: the input halves are fixed slices (event_id % 4), the
    aggregation is the decimal-routed tumbling window (accumulation-
    order-independent), and complete mode re-emits converged state at
    the final trigger. Temp source/checkpoint dirs are per-call (this
    query IS the restart sequence; memoizing THOSE would skip the
    thing being verified) — but the slices themselves are a pure
    function of the fixture and come from the session-memoized
    staged_slice_parts, so repeat invocations pay file copies, not a
    re-slicing job. At scale this is the operational contract that
    matters most: a 1000-executor streaming job WILL be restarted —
    deploys, spot loss — and correctness across that boundary is what
    the checkpoint buys."""
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="stream_recovery_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src)

    parts = staged_slice_parts(spark, sf_dir, 4, by="hash")

    def land(i: int) -> None:
        shutil.copy(parts[i], os.path.join(src, f"s{i}.parquet"))

    def agg() -> DataFrame:
        raw = (
            spark.readStream.schema(TABLE_SCHEMAS["events"])
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return _tumbling_agg(raw)

    # phase 1: half the input, run to completion, query stops
    land(0)
    land(1)
    _drain_to_memory(agg(), "stream_recovery_phase1", checkpoint_dir=ckpt)
    # the rest lands while NO query is running
    land(2)
    land(3)
    # phase 2: a NEW query on the same checkpoint resumes exactly
    return _drain_to_memory(
        agg(), "stream_event_recovery", checkpoint_dir=ckpt
    )


def table_versions(tdir: str) -> list[int]:
    """Sorted batch-id versions present in a versioned-table dir."""
    import os

    return sorted(
        int(n.split("v")[1]) for n in os.listdir(tdir) if n.startswith("v")
    )


def upsert_versioned(
    tdir: str, batch: DataFrame, batch_id: int, key: str
) -> None:
    """The idempotent foreachBatch apply: merge ``batch`` into the
    newest table version OLDER than ``batch_id`` and overwrite version
    ``batch_id``. A replayed batch (restart after an uncommitted epoch)
    recomputes from the same predecessor and overwrites its own
    version — applying nothing twice. This is the batch-id-keyed
    transaction the Delta/Iceberg MERGE sinks implement; replay
    idempotency is pinned in tests/test_streaming_recovery.py.

    Empty micro-batches (availableNow's trailing no-data batch fires
    foreachBatch with zero rows) are SKIPPED outright — merging an
    empty changeset writes a byte-identical new version, i.e. a full
    read-prev + join + write per no-data batch for nothing (measured
    ~2.5-3 s each at sf0.1); production MERGE sinks short-circuit the
    same way. The persist prepays the batch plan's one execution for
    the emptiness probe, so a non-empty apply runs the micro-batch
    plan exactly once, as before. Version numbering simply skips the
    empty batch_id; a replay still finds its true predecessor."""
    import os

    from ..operators.maintenance import merge_upsert

    sess = batch.sparkSession
    batch = batch.persist()
    try:
        if batch.isEmpty():
            return
        prev = [v for v in table_versions(tdir) if v < batch_id]
        if prev:
            # explicit schema: the versioned sink wrote this batch
            # schema, re-decoding the footer per apply is pure cost
            tgt = sess.read.schema(batch.schema).parquet(
                os.path.join(tdir, f"v{prev[-1]}")
            )
            merged = merge_upsert(tgt, batch, key)
        else:
            merged = batch
        merged.write.mode("overwrite").parquet(
            os.path.join(tdir, f"v{batch_id}")
        )
    finally:
        batch.unpersist()


def q_stream_foreach_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch EXACTLY-ONCE sink contract (VERDICT r05 #7): the
    tumbling aggregation streamed in UPDATE mode through foreachBatch
    into an idempotent MERGE-style table sink, killed and restarted
    mid-stream — the streaming→maintenance integration: Structured
    Streaming's sink guarantee is only at-least-once for foreachBatch,
    and the published recipe for effective exactly-once is an
    IDEMPOTENT batch apply keyed by (batch_id, merge key), which is
    exactly what this builds from the engine's own merge_upsert.

    Per micro-batch: the update-mode rows (changed window aggregates)
    are merged into the previous table VERSION via merge_upsert
    (source wins on key collision) and written to a version dir named
    by batch_id — a replayed batch (restart after an uncommitted
    epoch) recomputes FROM THE SAME predecessor and overwrites ITS OWN
    version, applying nothing twice; a Delta/Iceberg MERGE sink keys
    its transaction log the same way. The restart machinery is
    q_stream_event_recovery's: drain half the slices, stop, land the
    rest while nothing runs, resume from the checkpoint with a NEW
    query. The returned frame is the final table version — hash-
    verified equal to the BATCH aggregate over all events, proving no
    lost and no double-applied update across the restart boundary.

    Update mode matters: unlike the recovery query's complete-mode
    re-emission, each trigger emits only changed keys, so the final
    table is correct ONLY if every merge applied exactly once — which
    is the property under test. Source/checkpoint/target dirs are
    per-call by design (the restart sequence IS the query); the
    TIME-ORDERED slices (update mode honors the watermark, so arrival
    order must track event time — the complete-mode recovery query
    could slice arbitrarily, this one cannot) are the session-memoized
    staged_slice_parts, so repeat invocations pay file copies, not a
    re-slicing job."""
    import os
    import shutil
    import tempfile
    import time as _time

    base = tempfile.mkdtemp(prefix="stream_upsert_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    tdir = os.path.join(base, "target")
    os.makedirs(src)
    os.makedirs(tdir)

    parts = staged_slice_parts(spark, sf_dir, 4, by="time")
    _t0 = _time.time()

    def land(i: int) -> None:
        dst = os.path.join(src, f"s{i}.parquet")
        shutil.copy(parts[i], dst)
        # monotone mtimes: the file source orders new files by mtime,
        # and slice order IS event-time order here
        os.utime(dst, (_t0 + i * 10, _t0 + i * 10))

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.withColumn(
            "k",
            F.concat_ws(
                "|", F.col("win_start").cast("string"), "event_type"
            ),
        )
        upsert_versioned(tdir, batch, batch_id, "k")

    def run_query() -> None:
        raw = (
            spark.readStream.schema(TABLE_SCHEMAS["events"])
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        with stream_drain_conf(spark):
            q = (
                _tumbling_agg(raw)
                .writeStream.foreachBatch(apply_batch)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # phase 1: half the input, run to completion, query stops
    land(0)
    land(1)
    run_query()
    # the rest lands while NO query is running
    land(2)
    land(3)
    # phase 2: a NEW query on the same checkpoint resumes exactly
    run_query()

    versions = table_versions(tdir)
    if not versions:
        # Every micro-batch was empty (possible only on an empty/
        # filtered events fixture): the empty-batch skip then writes no
        # versions at all, where pre-r13 an empty v0 landed. Return the
        # same empty result with the output schema (ADVICE r13 #2).
        return local_frame(
            spark,
            [],
            "win_start timestamp, event_type string, "
            "n_events long, sum_value double",
        )
    final = spark.read.parquet(os.path.join(tdir, f"v{versions[-1]}"))
    return final.select("win_start", "event_type", "n_events", "sum_value")


# name → un-started plan builder, for analysis-only tooling: executing
# the q_stream_* contract queries runs a real streaming job AND hides
# the aggregation plan behind the memory-sink scan; tools analyze these
# instead.
def _wave3_plan_builders() -> dict:
    # late imports: dedup/joins/stateful import helpers from this
    # module at call time, so a top-level import here would be a cycle
    from .dedup import stream_dedup_plan
    from .joins import stream_enrich_plan, stream_interval_join_plan
    from .stateful import (
        stream_cusum_plan,
        stream_ewma_plan,
        stream_profile_plan,
        stream_twap_plan,
    )
    from .wordcount import stream_wordcount_plan

    return {
        "stream_dedup": stream_dedup_plan,
        "stream_interval_join": stream_interval_join_plan,
        "stream_profile": stream_profile_plan,
        "stream_ewma": stream_ewma_plan,
        "stream_twap": stream_twap_plan,
        "stream_cusum": stream_cusum_plan,
        "stream_wordcount": stream_wordcount_plan,
        "stream_enrich": stream_enrich_plan,
    }


STREAM_PLAN_BUILDERS = {
    "stream_event_tumbling": stream_event_tumbling_plan,
    "stream_event_session": stream_event_session_plan,
    "stream_sliding": stream_sliding_plan,
    # the recovery query's aggregation plan IS the tumbling plan (same
    # _tumbling_agg over a file stream); mapping it here keeps the
    # analysis tools from executing the whole kill-and-restart sequence
    "stream_event_recovery": stream_event_tumbling_plan,
    # same plan under the foreachBatch upsert sink — mapping it here
    # keeps the analysis tools from executing the restart sequence
    "stream_foreach_upsert": stream_event_tumbling_plan,
    **_wave3_plan_builders(),
}


def run_stream_to_memory(
    stream_df: DataFrame, table_name: str, mode: str = "append"
) -> "object":
    """Drive a streaming DataFrame into an in-memory sink until all
    available input is processed (test/demo harness). Returns the
    stopped query; read results from ``spark.table(table_name)``."""
    with stream_drain_conf(stream_df.sparkSession):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


# Planted-late event_ids live above this offset; everything below is a
# genuine fixture row. Shared by the Spark side, the analysis twin,
# and the DuckDB oracle.
LATE_PLANT_OFFSET = 1_000_000_000
# Single source of truth for the late-audit watermark delay: the
# stream's withWatermark string, the report's finalized-window cutoff,
# and the DuckDB oracle's INTERVAL all derive from this one integer
# (ADVICE r11 — three hardcoded copies meant changing any one alone
# silently broke the hash contract).
LATE_AUDIT_WM_HOURS = 2
LATE_AUDIT_WM = f"{LATE_AUDIT_WM_HOURS} hours"


def _late_audit_report(
    allr: DataFrame, sink_on_time: DataFrame | None
) -> DataFrame:
    """The audit join: batch truth over ``allr`` (genuine + planted
    rows), restricted to the windows the stream FINALIZED (window end
    <= final watermark = max ts − delay; the cutoff never lands
    exactly on an hour boundary on any fixture — pinned in
    tests/test_round11_ops.py — so the <=-vs-< emission edge cannot
    bite), left-joined with the streaming sink's on-time aggregates.
    With ``sink_on_time=None`` (the analysis twin) the on-time side is
    the batch conditional aggregate instead — same schema, same plan
    shape, zero build-time jobs."""
    wm = allr.agg(
        (
            F.max("ts")
            - F.expr(f"INTERVAL {LATE_AUDIT_WM_HOURS} HOURS")
        ).alias("w")
    )
    truth = (
        allr.groupBy(
            F.date_trunc("hour", "ts").alias("win_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("total_n"),
            F.count(
                F.when(F.col("event_id") < LATE_PLANT_OFFSET, 1)
            ).alias("batch_on_time_n"),
            exact_sum(
                F.when(
                    F.col("event_id") < LATE_PLANT_OFFSET, F.col("value")
                ),
                2,
                "batch_on_time_sum",
            ),
        )
        .join(F.broadcast(wm))  # 1-row watermark broadcast (declared)
        .where(F.col("win_start") + F.expr("INTERVAL 1 HOUR") <= F.col("w"))
        .drop("w")
    )
    if sink_on_time is None:
        on_time = truth.select(
            "win_start",
            "event_type",
            F.col("batch_on_time_n").alias("on_time_n"),
            F.col("batch_on_time_sum").alias("on_time_sum"),
        )
    else:
        on_time = sink_on_time
    return (
        truth.drop("batch_on_time_n", "batch_on_time_sum")
        .join(on_time, ["win_start", "event_type"], "left")
        .select(
            "win_start",
            "event_type",
            F.coalesce("on_time_n", F.lit(0)).cast("long").alias(
                "on_time_n"
            ),
            (F.col("total_n") - F.coalesce("on_time_n", F.lit(0)))
            .cast("long")
            .alias("dropped_n"),
            (F.round(F.coalesce("on_time_sum", F.lit(0.0)), 2) + 0.0).alias(
                "on_time_sum"
            ),
        )
    )


def stream_late_audit_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analysis twin of q_stream_late_audit: the identical audit
    report computed fully lazily from the catalog table (the plant is
    a 1-row min-ts broadcast filter instead of a staged file; the
    on-time side is the batch conditional aggregate instead of the
    memory sink). Exact output schema; representative distributed
    plan; no build-time jobs."""
    from ..sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    lo = ev.agg(F.min("ts").alias("lo"))
    plant = (
        ev.join(F.broadcast(lo))
        .where(F.col("ts") < F.col("lo") + F.expr("INTERVAL 1 HOUR"))
        .drop("lo")
        .withColumn(
            "event_id", F.col("event_id") + F.lit(LATE_PLANT_OFFSET)
        )
    )
    return _late_audit_report(ev.unionByName(plant), None)


def q_stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LATE-DATA ACCOUNTING contract (VERDICT r10 ask #6):
    every other streaming row verifies the happy path — this one pins
    what the watermark DROPS.

    Arrival sequence: the events table staged as 3 time-ordered
    micro-batch files, then a 4th PLANTED file landed last containing
    a copy of every first-hour event (event_id offset by
    LATE_PLANT_OFFSET). By the time it arrives the watermark sits at
    max(ts) − 2 h ≈ 29 days past those events' windows, so the
    watermarked 1-hour tumbling aggregation MUST drop all of them —
    while the time-ordered genuine slices are never late (each batch's
    min ts ≥ the prior batch's max, so a genuine row is always ahead
    of the watermark).

    Sink = the append-mode finalized (window, event_type) on-time
    aggregates; the returned report joins them against the batch truth
    over everything staged (genuine + planted), restricted to the
    finalized windows (end ≤ final watermark): on_time_n must equal
    the genuine-only counts and dropped_n the planted counts — the
    DuckDB oracle replays exactly that arithmetic, so a Spark that
    failed to drop (or over-dropped) hash-mismatches. Deterministic by
    construction: slice boundaries are ntile-fixed, the planted set is
    a pure function of the fixture, and no window end ever coincides
    with the watermark cutoff.

    Scale: watermark-bounded state (windows × types), one extra
    linear pass for the truth side — the audit you would run
    continuously on a 100 TB ingest to MEASURE late-data loss rather
    than assume it."""
    import os
    import shutil

    from ..sources.catalog import load_table
    from ..sources.staging import session_staging_dir, sf_tag, tag_lock

    src = stage_event_files(spark, sf_dir, n_files=3)
    # The planted-late file is a pure function of the fixture (first-
    # hour events, ids offset) — build it ONCE per (application,
    # sf_dir) like staged_slice_parts; per-call work is one file copy
    # + mtime stamp, not a min-ts job + coalesce(1) write.
    tag = f"late_plant_{sf_tag(sf_dir)}"
    base = session_staging_dir(spark, tag)
    marker = os.path.join(base, "_COMPLETE")
    with tag_lock(spark, tag):
        if not os.path.isfile(marker):
            ev = load_table(spark, sf_dir, "events")
            lo = ev.agg(F.min("ts")).collect()[0][0]  # 1-row bounded
            plant = ev.where(
                F.col("ts") < F.lit(lo) + F.expr("INTERVAL 1 HOUR")
            ).withColumn(
                "event_id", F.col("event_id") + F.lit(LATE_PLANT_OFFSET)
            )
            plant.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(base, "plant")
            )
            with open(marker, "w") as fh:
                fh.write("ok")
    pdir = os.path.join(base, "plant")
    part = next(n for n in os.listdir(pdir) if n.endswith(".parquet"))
    dst = os.path.join(src, "slice4_late.parquet")
    shutil.copy(os.path.join(pdir, part), dst)
    mt = os.path.getmtime(os.path.join(src, "slice3.parquet")) + 10
    os.utime(dst, (mt, mt))

    agg = (
        read_staged_event_stream(spark, src)
        .withWatermark("ts", LATE_AUDIT_WM)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("on_time_n"),
            exact_sum("value", 2, "on_time_sum"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "on_time_n",
            "on_time_sum",
        )
    )
    sink = _drain_to_memory(agg, "stream_late_audit", output_mode="append")

    staged = spark.read.schema(TABLE_SCHEMAS["events"]).parquet(src)
    return _late_audit_report(
        staged.select("event_id", "ts", "event_type", "value"), sink
    )


STREAM_PLAN_BUILDERS["stream_late_audit"] = stream_late_audit_plan
