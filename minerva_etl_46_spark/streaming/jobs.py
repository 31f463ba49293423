"""Streaming jobs runnable synchronously for the correctness gate
(memory sink + processAllAvailable) and asynchronously in production
(swap sink; the transformation is identical — T1/T4).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minerva_etl_46_spark.functions.kpi import DEC
from minerva_etl_46_spark.functions.timestamps import normalize_ts_columns
from minerva_etl_46_spark.session import tune

#: Per-query micro-batch progress, captured by record_progress at every
#: driver site just before the query stops: queryName -> list of
#: StreamingQueryProgress dicts (one per micro-batch). This is the
#: streaming twin of the batch plan budget: static plans don't exist
#: inside the micro-batch engine, but the progress stream exposes the
#: two machinery knobs that must not drift — the state-store partition
#: count frozen into each query's checkpoint (stateOperators[*].
#: numShufflePartitions) and the number of micro-batches the source
#: splitting produced. tests/test_stream_contracts.py pins both per
#: key against tests/stream_budget.json.
LAST_PROGRESS: dict[str, list[dict]] = {}


def record_progress(q) -> None:
    """Snapshot a (finished) streaming query's recentProgress into
    LAST_PROGRESS under its queryName. Call after processAllAvailable/
    awaitTermination and before stop() — recentProgress lives on the
    JVM query object and survives termination, but not a new start
    under the same name. Unnamed queries are skipped — a None key
    would collide across every unnamed query in the session.

    Two long-lived-process guards:
    - uuid-suffixed ``ingest_<spec>_<8hex>`` names (the ONLY producer
      of that shape is ingest_available_now) would add one
      never-evicted key per run; prior same-spec snapshots are
      evicted, so the dict stays O(distinct queries),
      newest-run-wins per spec. The match requires the ``ingest_``
      prefix AND the 8-hex suffix on BOTH names — a user query that
      merely ends in 8 hex chars (``feed_deadbeef``) never evicts or
      gets evicted.
    - recentProgress is a RING BUFFER capped by
      ``spark.sql.streaming.numRecentProgressUpdates`` (default 100):
      past that many micro-batches the oldest entries are gone, so a
      budget snapshot's n_batches would silently floor at the cap.
      Warn loudly at the ceiling — contract tests pin exact batch
      counts and must not trust a truncated list."""
    import json
    import re
    import warnings

    if q.name is None:
        return
    # build the NEW snapshot before evicting prior same-spec entries: an
    # exception mid-snapshot (query object gone JVM-side, malformed
    # progress JSON) must leave the previous run's valid snapshot in
    # place, not an empty dict slot (r11 review)
    progress = [json.loads(p.json) for p in q.recentProgress]
    m = re.match(r"^(ingest_.+)_[0-9a-f]{8}$", q.name)
    if m:
        pat = re.compile(rf"^{re.escape(m.group(1))}_[0-9a-f]{{8}}$")
        for k in [k for k in LAST_PROGRESS if k != q.name and pat.match(k)]:
            del LAST_PROGRESS[k]
    try:
        # StreamingQuery exposes no session handle (pyspark 4.1.2);
        # read the conf off the active session — record_progress runs
        # on the driver thread that owns the query
        from pyspark.sql import SparkSession as _SS

        sess = getattr(q, "sparkSession", None) or _SS.getActiveSession()
        cap = int(sess.conf.get(
            "spark.sql.streaming.numRecentProgressUpdates", "100"))
    except Exception:
        cap = 100
    if len(progress) >= cap:
        warnings.warn(
            f"streaming query {q.name!r} recorded {len(progress)} progress "
            f"entries — at the numRecentProgressUpdates ceiling ({cap}); "
            "older micro-batches have been evicted and batch counts "
            "derived from this snapshot are TRUNCATED", stacklevel=2)
    LAST_PROGRESS[q.name] = progress


@contextlib.contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Pin the number of STATE STORE partitions for a streaming query
    started inside the block (restores the session's shuffle-partition
    conf on exit, so batch plans are untouched).

    This is a first-class production knob, not a harness hack: a
    streaming query freezes ``spark.sql.shuffle.partitions`` into its
    checkpoint at first start — every state store instance (×4 for a
    stream-stream join: two sides × keyToNumValues/keyWithIndexToValue)
    lives per partition for the query's LIFETIME, so the count must be
    sized to keyspace/throughput up front (resizing means a new
    checkpoint). Gate-scale fixtures carry ~10³ keys → 8 partitions;
    a 1000-executor deployment sizes to cores × a small factor."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _read_events_stream(spark: SparkSession, sf_dir: str,
                        schema=None) -> DataFrame:
    """events.parquet as a stream source. File-stream sources require an
    explicit schema; take it from a batch read of the same file so the
    stream survives fixture-precision changes (ts has shipped as ns-long,
    ns-timestamp, and µs NTZ across regenerations), then route ts through
    the SAME normalizer as the batch loader — streaming and batch share
    one timestamp semantics. Pass ``schema`` to reuse an already-read
    batch schema (two-reader jobs would otherwise re-read the parquet
    footer per side — r11 review)."""
    tune(spark)
    batch_schema = schema or spark.read.parquet(
        f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.format("parquet")
        .schema(batch_schema)
        # file-stream sources require a directory; glob-filter to the table
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    # the trend-store KEY rule, same as the batch loader (queries.load):
    # a row without a timestamp is unstorable — and in watermarked aggs
    # Spark would drop it anyway; making it explicit keeps stream ≡ batch
    return normalize_ts_columns(
        raw, ["ts"], table="events(stream)"
    ).where(F.col("ts").isNotNull())


def _run_to_memory(agg: DataFrame, name: str, spark: SparkSession,
                   mode: str = "complete",
                   n_state_partitions: int = 8) -> DataFrame:
    """Drive a streaming frame to completion into a memory sink and return
    the final table. Default complete output mode: every trigger rewrites
    the full aggregate state (fine for gate-scale; production uses
    foreachBatch + partition overwrite — plans/materialize.py).
    Stream-stream joins pass mode="append" (the only mode they support).
    State-store partition count is pinned for the query's lifetime via
    state_partitions (see its docstring: frozen into the checkpoint —
    a deploy-time sizing knob; gate-scale keyspaces need 8, not the
    batch session's 32)."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    with state_partitions(spark, n_state_partitions):
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            record_progress(q)
        finally:
            # stop() blocks until termination (spark.sql.streaming.
            # stopTimeout default 0 = wait indefinitely) — no extra
            # awaitTermination needed (r11 review)
            q.stop()
    return spark.table(name)


def tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: tumbling 1-hour windows per event_type via real Structured
    Streaming. Output: (event_type, bucket epoch-s, n, sum_value)."""
    e = _read_events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("win.start").cast("long").alias("bucket"),
            "n", "sum_value",
        )
    )
    return _run_to_memory(agg, "stream_tumbling_out", spark)


def tumbling_rollup_append(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    target,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> None:
    """T1 production shape: append-mode tumbling rollup with a REAL
    watermark, sunk into a partitioned trend store via foreachBatch.

    Contrast with the complete-mode memory-sink harness above (gate-only):
    - `withWatermark` bounds state — windows older than max(ts) − delay are
      finalized and dropped from the state store, so state is O(active
      windows), not O(history).
    - append output emits each finalized (event_type, bucket) row exactly
      once; the keyed trend-store upsert makes micro-batch retries
      idempotent (exactly-once effect with the checkpoint).
    - the sink is the same dynamic-partition-overwrite store the batch
      engine writes (sources/trendstore.py) — nothing collects on the
      driver. This is the variant that runs unattended on a cluster.

    Late rows beyond the watermark are dropped by Spark — the batch
    materializer's reprocessing horizon (plans/materialize.py T3) is the
    recovery path for those, exactly the reference's daemon split.
    """
    tune(spark)
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(stream_dir)
    )
    raw = normalize_ts_columns(raw, ["ts"], table="stream")
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("win.start").cast("long").alias("bucket"),
            "n", "sum_value",
        )
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.withColumn("ts", F.timestamp_seconds("bucket"))
        target.upsert(batch, keys=["event_type", "bucket"],
                      version_cols=["bucket"], ts_col="ts")

    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .queryName("stream_tumbling_append")
        .start()
    )
    try:
        q.processAllAvailable()
        record_progress(q)
    finally:
        q.stop()  # blocks until terminated (stopTimeout=0 default)


def session_counts(spark: SparkSession, sf_dir: str,
                   gap: str = "30 minutes") -> DataFrame:
    """T5b: native session windows via Structured Streaming —
    ``F.session_window`` merges events per user into gap-bounded sessions
    in the STATE STORE (windows with dynamic, data-driven extents; the
    state-shape tumbling windows can't express). Output: (user_id,
    session_start_us, session_end_us = last event + gap, n, sum_value).

    Gate harness runs complete mode into a memory sink like T1/T4; the
    production twin adds a watermark so closed sessions finalize and
    leave state (same append+foreachBatch shape as
    tumbling_rollup_append). The batch gaps-and-islands twin is
    win_sessionize — the oracle replays THIS operator's semantics: an
    event exactly gap-after the previous one EXTENDS the session
    (session_window merges touching windows; probed r12 — the same
    strict-> boundary win_sessionize always used)."""
    e = _read_events_stream(spark, sf_dir)
    return _run_to_memory(session_counts_frame(e, gap),
                          "stream_session_out", spark)


def session_counts_frame(events: DataFrame,
                         gap: str = "30 minutes") -> DataFrame:
    """The session_counts DAG from a raw event stream. Extracted so the
    split-invariance property drives the SAME session_window/agg as the
    job (r11 review discipline) — the property's deep case is an event in
    a LATER micro-batch bridging two previously-separate sessions in the
    state store."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("session_start_us"),
            F.unix_micros(F.col("win.end")).alias("session_end_us"),
            "n", "sum_value",
        )
    )


def session_rollup_append(
    spark: SparkSession,
    stream_dir: str,
    schema: str,
    target,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    gap: str = "30 minutes",
) -> None:
    """T5b production shape: watermarked session windows in append mode,
    sunk into a partitioned trend store via foreachBatch (the session twin
    of tumbling_rollup_append).

    State is O(OPEN sessions): a session finalizes — and is evicted from
    the state store — once the watermark passes its end (last event +
    gap). Append emits each finalized (user, session) exactly once; the
    keyed upsert makes micro-batch retries idempotent. Late rows beyond
    the watermark are dropped; the batch materializer's reprocessing
    horizon recovers them, as with tumbling windows."""
    tune(spark)
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(stream_dir)
    )
    raw = normalize_ts_columns(raw, ["ts"], table="stream")
    agg = (
        raw.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("session_start_us"),
            F.unix_micros(F.col("win.end")).alias("session_end_us"),
            "n", "sum_value",
        )
    )

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch = batch_df.withColumn(
            "ts", F.timestamp_micros("session_start_us"))
        target.upsert(batch, keys=["user_id", "session_start_us"],
                      version_cols=["session_end_us"], ts_col="ts")

    q = (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink)
        .queryName("stream_session_append")
        .start()
    )
    try:
        q.processAllAvailable()
        record_progress(q)
    finally:
        q.stop()  # blocks until terminated (stopTimeout=0 default)


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 (bonus): sliding 2-hour windows every 1 hour — each event lands
    in two windows. Output: (win_start epoch-s, n)."""
    e = _read_events_stream(spark, sf_dir)
    agg = (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").cast("long").alias("win_start"), "n")
    )
    return _run_to_memory(agg, "stream_sliding_out", spark)


def hourly_type_counts(events: DataFrame) -> DataFrame:
    """The windowed_topk aggregate: per-(tumbling 1-hour window, type)
    counts. Extracted so the split-invariance property
    (tests/test_stream_splits.py) drives the SAME frame the job runs —
    an inline copy in the test would drift silently (r11 review)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").cast("long").alias("bucket"),
                "event_type", "n")
    )


def rank_topk(counts: DataFrame, k: int) -> DataFrame:
    """The windowed_topk rank projection (stateless; tie rule pinned:
    (n desc, event_type asc) — count ties resolve alphabetically,
    cross-engine stable)."""
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(
        F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("bucket", F.col("rk").cast("long").alias("rk"),
                "event_type", "n")
    )


def windowed_topk(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """T8 (extension): top-k event types per tumbling 1-hour window — the
    "trending now" board. Structured Streaming maintains the per-(window,
    type) counts incrementally (the stateful part — state is
    windows × types, bounded and watermark-evictable in append mode); the
    rank-within-window is a STATELESS projection of that aggregate, so it
    runs over the sink table per emission exactly as a production
    foreachBatch would rank each trigger's output."""
    e = _read_events_stream(spark, sf_dir)
    counts = _run_to_memory(hourly_type_counts(e), "stream_topk_out", spark)
    return rank_topk(counts, k)


def interval_join_pairs(spark: SparkSession, sf_dir: str,
                        lookback_s: int = 3600,
                        n_state_partitions: int = 8) -> DataFrame:
    """T6 (extension; streaming twin of the batch J8 range join): a real
    STREAM-STREAM interval self-join — each purchase correlated with the
    same user's error events in the preceding ``lookback_s`` seconds.

    Both sides carry watermarks, which is what makes the join state
    BOUNDED on a cluster: once the watermark passes ``p_ts - lookback``
    (resp. ``e_ts + lookback``) Spark evicts the buffered rows, so state
    is O(traffic within the interval), not O(stream history). Watermarks
    bound STATE, not emission — inner joins emit eagerly on match — so
    the synchronous memory-sink run returns every pair. Stream-stream
    joins support append output only; batch parity is proven in
    tests/test_streaming_append.py against the identical batch join.

    Output: (p_id, user_id, p_us, e_us) with epoch-µs BIGINT timestamps.
    """
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    out = purchase_error_interval_join(
        _read_events_stream(spark, sf_dir, schema),
        _read_events_stream(spark, sf_dir, schema),
        lookback_s,
    )
    return _run_to_memory(out, "stream_interval_join_out", spark,
                          mode="append",
                          n_state_partitions=n_state_partitions)


def purchase_error_interval_join(events_p: DataFrame, events_r: DataFrame,
                                 lookback_s: int) -> DataFrame:
    """The interval_join_pairs DAG from two raw event streams (each with
    event_id/user_id/ts/event_type). Extracted so the split-invariance
    property drives the SAME join condition and watermarks as the job
    (r11 review — an inline test copy would drift)."""
    p = (
        events_p
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    r = (
        events_r
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "2 hours")
    )
    j = p.join(
        r,
        F.expr(
            f"p_user = e_user AND e_ts >= p_ts - interval {lookback_s} seconds"
            " AND e_ts <= p_ts"
        ),
        "inner",
    )
    return j.select(
        "p_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("p_us"),
        F.unix_micros("e_ts").alias("e_us"),
    )


def trigger_notifications_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 as a STREAMING job — the reference's trigger daemon: hourly
    KPI windows aggregate continuously, rules fire as notifications per
    trigger. Rules are DATA (catalog.TriggerRule — the SAME specs the
    batch trigger_notify key evaluates), compiled by the batch engine
    (plans/triggers.py::evaluate_rules): a conditional rule array +
    explode over the ONE streaming aggregate. A union of filtered
    branches would plan one parallel streaming aggregation per rule;
    the fused form stays a single agg, which every output mode
    supports. Output: (entity_id, ts, rule, weight, details JSON) — the
    full batch trigger shape, sinks interchangeable."""
    from minerva_etl_46_spark.catalog import TriggerRule
    from minerva_etl_46_spark.plans.triggers import evaluate_rules

    e = _read_events_stream(spark, sf_dir)
    kpi = (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
            F.count(F.when(F.col("event_type") == "error", 1))
            .alias("n_errors"),
        )
        .select(
            F.col("user_id").alias("entity_id"),
            F.col("win.start").cast("long").alias("ts"),
            "n", "sum_value", "n_errors",
        )
        # the rules' details name the window epoch "bucket" (the batch
        # engine's column name); expose it alongside ts so the SAME rule
        # specs compile unchanged — Catalyst prunes the duplicate
        .withColumn("bucket", F.col("ts"))
    )
    # details pack integer-only columns so the JSON text is
    # byte-identical cross-engine (the trigger_notify trade)
    rules = [
        TriggerRule(name="value_surge", predicate_sql="sum_value > 200.0",
                    weight_sql="10", details_cols=("n", "bucket")),
        TriggerRule(name="error_burst", predicate_sql="n_errors >= 2",
                    weight_sql="5", details_cols=("n_errors", "bucket")),
    ]
    notif = evaluate_rules(kpi, rules)
    return _run_to_memory(notif, "stream_trigger_out", spark)


def dedup_within_watermark(spark: SparkSession, sf_dir: str,
                           scratch_dir: str) -> DataFrame:
    """T8: streaming exact dedup — ``dropDuplicatesWithinWatermark`` on
    the event key, the at-least-once → effectively-once repair stage in
    front of any streaming rollup (an upstream redelivery must not
    double-count).

    Harness: write the events fixture as file 1 and an EXACT copy of the
    event_id%10==0 subset as file 2 (one file per micro-batch ⇒ the
    duplicates arrive in a LATER batch, so surviving them proves the
    dedup state carries across batches, not just within one). Because the
    injected rows are byte-identical, which copy the operator keeps is
    unobservable — the output is deterministic and equals the distinct
    input, which is the oracle.

    State shape at scale: one entry per key within the watermark horizon
    — O(keys/hour), dropped as the watermark passes; NOT O(history) like
    bare streaming dropDuplicates. Partitioned by key in the state store,
    same key discipline as every stateful op here."""
    import os

    tune(spark)
    # the trend-store KEY rule (queries.load): this job builds its own
    # fixture copy instead of going through the shared readers, so the
    # NULL-ts drop must apply here too (r12b — undated rows otherwise
    # survived the watermarked dedup the oracle excludes)
    batch = normalize_ts_columns(
        spark.read.parquet(f"{sf_dir}/events.parquet"), ["ts"],
        table="events").where(F.col("ts").isNotNull())
    # fingerprint the source fixture into the cache-dir name: a bare
    # "dedup_src" reused on mere existence would serve STALE files after
    # an in-place fixture regeneration (or a recycled PID hitting an old
    # scratch dir) — schema mismatch at best, silently wrong rows at
    # worst (r11 review). mtime+size changes on every regeneration.
    fst = os.stat(f"{sf_dir}/events.parquet")
    src = os.path.join(scratch_dir,
                       f"dedup_src_{int(fst.st_mtime)}_{fst.st_size}")
    if not os.path.isdir(src):
        # staged-build + atomic rename (the sources/paio.py discipline):
        # a run interrupted between the two writes must not leave a dir
        # the retry accepts as complete — a src missing file 2 would
        # silently skip the cross-batch duplicate injection and the test
        # would pass without exercising dedup state across batches
        import shutil

        staged = src + "_staged"
        shutil.rmtree(staged, ignore_errors=True)
        os.makedirs(staged, exist_ok=True)
        batch.coalesce(1).write.mode("append").parquet(staged)
        (batch.filter(F.col("event_id") % 10 == 0)
              .coalesce(1).write.mode("append").parquet(staged))
        os.rename(staged, src)
        # prune STRICTLY-OLDER-fingerprint siblings + their orphaned
        # staged dirs: without this, every fixture regeneration strands
        # one full parquet copy in scratch_dir forever (r11 ADVICE).
        # Scoped to mtime < current (r12 ADVICE): scratch_dir is
        # PID-scoped in the shipped callers, but the function accepts any
        # path — an equal-or-newer fingerprint may belong to a concurrent
        # builder mid-write, and "delete everything but mine" could
        # rmtree its in-use src or _staged dir. Older fingerprints are
        # dead by construction (the fixture they mirror no longer has
        # that mtime+size).
        import glob as _glob

        def _fp_mtime(path: str) -> int | None:
            # dedup_src_<mtime>_<size>[_staged]
            parts = os.path.basename(path).split("_")
            try:
                return int(parts[2])
            except (IndexError, ValueError):
                return None

        for stale in _glob.glob(os.path.join(scratch_dir, "dedup_src_*")):
            if stale == src:
                continue
            m = _fp_mtime(stale)
            if m is not None and m < int(fst.st_mtime):
                shutil.rmtree(stale, ignore_errors=True)
    raw = (
        spark.readStream.format("parquet")
        .schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    return _run_to_memory(dedup_events_frame(raw), "stream_dedup_out",
                          spark, mode="append")


def dedup_events_frame(raw: DataFrame) -> DataFrame:
    """The dedup_within_watermark DAG: watermark + key-dedup + projection.
    Extracted so the split-invariance property drives the SAME dedup key
    and watermark as the job (r11 review)."""
    return (
        raw.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
