"""Event-time windowing on ``events`` — batch formulations registered for the
DuckDB oracle, plus a genuine Structured Streaming run of the same tumbling
aggregation (memory sink, complete mode) proving stream/batch equivalence.

The reference is pure batch (its incremental unit is the file, resumed via
``_SUCCESS`` markers, ``DatasetYearTrain.java:89-94``); this module is the
declared streaming parity set.

Semantics notes:
- Spark's ``F.window`` tumbling/sliding windows are epoch-aligned; oracles
  reproduce them with ``floor(epoch(ts)/w)*w`` arithmetic.
- ``session_window(ts, gap)``: session start = first event, end = last event
  + gap; the oracle reproduces it with lag/gap-flag/cumsum sessionization.
- Watermarking/late-data and ``dropDuplicatesWithinWatermark`` are exercised
  in tests/test_streaming.py with a rate-limited file stream; they are not
  registrable here because their output depends on trigger boundaries.

Scale notes: windowed streaming aggs keep per-(key, window) state in the
state store; the watermark is what bounds that state — without it, state
grows O(event-time horizon) and a 100 TB/day stream OOMs. Session windows
additionally need the gap-merge state; ``applyInPandasWithState`` is the
escape hatch for custom state machines.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import load, register

_TUMBLE_SQL = """
    SELECT to_timestamp(floor(epoch(ts) / 600) * 600)::TIMESTAMP AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
"""


@register("stream_tumbling_counts", _TUMBLE_SQL, tags=("streaming",))
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows × event_type: count + sum. Batch run of the
    exact streaming aggregation (same F.window expression)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_sliding_counts",
    """
    SELECT to_timestamp(floor(epoch(ts) / 300) * 300 - off)::TIMESTAMP AS window_start,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events, unnest([0, 300]) AS t(off)
    GROUP BY 1
    """,
    tags=("streaming",),
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding by 5: every event lands in exactly two
    epoch-aligned windows (starts at floor(t/300)·300 and 300 earlier) —
    which is how the oracle enumerates them."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "n", "sum_value")
    )


@register(
    "stream_session_window",
    """
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL 5 MINUTE
                    THEN 0 ELSE 1 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 5 MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM sessions GROUP BY user_id, sid
    """,
    tags=("streaming",),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user via ``F.session_window`` in
    batch mode; the oracle rebuilds identical sessions with
    lag → gap-flag → cumsum. Start = first event, end = last event + gap."""
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_dedup_keys",
    "SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming",),
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of streaming ``dropDuplicates`` on key columns (the
    watermark-bounded variant ``dropDuplicatesWithinWatermark`` is exercised
    in tests/test_streaming.py — its output set on replay equals this)."""
    return load(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@register(
    "stream_interval_join",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id, v.ts AS view_ts, p.ts AS purchase_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND v.ts <= p.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming",),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view → purchase attribution within 30
    minutes) run in batch mode: ``jobs.interval_join`` is the SAME
    function the streaming behavior test drives with two file-source
    streams — on batch inputs the watermarks are no-ops and the result
    must equal this oracle."""
    from .jobs import interval_join

    ev = load(spark, sf_dir, "events")
    return interval_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )


@register(
    "stream_late_drop",
    """
    WITH m AS (SELECT max(ts) AS tmax FROM events)
    SELECT to_timestamp(floor(epoch(ts) / 600) * 600)::TIMESTAMP AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events, m
    WHERE ts >= tmax - INTERVAL 1 HOUR
      AND floor(epoch(ts) / 600) * 600 + 600 <= epoch(tmax) - 600
    GROUP BY 1, 2
    """,
    tags=("streaming",),
)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP, registered and fully oracled — normally
    unregistrable because drop behavior depends on trigger boundaries, so
    this query pins the boundaries deterministically:

    - trigger 1 = the newest hour of events (written as one file with an
      artificially old mtime; ``maxFilesPerTrigger=1`` + the file source's
      oldest-mtime-first ordering fix the batch order),
    - trigger 2 = an EMPTY file. The watermark a batch's late-filter uses
      is the one committed at the END of the previous batch, computed from
      data through it — so a late event must arrive two batches after the
      event that pushes the watermark. The empty innocuous batch commits
      ``max(ts) - 10 min`` without adding rows (without it, the late batch
      is filtered against the initial zero watermark and nothing drops).
    - trigger 3 = everything older than the newest hour.

    Every trigger-3 event is ≥ 50 min below the watermark, so its window
    is entirely late and Spark MUST drop it. Append mode then emits
    exactly the trigger-1 windows whose end ≤ watermark — a closed-form
    set the oracle states directly: recent-hour events, windows ending at
    least 10 min before ``max(ts)``. The one driver-side scalar
    (``max(ts)``) is what stages the replay files; it is the harness of
    the scenario, not a per-row collect.

    The equivalent late-drop behavior on a LIVE unbounded stream is
    exercised in tests/test_streaming.py; this registered variant is the
    driver-checkable contract for it."""
    import os
    import tempfile
    import time as _time

    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    tmax = ev.agg(F.max("ts")).first()[0]
    cut = tmax - timedelta(hours=1)

    indir = tempfile.mkdtemp(prefix="stream_late_drop_")

    def _age_new_parts(mtime: float) -> None:
        # Pin every not-yet-pinned part file to `mtime` (strictly increasing
        # across the three writes → deterministic trigger order).
        for n in os.listdir(indir):
            p = os.path.join(indir, n)
            if n.startswith("part-") and os.path.getmtime(p) > mtime:
                os.utime(p, (mtime, mtime))

    # One file per logical batch: coalesce(1) so maxFilesPerTrigger=1 maps
    # file == trigger; mtimes force the replay order (newest data FIRST).
    now = _time.time()
    ev.filter(F.col("ts") >= cut).coalesce(1).write.mode("overwrite").parquet(indir)
    _age_new_parts(now - 600)
    before = {n for n in os.listdir(indir) if n.startswith("part-")}
    ev.filter(F.lit(False)).coalesce(1).write.mode("append").parquet(indir)
    if not any(
        n.startswith("part-") and n not in before for n in os.listdir(indir)
    ):
        # Guard: if the engine elided the empty file, push the watermark
        # with one duplicate of the max-ts event instead — its window END
        # is above every watermark this replay can reach (wm ≤ max(ts) −
        # 10 min < its window end), so append mode can never emit it and
        # the oracle result is unchanged.
        ev.filter(F.col("ts") == F.lit(tmax)).limit(1).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
    _age_new_parts(now - 300)
    ev.filter(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(indir)

    name = "stream_late_drop_sink"
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register("stream_tumbling_live", _TUMBLE_SQL, tags=("streaming",))
def stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling aggregation run through a REAL streaming query:
    ``readStream`` over the events parquet → watermark → windowed agg →
    memory sink (complete mode) → ``processAllAvailable``. Complete-mode
    replay of a static source is deterministic and equals the batch result,
    so it shares the tumbling oracle — the stream/batch equivalence claim,
    checked by the driver itself."""
    from .jobs import read_event_stream

    name = "stream_tumbling_live_sink"
    stream = (
        read_event_stream(spark, sf_dir, path_glob="events.parquet")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


_ENRICH_SQL = """
    SELECT to_timestamp(floor(epoch(e.ts) / 600) * 600)::TIMESTAMP AS window_start,
           c.c_mktsegment AS segment,
           count(*) AS n,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
"""


@register("stream_static_enrich", _ENRICH_SQL, tags=("streaming",))
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment — the most common production streaming
    pattern: every event joins a (broadcast) static dimension, then a
    windowed aggregate per enriched key. Stream-static joins are
    STATELESS (each micro-batch joins the current static snapshot, no
    join state store), so the batch formulation is exactly the streaming
    result — the tightest stream/batch equivalence in this family; the
    live arm below replays it through a real streaming query against the
    same oracle. At 100 TB the dimension rides the broadcast (or a
    Delta/parquet snapshot re-read per trigger for slowly-changing dims);
    the stream side never shuffles before the windowed agg."""
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        e.join(F.broadcast(c), F.col("c_custkey") == F.col("user_id"))
        .groupBy(F.window("ts", "10 minutes"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n",
            "sum_value",
        )
    )


@register("stream_static_enrich_live", _ENRICH_SQL, tags=("streaming",))
def stream_static_enrich_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The enrichment pipeline through a REAL streaming query: readStream
    over the events parquet → broadcast join with the STATIC customer
    DataFrame → watermark → windowed agg → memory sink (complete mode) →
    ``processAllAvailable``. Shares the batch arm's oracle — the driver
    itself checks that a live stream-static join equals its batch
    formulation."""
    from .jobs import read_event_stream

    name = "stream_static_enrich_live_sink"
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    stream = (
        read_event_stream(spark, sf_dir, path_glob="events.parquet")
        .join(F.broadcast(c), F.col("c_custkey") == F.col("user_id"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("c_mktsegment").alias("segment"),
            "n",
            "sum_value",
        )
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@register(
    "stream_custom_stateful",
    """
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
    FROM events GROUP BY user_id
    """,
    tags=("streaming",),
)
def stream_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (``applyInPandasWithState`` — the
    escape hatch for state machines the built-in windows/dedup cannot
    express) run through a REAL streaming query, FULLY ORACLED: the
    single-file source processes in exactly one micro-batch (no trigger
    cap), so update mode emits exactly one row per user carrying the
    final state — which must equal the batch per-user aggregate. A
    multi-batch replay would emit intermediate updates too; the one-batch
    construction is what makes the state machine's END state a closed-form
    SQL fact (the per-batch update path itself is exercised with
    maxFilesPerTrigger=1 in tests/test_streaming.py)."""
    from .jobs import read_event_stream, run_to_memory, stateful_user_totals

    ev = read_event_stream(spark, sf_dir, path_glob="events.parquet")
    return run_to_memory(
        stateful_user_totals(ev), "stream_custom_stateful_sink", "update"
    )


@register(
    "stream_interval_join_outer",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS user_id, v.ts AS view_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND v.ts <= p.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming",),
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join in batch mode: views with no
    same-user purchase in the following 30 minutes survive with NULL
    purchase columns — the attribution query that also reports the
    unconverted views. Streaming-mode emission timing (null rows held
    until the watermark closes each view's join window) is pinned in
    tests/test_streaming.py; on batch inputs the watermark is a no-op and
    the result equals this plain left interval join."""
    from .jobs import interval_join

    ev = load(spark, sf_dir, "events")
    return interval_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    )


@register(
    "stream_interval_join_full",
    """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id AS v_user_id, p.user_id AS p_user_id,
           v.ts AS view_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND v.ts <= p.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming",),
)
def stream_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-outer stream-stream interval join — both unconverted views
    AND unattributed purchases survive with NULLs on the other side (the
    reconciliation query: every event accounted for exactly once). In
    streaming mode each side's null row is held until the watermark
    closes ITS join window; on batch inputs the watermark is a no-op and
    the result equals this plain full interval join. Both user_id
    columns are kept (they differ on null rows — coalescing them is the
    caller's choice). Same `jobs.interval_join` helper as the inner and
    left-outer arms, so one definition of the watermark + time-bound
    state-eviction logic serves all three and the streaming behavior
    tests cover them together."""
    from .jobs import interval_join

    ev = load(spark, sf_dir, "events")
    return interval_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        how="full_outer",
        keep_both_users=True,
    )


def _stream_ingest_sql() -> str:
    """Oracle for the STREAMING index-ingest arm: with the micro-batch
    order pinned (250..374 then 375..), the pairs each probe-before-
    ingest step reports are exactly the live md5 LSH pair set restricted
    to (index-so-far, batch) splits — batch 0 probes the base index
    (doc_a < 250), batch 1 probes base+batch0 (doc_a < 375). Within-
    batch pairs are intentionally absent (a crawl batch dedups against
    HISTORY here; intra-batch near-dups are the live query's job)."""
    from ..operators.dedup import _md5_lsh_sql

    return "WITH " + _md5_lsh_sql(
        "SELECT doc_a, doc_b, round(jac, 6) AS jac FROM verified "
        "WHERE jac >= 0.5 AND ("
        "(doc_b >= 250 AND doc_b < 375 AND doc_a < 250) "
        "OR (doc_b >= 375 AND doc_a < 375))"
    )


@register(
    "stream_minhash_ingest", _stream_ingest_sql(), tags=("streaming", "dedup")
)
def stream_minhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup ingest against the persisted signature index —
    the crawl-pipeline composition run as a REAL Structured Streaming
    query, fully under the hash gate: ``readStream`` over staged batch
    files (maxFilesPerTrigger=1, mtime-ordered, AvailableNow) →
    ``foreachBatch``: probe the micro-batch against the stored index
    (near-dup pairs vs ALL HISTORY, O(|batch|) signature work +
    Exchange-free band join), record the pairs, then
    ``append_minhash_index`` the batch so the NEXT micro-batch dedups
    against it too. Deterministic because the micro-batch sequence is
    pinned (250..374, then 375..) — each batch's pair set is the live
    LSH pair set restricted to (history, batch), which is what the
    oracle computes. This is the arrival-order-correct shape at 100 TB:
    per-day cost is O(|batch|) encode + probe, the corpus-side state is
    the bucketed index, and takedowns/vacuum apply to it unchanged
    (`delete_from_minhash_index`). The foreachBatch sink appends pairs
    idempotently per run (accumulator cleared at start; the streaming
    checkpoint owns exactly-once across restarts in production)."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from ..plans.minhash_index import (
        _clear_table,
        append_minhash_index,
        build_minhash_index,
        probe_minhash_index,
    )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    table = "minhash_lsh_index_sq"
    sink = f"{table}__pairs"
    build_minhash_index(
        spark, d.filter(F.col("doc_id") < 250), table=table, family="md5"
    )
    _clear_table(spark, sink)
    root = tempfile.mkdtemp(prefix="wg_stream_ingest_")
    try:
        src = os.path.join(root, "src")
        os.makedirs(src)
        for i, (lo, hi) in enumerate(((250, 375), (375, 1 << 40))):
            stage = os.path.join(root, f"stage{i}")
            (
                d.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                .coalesce(1)
                .write.parquet(stage)
            )
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src, f"batch{i}.parquet")
            shutil.copyfile(part, dst)
            os.utime(dst, (i + 1, i + 1))  # mtime = micro-batch order
        stream = (
            spark.readStream.schema(d.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            # run EVERYTHING on the micro-batch's session clone: the
            # outer session's InMemoryFileIndex for the index table is
            # cached from the build, so reading via `spark` here would
            # silently probe the PRE-append file set in every batch
            # (measured: all cross-batch pairs missing) — the clone
            # lists fresh, and writes land in the shared catalog either
            # way.
            ms = batch_df.sparkSession
            pairs = probe_minhash_index(
                ms, batch_df, table=table, self_probe=False
            )
            pairs.write.format("parquet").mode("append").saveAsTable(sink)
            append_minhash_index(ms, batch_df, table=table)

        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # the sink was appended from session clones — drop any stale file
    # listing this session may hold before the gated read
    spark.catalog.refreshTable(sink)
    return spark.table(sink).select("doc_a", "doc_b", "jac")


@register(
    "stream_decode_wav_live",
    """
    WITH p AS (
        SELECT doc_id,
               CAST(8000 + (n_chars % 8) * 1000 AS INT) AS sample_rate,
               CAST(20 + doc_id % 30 AS BIGINT) AS n_frames
        FROM documents
    ),
    s AS (
        SELECT doc_id, sample_rate, n_frames,
               CAST(list_sum(list_transform(range(n_frames),
                    i -> ((doc_id * 31 + i * 7) % 256 - 128)
                         * ((doc_id * 31 + i * 7) % 256 - 128)
               )) AS BIGINT) AS sum_sq
        FROM p
    )
    SELECT doc_id, sample_rate, n_frames,
           n_frames * 1000 // sample_rate AS duration_ms,
           sum_sq,
           round(sqrt(sum_sq * 1.0 / n_frames), 4) AS rms
    FROM s
    """,
    tags=("streaming", "multimodal"),
)
def stream_decode_wav_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal DECODE STAGE under ``readStream`` — the crawl
    pipeline's media path, where blobs arrive continuously and the same
    Arrow-batched kernel must run per micro-batch: stage the documents
    as TWO files (``maxFilesPerTrigger=1`` → two triggers), assemble
    the WAV blobs with the shared Catalyst expressions
    (``_wav8_blobs``), decode with the stdlib-``wave`` kernel inside
    ``mapInPandas`` ON THE STREAMING FRAME, append-mode memory sink.
    Stateless map ⇒ the replay result is trigger-split-invariant and
    equals the batch arm exactly, which is why this live-stream run can
    carry ``multimodal_decode_wav``'s full DuckDB oracle. What it pins:
    the decode plumbing (binary columns, Arrow batching, kernel
    signature) composes with Structured Streaming unchanged — no
    batch-only assumption hides in the kernel path."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from ..operators.multimodal import _wav8_blobs, decode_wav_batch

    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mid = d.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    root = tempfile.mkdtemp(prefix="wg_stream_decode_")
    name = "stream_decode_wav_sink"
    try:
        src = os.path.join(root, "src")
        os.makedirs(src)
        for i, part in enumerate(
            (d.filter(F.col("doc_id") <= mid), d.filter(F.col("doc_id") > mid))
        ):
            stage = os.path.join(root, f"stage{i}")
            part.coalesce(1).write.parquet(stage)
            p = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src, f"batch{i}.parquet")
            shutil.copyfile(p, dst)
            os.utime(dst, (i + 1, i + 1))
        stream = (
            spark.readStream.schema("doc_id bigint, n_chars bigint")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        blobbed = _wav8_blobs(stream)

        def run(batches):
            for batch in batches:
                yield decode_wav_batch(batch)

        decoded = blobbed.mapInPandas(
            run,
            "doc_id bigint, sample_rate int, n_frames bigint, "
            "duration_ms bigint, sum_sq bigint, rms double",
        ).withColumn("rms", F.round("rms", 4))
        q = (
            decoded.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _stream_ann_ingest_sql() -> str:
    """DuckDB mirror of the streaming ANN ingest: every batch vector
    (vec_id ≥ 250) probes the INDEX AS OF ITS ARRIVAL — a per-query
    history cutoff (250 for the first micro-batch, 375 for the second)
    carried through the probe CTE and applied to the candidate stream,
    exactly where the live run's append-between-batches draws the line.
    Built from the same oracle stages as ``similarity._ivf_adc_sql``
    (16-medoid quantizer/codebook, fixed-order ADC pivot); no
    self-exclusion (batch and history are disjoint by construction)."""
    from ..operators.similarity import _adc_select_sql, _member_adc_head

    return _member_adc_head(
        queries="vec_id >= 250",
        carry={"cutoff": "CASE WHEN t.vec_id < 375 THEN 250 ELSE 375 END"},
    ) + _adc_select_sql(
        3, cand_pred="AND a.vec_id < p.cutoff", exclude_self=False
    )


@register(
    "stream_ann_ingest", _stream_ann_ingest_sql(), tags=("streaming", "similarity")
)
def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN ingest against the persisted IVFADC index — the
    embedding-side twin of ``stream_minhash_ingest``, run as a REAL
    Structured Streaming query under the hash gate: build the index
    over the initial corpus slice (vec_id < 250; 16-cell quantizer
    frozen from seeds inside the slice), then ``readStream`` staged
    batches (250..374, then 375..) with ``foreachBatch``: probe each
    micro-batch's vectors against the INDEX AS OF ARRIVAL (ADC top-3,
    no self-exclusion — batch and history are disjoint), record the
    neighbors, ``append_to_ann_index`` the batch so the next
    micro-batch searches it too. The oracle computes each query's
    candidates below its arrival cutoff — an append that leaked early
    (a batch seeing itself) or landed late (missing history) breaks
    the hash. This is the continuous-embedding-pipeline shape at
    100 TB: per-day cost is O(|batch|) encode + an Exchange-free
    bucketed probe; corpus state is the stored codes."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from ..plans.ann_index import (
        append_to_ann_index,
        build_ann_index,
        probe_ann_index,
    )
    from ..plans.minhash_index import _clear_table

    from ..operators.similarity import _emb_base

    e = _emb_base(spark, sf_dir)
    table = "ann_ivfadc_index_sq"
    sink = f"{table}__pairs"
    build_ann_index(
        spark, sf_dir, table=table, n_buckets=8, n_cells=16,
        vectors=e.filter(F.col("vec_id") < 250),
    )
    _clear_table(spark, sink)
    root = tempfile.mkdtemp(prefix="wg_stream_ann_ingest_")
    try:
        src = os.path.join(root, "src")
        os.makedirs(src)
        for i, (lo, hi) in enumerate(((250, 375), (375, 1 << 40))):
            stage = os.path.join(root, f"stage{i}")
            (
                e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
                .coalesce(1)
                .write.parquet(stage)
            )
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src, f"batch{i}.parquet")
            shutil.copyfile(part, dst)
            os.utime(dst, (i + 1, i + 1))  # mtime = micro-batch order
        stream = (
            spark.readStream.schema("vec_id bigint, emb array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            # micro-batch session clone, same reason as the minhash arm:
            # the outer session's file listing of the index table is
            # stale after the previous batch's append
            ms = batch_df.sparkSession
            q = batch_df.select(
                F.col("vec_id").alias("qid"), F.col("emb").alias("qemb")
            )
            hits = probe_ann_index(
                ms, q, table=table, nprobe=4, k=3, exclude_self=False
            )
            hits.write.format("parquet").mode("append").saveAsTable(sink)
            append_to_ann_index(ms, batch_df, table=table)

        q = (
            stream.writeStream.foreachBatch(ingest)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.catalog.refreshTable(sink)
    return spark.table(sink).select("qid", "vec_id", "adc_dist")


def _stream_bpe_encode_sql() -> str:
    from ..operators.text_bpe import _bpe_encode_external_sql

    return _bpe_encode_external_sql()


@register(
    "stream_bpe_encode_live", _stream_bpe_encode_sql(), tags=("streaming", "text")
)
def stream_bpe_encode_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen-tokenizer ENCODE STAGE under ``readStream`` — the
    production token-metering path: documents arrive continuously and
    each micro-batch is priced against a tokenizer FROZEN before the
    stream started. The tokenizer is trained and persisted up front
    (``plans/bpe_tokenizer.build_bpe_tokenizer`` on the 3/4 train
    slice); the HELD-OUT quarter is staged as TWO files
    (``maxFilesPerTrigger=1`` → two triggers) and encoded on the
    streaming frame with ``doc_bpe_token_count`` — the merge-rule
    replace chain inside ``transform``/``aggregate`` higher-order
    functions, a STATELESS row-local map with zero shuffles, so
    append-mode needs no watermark and the replay is trigger-split
    invariant: this live run carries ``text_bpe_encode_external``'s
    full DuckDB oracle (train replay + rule-application encode).
    What it pins: the frozen-artifact load and the Catalyst encode
    column compose with Structured Streaming unchanged — no
    batch-only assumption (explode, join, aggregation state) hides in
    the serving path."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from ..operators.text_bpe import _EXT_HOLDOUT_WHERE, _EXT_TRAIN_WHERE
    from ..plans.bpe_tokenizer import (
        build_bpe_tokenizer,
        doc_bpe_token_count,
        load_bpe_merges,
    )

    table = "bpe_tokenizer_stream"
    build_bpe_tokenizer(spark, sf_dir, table=table, where=_EXT_TRAIN_WHERE)
    merges = load_bpe_merges(spark, table)
    held = (
        load(spark, sf_dir, "documents")
        .filter(_EXT_HOLDOUT_WHERE)
        .select("doc_id", "text")
    )
    mid = held.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    root = tempfile.mkdtemp(prefix="wg_stream_bpe_")
    name = "stream_bpe_encode_sink"
    try:
        src = os.path.join(root, "src")
        os.makedirs(src)
        for i, part in enumerate(
            (
                held.filter(F.col("doc_id") <= mid),
                held.filter(F.col("doc_id") > mid),
            )
        ):
            stage = os.path.join(root, f"stage{i}")
            part.coalesce(1).write.parquet(stage)
            p = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(src, f"batch{i}.parquet")
            shutil.copyfile(p, dst)
            os.utime(dst, (i + 1, i + 1))
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        words = F.filter(
            F.split(F.col("text"), "\\s+"), lambda w: F.length(w) > 0
        )
        encoded = stream.filter(F.size(words) > 0).select(
            "doc_id", doc_bpe_token_count(merges).alias("n_bpe_tokens")
        )
        q = (
            encoded.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)
    finally:
        shutil.rmtree(root, ignore_errors=True)
