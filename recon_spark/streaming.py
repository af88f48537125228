"""Structured Streaming ingestion: incremental crawls -> triple store.

The reference is batch-only (generators at recon/recognizer.py:111-120
are its only "stream"), but a production CC-scale pipeline ingests
crawl batches continuously. Two shapes:

1. ``stream_events_hourly`` — watermarked tumbling-window aggregation
   over an event stream (late data bounded by the watermark).
2. ``stream_pages_to_triples`` — file-source stream of page batches ->
   the same extraction stages as the batch factory -> foreachBatch
   MERGE into the SnapshotStore. Exactly-once lands on the merge key:
   replayed micro-batches insert 0 rows, so the streaming checkpoint
   plus the idempotent MERGE give end-to-end resume (same property the
   batch pipeline has).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recon_spark.storage import SnapshotStore


def stream_events_hourly(
    spark: SparkSession,
    source_dir: str,
    schema_ddl: str = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ),
    watermark: str = "2 hours",
):
    """Streaming tumbling-window count/sum per (hour, event_type) with a
    late-data watermark. Returns the streaming DataFrame (caller picks
    sink + trigger; tests use availableNow + memory sink)."""
    src = spark.readStream.schema(schema_ddl).parquet(source_dir)
    return (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_pages_to_triples(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_parts: int = 8,
    max_files_per_trigger: int | None = None,
):
    """Incremental triple factory: each arriving page file becomes a
    micro-batch through the full extraction pipeline, merged
    idempotently into the triple store. Returns the StreamingQuery
    (availableNow trigger: drain what's there, then stop)."""
    from recon_spark.pages import PAGES_DDL
    from recon_spark.triples import build_triples

    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger is not None:
        # bound micro-batch size: availableNow respects this as a rate
        # limit, so a backfill drains in several checkpointed batches
        # (resumable mid-backfill) instead of one giant one
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    src = reader.parquet(pages_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build_triples(spark, batch_df, out_dir, n_parts=n_parts)

    return (
        src.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def triple_store(spark: SparkSession, out_dir: str) -> SnapshotStore:
    return SnapshotStore(spark, out_dir, key_col="triple_key", hash_col="content_hash")


def stream_user_sessions(
    spark: SparkSession,
    source_dir: str,
    gap_ms: int = 1_800_000,
    schema_ddl: str = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ),
):
    """Custom stateful streaming operator: per-user sessionization with
    applyInPandasWithState. State = the user's open session (start, last
    event ms, length) + closed-session accumulators; a new event more
    than ``gap_ms`` after the last one closes the open session. Output
    (on state completion) is one row per user: n_sessions, n_events,
    longest_session — the exact batch sessionization contract
    (queries/pipeline.py:q_events_sessions), which an availableNow drain
    must reproduce bit-for-bit (driver-checked).

    Scale shape: state is O(1) per user (5 longs); the shuffle is the
    groupBy(user_id) Spark requires for keyed state.

    This is the drain / batch-parity form: NoTimeout + a cumulative
    summary emitted per batch, which is exactly right for an
    availableNow drain (one batch, one final row per user) and verified
    against the batch oracle. With NoTimeout, state never expires and a
    multi-batch run re-emits each user's cumulative summary every batch
    — a CONTINUOUS deployment uses stream_user_sessions_continuous
    (below): EventTimeTimeout, in-state event buffering for cross-batch
    disorder, emit-closed-sessions-and-trim on timeout.

    Ordering caveat: events are sorted by (ms, event_id) WITHIN each
    micro-batch, so per-user event-time monotonicity ACROSS batches is
    assumed — an availableNow single-file drain (the driver query)
    satisfies it trivially; the continuous variant drops the assumption
    by buffering."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = spark.readStream.schema(schema_ddl).parquet(source_dir)
    events = (
        src.withColumn("ms", F.unix_millis(F.col("ts").cast("timestamp")))
        .withWatermark("ts", "2 hours")
        .select("user_id", "event_id", "ms")
    )

    def _sessionize(key, pdfs, state: GroupState):
        # state: (n_closed, longest_closed, open_len, open_last_ms, n_events)
        if state.exists:
            n_closed, longest, open_len, last_ms, n_events = state.get
        else:
            n_closed, longest, open_len, last_ms, n_events = 0, 0, 0, 0, 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ms", "event_id"])
        for ms in rows["ms"]:
            ms = int(ms)
            # n_events > 0 is the has-previous-event flag (a last_ms
            # sentinel value would misread negative epoch timestamps)
            if n_events > 0 and ms - last_ms > gap_ms:
                n_closed += 1
                longest = max(longest, open_len)
                open_len = 0
            open_len += 1
            n_events += 1
            last_ms = ms
        state.update((n_closed, longest, open_len, last_ms, n_events))
        # availableNow drain: emit the final summary including the still-
        # open session (the batch semantics); a continuous run would emit
        # on timeout instead
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_closed + (1 if open_len > 0 else 0)],
                "n_events": [n_events],
                "longest_session": [max(longest, open_len)],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType="user_id long, n_sessions long, n_events long, longest_session long",
        stateStructType="n_closed long, longest long, open_len long, last_ms long, n_events long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_contamination(
    spark: SparkSession,
    source_dir: str,
    benchmark: DataFrame,
    n: int = 8,
    schema_ddl: str = (
        "doc_id long, text string, lang string, source string, n_chars long"
    ),
):
    """Streaming decontamination gate: documents arriving on the stream
    are checked against the STATIC benchmark's broadcast n-gram digest
    set (stream-static broadcast join — the supported, shuffle-free
    shape); per document the count of DISTINCT colliding n-grams is
    maintained. Returns the streaming aggregate DataFrame (complete
    output mode — one row per contaminated doc so far; tests and the
    driver query drain with availableNow into a memory sink and compare
    against the batch oracle).

    Distinctness comes from a stateful dropDuplicates on (id, digest)
    BEFORE the single aggregation — streaming disallows count(distinct)
    and chained aggregations; the dedupe-then-count rewrite is the
    standard equivalent.

    Validity bound: this shape is for BOUNDED drains (availableNow /
    one-shot backfill) only. There is no event-time watermark, so the
    dropDuplicates state and the complete-mode aggregation state grow
    with the number of distinct (doc, digest) hits seen, and complete
    mode re-emits the full result every trigger. For unbounded
    continuous deployment use ``stream_contamination_continuous``
    below: watermarked ingest time + dropDuplicatesWithinWatermark +
    append-mode sealed windows, state bounded by the watermark horizon.
    The streaming twin of operators/curation.py:ngram_contamination.
    """
    from recon_spark.operators.curation import doc_ngrams

    src = spark.readStream.schema(schema_ddl).parquet(source_dir)
    bench = (
        doc_ngrams(benchmark, n)
        .select(F.md5("ngram").alias("g"))
        .distinct()
    )
    hits = (
        doc_ngrams(src, n)
        .select("id", F.md5("ngram").alias("g"))
        .join(F.broadcast(bench), "g")
        .dropDuplicates(["id", "g"])
    )
    return (
        hits.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_distinct_hits"))
        .select(F.col("id").alias("doc_id"), "n_distinct_hits")
    )


def stream_contamination_continuous(
    spark: SparkSession,
    source_dir: str,
    benchmark: DataFrame,
    n: int = 8,
    watermark: str = "2 hours",
    window: str = "1 hour",
    schema_ddl: str = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long, ingest_ts timestamp"
    ),
) -> DataFrame:
    """UNBOUNDED-stream decontamination gate — the continuous shape
    stream_contamination's docstring says a real deployment needs:

    - the arriving documents carry an ingest event-time column, and the
      watermark is set at the SOURCE (before the n-gram explode and the
      benchmark join), so every arriving row advances it — including
      clean documents that never survive the inner digest join;
    - per-(doc, digest) distinctness uses ``dropDuplicatesWithinWatermark``,
      so dedup state EXPIRES once the watermark passes instead of
      growing with every (doc, digest) pair ever seen;
    - the per-doc hit count aggregates by (ingest window, doc) in
      APPEND mode: each group seals and emits exactly once when the
      watermark passes its window end, and its aggregation state is
      dropped — both state stores are bounded by (watermark horizon x
      arrival rate), never by stream lifetime.

    Returns the streaming DataFrame (window_start_s BIGINT epoch
    seconds, doc_id, n_distinct_hits); caller picks sink + trigger.
    The batch twin is operators/curation.py:ngram_contamination — a
    drain of this stream equals the batch result for docs whose windows
    the final watermark has passed (tests push it with a sentinel file,
    the stream_user_sessions_continuous protocol).

    The benchmark digest set stays static + broadcast (stream-static
    broadcast join, shuffle-free): eval suites are MBs; re-deploy the
    gate to rotate benchmarks."""
    from recon_spark.operators.curation import doc_ngrams

    src = (
        spark.readStream.schema(schema_ddl)
        .parquet(source_dir)
        .withWatermark("ingest_ts", watermark)
    )
    bench = (
        doc_ngrams(benchmark, n)
        .select(F.md5("ngram").alias("g"))
        .distinct()
    )
    hits = (
        doc_ngrams(src, n, carry_cols=("ingest_ts",))
        .select("id", F.md5("ngram").alias("g"), "ingest_ts")
        .join(F.broadcast(bench), "g")
        .dropDuplicatesWithinWatermark(["id", "g"])
    )
    return (
        hits.groupBy(F.window("ingest_ts", window).alias("w"), "id")
        .agg(F.count(F.lit(1)).alias("n_distinct_hits"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            F.col("id").alias("doc_id"),
            "n_distinct_hits",
        )
    )


def stream_user_sessions_continuous(
    spark: SparkSession,
    source_dir: str,
    gap_ms: int = 1_800_000,
    watermark: str = "2 hours",
    schema_ddl: str = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ),
    user_buckets: int | None = None,
):
    """CONTINUOUS per-user sessionization — the EventTimeTimeout variant
    stream_user_sessions' docstring specifies for unbounded deployments.
    Emits one row per CLOSED session (user_id, session_start_ms,
    session_end_ms, n_events); a session closes when the event-time
    watermark passes its last event + gap, i.e. when no still-admissible
    event can possibly extend it.

    Cross-batch disorder: events are BUFFERED in state (not folded
    eagerly), so an event that arrives a batch late but within the
    watermark slots into the right session — each (data or timeout)
    invocation re-sorts the buffer, splits it into gap-separated
    sessions, emits every session whose end + gap <= watermark, and
    keeps the still-open tail buffered. State per user is therefore
    bounded by the events of sessions the watermark has not yet sealed
    (≈ one gap window of traffic), not by history: emitted sessions
    leave state, and state.remove() fires when the buffer drains.

    Timeout discipline: after each invocation with a non-empty buffer,
    setTimeoutTimestamp(max(last_ms + gap, wm + 1)) — the earliest
    instant the open session could seal (clamped above the current
    watermark, which Spark requires). Spark's no-data micro-batches
    (noDataMicroBatches, on by default) advance the watermark and fire
    these timeouts even when no new files arrive, so a drained
    availableNow run still seals every session the final watermark
    covers.

    Exactly-once: downstream should MERGE on (user_id, session_start_ms)
    — deterministic, so replayed micro-batches upsert identically (the
    SnapshotStore contract stream_pages_to_triples uses).

    ``user_buckets``: the r4 bench proved the per-user drain floor is
    the Python stage itself — ~5k pandas groups each paying DataFrame
    construction + a state-store row per micro-batch. Bucketed mode
    groups by pmod(user_id, K) instead: K fat state rows, each holding
    its users' buffers as parallel arrays (users/offsets/flat events —
    no nested arrays in the state struct), so per-group overhead and
    state-store commits shrink ~(n_users/K)x while the per-user
    session math — and therefore the emitted rows — stay identical
    (tests assert bit-equality between modes). Timeout per bucket =
    the EARLIEST next_seal over its users. The trade is per-key
    parallelism: with K buckets at most K tasks sessionize, so size K
    to ~4x the executor-core count of the stage, not to n_users.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = spark.readStream.schema(schema_ddl).parquet(source_dir)
    events = (
        src.withWatermark("ts", watermark)
        .select("user_id", "ts", "event_id")
    )

    def _sessions_of(ms_sorted: list[int]) -> list[tuple[int, int, int]]:
        out = []
        start = last = ms_sorted[0]
        n = 1
        for ms in ms_sorted[1:]:
            if ms - last > gap_ms:
                out.append((start, last, n))
                start, n = ms, 0
            n += 1
            last = ms
        out.append((start, last, n))
        return out

    def _sessionize(key, pdfs, state: GroupState):
        buf = list(state.get[0]) if state.exists else []
        for pdf in pdfs:
            if len(pdf):
                # force ns resolution before the int cast: pandas 2.x may
                # hand Arrow timestamps over as datetime64[us], and a raw
                # astype(int64) would then be off by 1000x
                buf.extend(
                    int(v) // 1_000_000
                    for v in pdf["ts"].astype("datetime64[ns]").astype("int64").tolist()
                )
        wm = state.getCurrentWatermarkMs()
        rows = []
        next_seal = None
        if buf:
            buf.sort()
            keep: list[int] = []
            consumed = 0
            for start, last, n in _sessions_of(buf):
                if last + gap_ms <= wm:
                    rows.append((key[0], start, last, n))
                    consumed += n
                else:
                    # earliest still-open session seals first: wake up
                    # then, not at the whole buffer's horizon
                    next_seal = last + gap_ms
                    keep = buf[consumed:]
                    break
            buf = keep
        if buf:
            state.update((buf,))
            state.setTimeoutTimestamp(max(next_seal, wm + 1))
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            rows,
            columns=["user_id", "session_start_ms", "session_end_ms", "n_events"],
        )

    def _sessionize_bucket(key, pdfs, state: GroupState):
        bufs: dict[int, list[int]] = {}
        if state.exists:
            users, offsets, evs = state.get
            lo = 0
            for u, hi in zip(users, offsets):
                bufs[int(u)] = list(evs[lo:hi])
                lo = hi
        for pdf in pdfs:
            if len(pdf):
                ms_list = (
                    pdf["ts"].astype("datetime64[ns]").astype("int64")
                    // 1_000_000
                ).tolist()
                for u, ms in zip(pdf["user_id"].tolist(), ms_list):
                    bufs.setdefault(int(u), []).append(int(ms))
        wm = state.getCurrentWatermarkMs()
        rows = []
        next_seal = None
        new_users: list[int] = []
        new_offsets: list[int] = []
        new_evs: list[int] = []
        for u in sorted(bufs):
            buf = sorted(bufs[u])
            keep: list[int] = []
            consumed = 0
            for start, last, n in _sessions_of(buf):
                if last + gap_ms <= wm:
                    rows.append((u, start, last, n))
                    consumed += n
                else:
                    seal = last + gap_ms
                    next_seal = seal if next_seal is None else min(next_seal, seal)
                    keep = buf[consumed:]
                    break
            if keep:
                new_users.append(u)
                new_evs.extend(keep)
                new_offsets.append(len(new_evs))
        if new_users:
            state.update((new_users, new_offsets, new_evs))
            state.setTimeoutTimestamp(max(next_seal, wm + 1))
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            rows,
            columns=["user_id", "session_start_ms", "session_end_ms", "n_events"],
        )

    out_ddl = (
        "user_id long, session_start_ms long, session_end_ms long, "
        "n_events long"
    )
    if user_buckets is not None:
        from pyspark.sql import functions as F

        return (
            events.withColumn(
                "bucket", F.pmod(F.col("user_id"), F.lit(user_buckets))
            )
            .groupBy("bucket")
            .applyInPandasWithState(
                _sessionize_bucket,
                outputStructType=out_ddl,
                stateStructType=(
                    "users array<bigint>, offsets array<int>, evs array<bigint>"
                ),
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType=out_ddl,
        stateStructType="evs array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
