"""Streaming extraction: the same fused per-turn kernel over a file/Kafka
stream of transcript turns.

The reference is strictly batch (SURVEY.md section 2.8); this is the engine
extension for continuous ingestion at web scale. Because the kernel is
per-row, the streaming plan is stateless: readStream -> mapInArrow ->
writeStream with checkpointing gives exactly-once file sinks for free.
Event-time accounting (late-turn counts per conversation window) is the one
stateful add-on, built on watermarks + windowed aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.extraction import TRANSCRIPT_INPUT_DDL, build_extraction


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_INPUT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def conversation_activity(
    stream: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Stateful add-on: per-conversation windowed turn counts with a
    watermark bounding state for late turns."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("turns"),
            F.max("turn_idx").alias("max_turn_idx"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "conv_id", "turns", "max_turn_idx",
        )
    )


SESSION_OUT_DDL = (
    "conv_id string, n_turns bigint, n_chars bigint, "
    "first_ts timestamp, last_ts timestamp"
)
SESSION_STATE_DDL = "n_turns bigint, n_chars bigint, first_ts timestamp, last_ts timestamp"


def conversation_sessions(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "10 seconds"
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): fold each
    conversation's turns into running (n_turns, n_chars, first_ts, last_ts)
    state and EMIT one finalized row when the conversation has been idle for
    ``gap`` of event time -- the streaming twin of the batch
    ``fold_conversations`` (A7/A8), with the idle-gap semantics of
    ``q_sessionize``.

    State is bounded by the watermark: a conversation's state lives exactly
    until the event-time clock passes last_ts + gap (EventTimeTimeout), so
    10^9 concurrent conversations hold one 4-field row each, evicted on
    idle -- no unbounded accumulation. Arrow batches stream per group; no
    per-row Python.

    The idle gap is enforced on the DATA path too, not just by timeout: a
    batch containing turns that straddle a >gap silence (replay/catch-up,
    where the watermark lags and the timeout never fires between them)
    emits the earlier session(s) immediately -- without this, every
    historical replay would collapse gap-split sessions into one (the
    batch q_sessionize equivalence would only hold for live tailing).
    Out-of-order turns WITHIN the watermark fold into the live session
    (event-time order, per-batch sort); equivalence with the batch fold
    assumes watermark <= gap so an admitted late turn can never belong to
    an already-emitted earlier session. The tail caveat is inherent to
    watermark semantics: conversations in the final gap+watermark of an
    availableNow run stay in state and are not emitted -- run the batch
    fold over the tail window if completeness matters."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = _duration_ms(gap)

    def fold(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, c, f, l = state.get
            state.remove()
            yield pd.DataFrame(
                [{"conv_id": key[0], "n_turns": n, "n_chars": c,
                  "first_ts": f, "last_ts": l}]
            )
            return
        n, c, f, l = (state.get if state.exists else (0, 0, None, None))
        # gather this batch's turns and fold them in EVENT-TIME order so a
        # >gap silence inside the batch closes the earlier session
        events = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            # epoch directly from the pandas Timestamp (naive values are
            # session-tz wall time; .timestamp() on the datetime would
            # re-interpret them in the executor's SYSTEM timezone -- requires
            # spark.sql.session.timeZone=UTC, which this engine sets
            # everywhere; .value is tz-independent of the host)
            lens = pdf["text"].str.len().fillna(0)
            for ts, ch in zip(pdf["ts"], lens):
                events.append((int(ts.value // 1_000_000), ts.to_pydatetime(), int(ch)))
        events.sort(key=lambda e: e[0])
        closed = []
        l_ms = None if l is None else int(pd.Timestamp(l).value // 1_000_000)
        for ms, ts, ch in events:
            if l_ms is not None and ms - l_ms > gap_ms:
                closed.append({"conv_id": key[0], "n_turns": n, "n_chars": c,
                               "first_ts": f, "last_ts": l})
                n, c, f, l = 0, 0, None, None
            n += 1
            c += ch
            f = ts if (f is None or ts < f) else f
            l = ts if (l is None or ts > l) else l
            l_ms = ms if (l_ms is None or ms > l_ms) else l_ms
        if l_ms is None:  # no prior state and an all-empty batch: nothing
            return        # to track (defensive -- Spark does not invoke here)
        state.update((n, c, f, l))
        # fire when event time passes the LIVE session's last activity + gap
        # (armed from the folded state, never the batch max alone: a batch
        # of late-but-admitted turns must not rewind the timeout and emit a
        # merely-minutes-idle session early). Must stay above the current
        # watermark or Spark rejects the timestamp.
        fire_at = max(
            l_ms + gap_ms,
            state.getCurrentWatermarkMs() + 1,
        )
        state.setTimeoutTimestamp(fire_at)
        if closed:
            yield pd.DataFrame(closed)

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            fold,
            outputStructType=SESSION_OUT_DDL,
            stateStructType=SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    watermark: str = "30 minutes",
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Streaming exact dedup: drop turns whose normalized-text fingerprint
    was already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark``). The streaming twin of the batch
    ``dedup.exact_dedup``: same md5-of-normalized-text fingerprint recipe.

    NULL-text rows never merge: ``dropDuplicatesWithinWatermark`` treats
    NULL keys as EQUAL, which would irreversibly delete every NULL-text
    turn after the first (tool-call turns legitimately carry text=NULL) --
    so the key falls back to a per-row ``row:<id>`` value built from
    ``id_cols``, the same guard the CLI's streaming urldedup carries.

    State is one fingerprint per distinct text, evicted once the event-time
    watermark passes -- bounded by the dedup horizon, not the stream length,
    which is what makes this runnable forever at ingest scale. The first
    arrival wins (within a micro-batch, ties are broken arbitrarily but one
    row always survives)."""
    from ..operators.dedup import normalized

    return (
        stream.withColumn(
            "fingerprint",
            F.coalesce(F.md5(normalized(F.col("text"))), _row_key(id_cols)),
        )
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def _row_key(id_cols: tuple[str, ...]) -> "F.Column":
    """Per-row fallback dedup key from the id columns, NULL-DISTINCT per
    component: ``concat_ws`` silently skips NULL parts, so two distinct
    NULL-text rows like (conv_id=NULL, turn_idx=5) and (conv_id=5,
    turn_idx=NULL) would both key to ``row:#5`` and one would be
    irreversibly dropped -- exactly the NULL-collapse this key exists to
    prevent. Each component is therefore coalesced to an explicit sentinel
    before joining."""
    return F.concat_ws(
        "#", F.lit("row:"),
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>")) for c in id_cols],
    )


def streaming_near_dedup(
    stream: DataFrame,
    watermark: str = "30 minutes",
    bits: int | None = None,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Streaming NEAR-duplicate drop: key the watermarked dedup on the
    row-wise simhash (`dedup.simhash_col`) instead of the exact content
    fingerprint. Reworded-but-same-bag-of-words turns (reordered tokens,
    whitespace/case variants) collapse to one survivor.

    HONEST LIMIT -- collision rate is a function of ``bits`` and the number
    of distinct texts inside one horizon: at the 16-bit default the
    birthday bound reaches ~50% with only ~300 distinct texts per window,
    so "genuinely different content passes" holds for LOW-rate streams
    only. Size ``bits`` to the horizon volume (e.g. 32 for thousands, 64
    for millions of docs per window) -- a wider key is a weaker near-dup
    detector but stops deleting distinct content. NULL-text and
    tokenless/whitespace-only rows never merge (per-row ``row:<id>``
    fallback key, same guard as the exact form).

    This is only possible because simhash is computed as a stateless column
    expression -- `dropDuplicatesWithinWatermark` cannot sit downstream of a
    stateful explode+groupBy simhash. State is one simhash-keyed row per
    distinct value inside the horizon, evicted by the event-time
    watermark, so it is bounded by the dedup window at any corpus size."""
    from ..operators.dedup import SIMHASH_BITS, simhash_col

    row_key = _row_key(id_cols)
    sh = simhash_col(F.col("text"), bits=(bits or SIMHASH_BITS))
    keyed = F.coalesce(
        F.when(F.length(F.trim(F.col("text"))) > 0, sh.cast("string")),
        row_key,
    )
    return (
        stream.withColumn("simhash", keyed)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["simhash"])
    )


def streaming_near_dedup_against_corpus(
    stream: DataFrame,
    seen_buckets: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Drop arriving documents that share ANY MinHash LSH band bucket with
    the batch corpus's persisted bucket table -- the STREAMING half of the
    incremental near-dedup loop (``dedup.incremental_near_dedup`` is the
    batch/CDC half; both probe the same table with the same semantics).

    Entirely STATELESS: the band buckets are a row-wise column
    (``dedup.minhash_buckets_col``, value-pinned to the batch signatures),
    and "hit in any band" decomposes into one stream-static LEFT ANTI
    equi-join per band on that band's bucket value -- no stateful
    aggregate, no watermark requirement of its own, so it composes freely
    with the stateless curation stages and with
    ``streaming_near_dedup`` / ``streaming_exact_dedup`` (which handle
    WITHIN-stream duplicates; this operator only knows the corpus).
    Documents with no shingles have NULL buckets, match nothing, and pass
    -- same contract as the batch form, where they have no bucket rows.

    Scale: the static side re-resolves per micro-batch; write the bucket
    table ``partitionBy('band')`` and each of the per-band joins scans
    exactly its partition (partition-pruned). The stream side is
    micro-batch-sized; Spark broadcasts it when small. The appendix
    (persisting the survivors' buckets back) is deliberately NOT done
    here -- a stream updating the table it joins against would race its
    own micro-batches; ``corpus_job --streaming --state`` reads the
    committed neardup state read-only, and batch runs advance it.

    The table's stamps must equal ``dedup.BUCKET_STAMPS``, exactly as in
    the batch path (``dedup.check_stamps``)."""
    from ..operators.dedup import (
        BUCKET_STAMPS, LSH_BANDS, check_stamps, minhash_buckets_col,
    )

    # validate at construction -- AND keep validating per micro-batch: the
    # static side re-resolves its FILES every trigger, so a table rebuilt
    # out-of-band under a different family/banding mid-run would otherwise
    # silently admit every corpus near-dup (the probe columns would match
    # nothing). The row-level guard below re-reads the stamp values with
    # each micro-batch's file resolution and raises instead; stamp columns
    # are per-file constants, so the filter costs row-group-stats reads on
    # healthy files.
    check_stamps(seen_buckets, BUCKET_STAMPS)
    for col_name, expected in BUCKET_STAMPS.items():
        if col_name in seen_buckets.columns:
            seen_buckets = seen_buckets.where(
                F.when(F.col(col_name).isNull()
                       | (F.col(col_name) == F.lit(expected)), F.lit(True))
                .otherwise(F.raise_error(F.concat(
                    F.lit(f"bucket table {col_name} changed mid-run: "
                          f"expected {expected!r}, found "),
                    F.col(col_name),
                    F.lit(" -- restart the probe query against the "
                          "rebuilt table"),
                )))
            )
    out = stream.withColumn("_bb", minhash_buckets_col(F.col(text_col)))
    for b in range(LSH_BANDS):
        out = out.withColumn(
            f"_bkt{b}", F.element_at(F.col("_bb"), b + 1)["bucket"]
        )
    out = out.drop("_bb")
    for b in range(LSH_BANDS):
        sb = seen_buckets.where(F.col("band") == b).select(
            F.col("bucket").alias(f"_bkt{b}")
        )
        out = out.join(sb, f"_bkt{b}", "left_anti")
    return out.drop(*[f"_bkt{b}" for b in range(LSH_BANDS)])


def _duration_ms(s: str) -> int:
    """Parse the CalendarInterval-style duration strings Spark's watermark
    accepts (case-insensitive, singular/plural, ms through weeks) -- the
    ``gap`` knob must not reject values every other duration knob takes."""
    parts = s.split()
    if len(parts) != 2:
        raise ValueError(f"duration must be '<n> <unit>', got {s!r}")
    n, unit = parts
    mult = {"millisecond": 1, "second": 1_000, "minute": 60_000,
            "hour": 3_600_000, "day": 86_400_000, "week": 604_800_000}
    key = unit.lower().rstrip("s") if unit.lower() != "ms" else "millisecond"
    if key not in mult:
        raise ValueError(f"unsupported duration unit {unit!r} in {s!r}")
    return int(n) * mult[key]


def run_stream_to_parquet(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    thresholds: dict[int, float] | None = None,
    timeout_sec: float | None = None,
    detector_kind: str = "stub",
    detector_kw: dict | None = None,
):
    """End-to-end streaming job: file source -> extraction (the batch plan's
    kernel and detector, unordered) -> parquet sink with checkpointing
    (restart-safe). Returns the terminated query."""
    stream = read_transcript_stream(spark, input_path)
    out = build_extraction(
        stream, thresholds=thresholds, order_output=False,
        detector_kind=detector_kind, detector_kw=detector_kw,
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if timeout_sec is not None and not finished:
        # awaitTermination(timeout) returns False WITHOUT stopping the
        # query: returning a still-running query as "terminated" hands the
        # caller a partial snapshot while commits continue in background
        q.stop()
        raise TimeoutError(
            f"stream did not finish within {timeout_sec}s (query stopped)"
        )
    return q
