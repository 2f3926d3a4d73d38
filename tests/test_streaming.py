"""Structured Streaming extraction: stream output == batch output; restart
resumes from checkpoint without duplicates."""

import pytest

from action_pdf_accessibility_paddle_docker_spark.plans.extraction import build_extraction
from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import (
    write_transcripts_parquet,
)
from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
    conversation_activity,
    read_transcript_stream,
    run_stream_to_parquet,
)


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory):
    p = tmp_path_factory.mktemp("stream_in")
    n = write_transcripts_parquet(str(p), n_convs=12, median_turns=4, seed=11,
                                  rows_per_file=64)
    return str(p), n


def _assert_finished(q, sec: int = 300) -> None:
    """awaitTermination WITH a timeout returns False instead of raising --
    a contended box must fail loudly here, not as a confusing empty-output
    assertion downstream."""
    assert q.awaitTermination(sec), f"stream did not finish within {sec}s"


def test_stream_equals_batch(spark, stream_input, tmp_path):
    path, n = stream_input
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_stream_to_parquet(spark, path, out, ckpt, timeout_sec=120)

    got = spark.read.parquet(out)
    assert got.count() == n
    batch = build_extraction(spark.read.parquet(path), order_output=False)
    a = sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"]) for r in got.collect()
    )
    b = sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"]) for r in batch.collect()
    )
    assert a == b


def test_stream_restart_no_duplicates(spark, stream_input, tmp_path):
    path, n = stream_input
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    run_stream_to_parquet(spark, path, out, ckpt, timeout_sec=120)
    # second run with the same checkpoint: no new data -> no duplicates
    run_stream_to_parquet(spark, path, out, ckpt, timeout_sec=120)
    got = spark.read.parquet(out)
    assert got.count() == n
    assert got.select("conv_id", "turn_idx").distinct().count() == n


def test_conversation_activity_windows(spark, stream_input, tmp_path):
    path, n = stream_input
    stream = read_transcript_stream(spark, path)
    agg = conversation_activity(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("activity")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)
    rows = spark.sql("select * from activity").collect()
    # append mode only emits windows closed by the watermark; with a bounded
    # file source the final watermark closes all but the newest windows
    assert all(r["turns"] >= 1 for r in rows)
    total_convs = {r["conv_id"] for r in rows}
    assert len(total_convs) >= 1


def test_conversation_sessions_stateful(spark, tmp_path):
    """applyInPandasWithState session fold: conversations emit exactly one
    finalized row once idle past the gap; counts match a batch groupBy."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta, timezone

    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        conversation_sessions,
    )

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    src = tmp_path / "in"
    src.mkdir()

    def write(name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), str(src / name))

    write("f0.parquet", [
        dict(conv_id="a", turn_idx=i, role="user", text="x" * (i + 1), tool="",
             ts=t0 + timedelta(seconds=i)) for i in range(3)
    ] + [
        dict(conv_id="b", turn_idx=i, role="user", text="yy", tool="",
             ts=t0 + timedelta(seconds=10 + i)) for i in range(2)
    ])
    # sentinel conversation 2h later: advances the watermark past a+b's
    # idle gap so their state times out and flushes
    write("f1.parquet", [
        dict(conv_id="z", turn_idx=0, role="user", text="late", tool="",
             ts=t0 + timedelta(hours=2)),
    ])
    # the file source orders micro-batches by mtime: under load the two
    # writes can tie and f1 (the sentinel) can be read FIRST, advancing the
    # watermark before a/b arrive -- they'd be dropped as late and the test
    # would flake (the mtime-tie hazard, see test_streaming_near_dedup).
    # Pin the intended order explicitly.
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(src / "f0.parquet", (now - 10, now - 10))
    _os.utime(src / "f1.parquet", (now, now))

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = conversation_sessions(stream, gap="30 minutes", watermark="10 seconds")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)

    got = {
        r["conv_id"]: r
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # a and b idled out; z is still live state (no later watermark advance)
    assert set(got) == {"a", "b"}
    assert got["a"]["n_turns"] == 3 and got["a"]["n_chars"] == 1 + 2 + 3
    assert got["b"]["n_turns"] == 2 and got["b"]["n_chars"] == 4
    assert got["a"]["first_ts"] < got["a"]["last_ts"]


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate normalized texts collapse to
    one survivor across micro-batches; distinct texts all pass."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta, timezone

    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        streaming_exact_dedup,
    )

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    src = tmp_path / "in"
    src.mkdir()

    def write(name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), str(src / name))

    # batch 1: two distinct texts, one internal duplicate (whitespace/case
    # variant -- the normalizer must collapse it)
    write("f0.parquet", [
        dict(conv_id="a", turn_idx=0, role="user", text="Hello   World", tool="",
             ts=t0),
        dict(conv_id="a", turn_idx=1, role="user", text="hello world", tool="",
             ts=t0 + timedelta(seconds=1)),
        dict(conv_id="b", turn_idx=0, role="user", text="unique one", tool="",
             ts=t0 + timedelta(seconds=2)),
    ])
    # batch 2 (separate micro-batch via maxFilesPerTrigger=1): a cross-batch
    # duplicate within the watermark horizon + a fresh text
    write("f1.parquet", [
        dict(conv_id="c", turn_idx=0, role="user", text="HELLO WORLD", tool="",
             ts=t0 + timedelta(seconds=3)),
        dict(conv_id="c", turn_idx=1, role="user", text="unique two", tool="",
             ts=t0 + timedelta(seconds=4)),
    ])

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_exact_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    fps = [r["fingerprint"] for r in rows]
    assert len(fps) == len(set(fps)), "duplicate fingerprints survived"
    # exactly one hello-world variant + the two uniques
    assert len(rows) == 3
    assert sorted(set(" ".join(r["text"].lower().split()) for r in rows)) == [
        "hello world", "unique one", "unique two",
    ]


def test_streaming_near_dedup(spark, tmp_path):
    """Near-dup drop keyed on row-wise simhash: a token-REORDERED variant
    (different exact fingerprint, same bag of words) collapses across
    micro-batches; distinct content passes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta, timezone

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        normalized,
    )
    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        streaming_near_dedup,
    )
    from pyspark.sql import functions as F

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    src = tmp_path / "in"
    src.mkdir()

    def write(name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), str(src / name))

    original = "alpha beta gamma delta epsilon"
    reordered = "Epsilon   delta GAMMA beta alpha"  # same tokens, new order/case
    write("f0.parquet", [
        dict(conv_id="a", turn_idx=0, role="user", text=original, tool="", ts=t0),
        dict(conv_id="b", turn_idx=0, role="user", text="something else entirely",
             tool="", ts=t0 + timedelta(seconds=1)),
    ])
    write("f1.parquet", [
        dict(conv_id="c", turn_idx=0, role="user", text=reordered, tool="",
             ts=t0 + timedelta(seconds=2)),
        dict(conv_id="c", turn_idx=1, role="user", text="fresh new content here",
             tool="", ts=t0 + timedelta(seconds=3)),
    ])

    # precondition: the reordered variant is NOT an exact duplicate
    pre = spark.createDataFrame(
        [(original,), (reordered,)], "text string"
    ).select(F.md5(normalized(F.col("text"))).alias("fp")).collect()
    assert pre[0]["fp"] != pre[1]["fp"]

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_near_dedup(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 3
    texts = sorted(r["text"] for r in rows)
    # the contract is exactly ONE survivor of the near-dup pair; WHICH one
    # depends on micro-batch file order (mtime ties under load make it
    # nondeterministic -- observed flake in a contended full-suite run)
    assert texts[1:] == ["fresh new content here", "something else entirely"]
    assert texts[0] in (original, reordered)
    assert len(set(r["simhash"] for r in rows)) == 3


def test_stateless_text_ops_compose_on_streams(spark, tmp_path):
    """The text-pipeline operators (line filter -> PII scrub -> quality
    stats) are stateless projections, so the same composition must run
    unchanged on a stream and equal the batch result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators.linefilter import (
        apply_line_filter,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators.pii import scrub_pii
    from action_pdf_accessibility_paddle_docker_spark.operators.textstats import (
        token_count,
    )

    rows = [
        dict(doc_id=1, text=(
            "good first line with an email a@b.io right here.\n"
            "drop this fragment\n"
            "second decent line mentions 10.0.0.1 host.\n"
            "third line closes the document properly."
        )),
        dict(doc_id=2, text="too few lines survive here.\nnope"),
    ]
    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(
        pa.Table.from_pylist(rows, pa.schema([("doc_id", pa.int64()), ("text", pa.string())])),
        str(src / "f0.parquet"),
    )

    def compose(df):
        cleaned = apply_line_filter(df, min_kept_lines=2)
        return cleaned.select(
            "doc_id",
            scrub_pii(F.col("text")).alias("text"),
            token_count(F.col("text")).alias("n_tokens"),
        )

    batch = compose(spark.read.parquet(str(src))).collect()

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    q = (
        compose(stream)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)
    streamed = spark.read.parquet(str(tmp_path / "out")).collect()

    key = lambda r: (r["doc_id"], r["text"], r["n_tokens"])
    assert sorted(map(key, batch)) == sorted(map(key, streamed))
    assert len(batch) == 1 and batch[0]["doc_id"] == 1
    assert "<EMAIL>" in batch[0]["text"] and "<IP>" in batch[0]["text"]
    assert "drop this fragment" not in batch[0]["text"]


def test_streaming_near_dedup_survives_restart(spark, tmp_path):
    """The near-dup state store must survive a checkpoint restart: a
    bag-of-words duplicate arriving in a SECOND availableNow run (same
    checkpoint) is still dropped against phase-1 state."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta, timezone

    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        streaming_near_dedup,
    )

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    src = tmp_path / "in"
    src.mkdir()

    def write(name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), str(src / name))

    def run_once():
        stream = (
            spark.readStream.schema(
                "conv_id string, turn_idx int, role string, text string, "
                "tool string, ts timestamp"
            ).parquet(str(src))
        )
        q = (
            streaming_near_dedup(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        _assert_finished(q)

    write("f0.parquet", [
        dict(conv_id="a", turn_idx=0, role="user", text="omega psi chi phi",
             tool="", ts=t0),
    ])
    run_once()
    # phase 2: token-reordered duplicate + one fresh doc, NEW run, SAME ckpt
    write("f1.parquet", [
        dict(conv_id="b", turn_idx=0, role="user", text="phi chi psi OMEGA",
             tool="", ts=t0 + timedelta(minutes=5)),
        dict(conv_id="b", turn_idx=1, role="user", text="totally new words here",
             tool="", ts=t0 + timedelta(minutes=6)),
    ])
    run_once()

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["omega psi chi phi", "totally new words here"]


def test_streaming_near_dedup_against_corpus_bucket_table(spark, tmp_path):
    """The stateless stream-static corpus probe: arriving docs sharing ANY
    band bucket with the persisted batch bucket table are dropped; fresh
    docs and shingle-less docs pass; the survivors equal the batch
    incremental path's cross-corpus verdict on the same shard (the
    within-shard half is deliberately out of scope -- compose
    streaming_near_dedup/streaming_exact_dedup for that). Foreign stamps
    are refused in tests/test_state_store.py."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta, timezone

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        incremental_near_dedup,
        minhash_band_buckets,
    )
    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        streaming_near_dedup_against_corpus,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fresh = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words live here okay")],
        "doc_id long, text string",
    )
    seen_path = tmp_path / "seen_buckets"
    minhash_band_buckets(corpus).write.partitionBy("band").parquet(str(seen_path))
    seen = spark.read.parquet(str(seen_path))

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    src = tmp_path / "in"
    src.mkdir()
    shard_rows = [
        dict(doc_id=10, text=base.upper().replace(" ", "   ")),  # corpus hit
        dict(doc_id=11, text=fresh),                             # genuinely new
        dict(doc_id=12, text="oneword"),                         # no shingles
    ]
    pq.write_table(pa.Table.from_pylist(
        [dict(r, ts=t0 + timedelta(seconds=r["doc_id"])) for r in shard_rows],
        schema=schema,
    ), str(src / "f0.parquet"))

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(str(src))
    q = (
        streaming_near_dedup_against_corpus(stream, seen)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)
    survivors = {r["doc_id"]
                 for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert survivors == {11, 12}

    # batch twin on the same shard: the cross-corpus verdict agrees (no
    # within-shard near-dup pairs in this shard, so the CC half is inert)
    shard_df = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in shard_rows],
        "doc_id long, text string",
    )
    batch_surv, _ = incremental_near_dedup(shard_df, seen)
    assert {r["doc_id"] for r in batch_surv.collect()} == survivors


def test_sessions_split_gap_inside_one_batch(spark, tmp_path):
    """Replay/catch-up shape: turns straddling a >gap silence land in ONE
    micro-batch (the watermark never ticks between them), so the data path
    itself must close the earlier session -- previously every historical
    replay collapsed gap-split sessions into one."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta, timezone

    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        conversation_sessions,
    )

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    src = tmp_path / "in"
    src.mkdir()
    # ONE file: two turns at 10:00ish, a 2h silence, two turns at 12:00ish
    pq.write_table(pa.Table.from_pylist([
        dict(conv_id="a", turn_idx=0, role="user", text="xx", tool="", ts=t0),
        dict(conv_id="a", turn_idx=1, role="user", text="yyy", tool="",
             ts=t0 + timedelta(seconds=30)),
        dict(conv_id="a", turn_idx=2, role="user", text="zzzz", tool="",
             ts=t0 + timedelta(hours=2)),
        dict(conv_id="a", turn_idx=3, role="user", text="w", tool="",
             ts=t0 + timedelta(hours=2, seconds=10)),
    ], schema=schema), str(src / "f0.parquet"))

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        ).parquet(str(src))
    )
    out = conversation_sessions(stream, gap="30 minutes", watermark="10 seconds")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)
    rows = sorted(
        spark.read.parquet(str(tmp_path / "out")).collect(),
        key=lambda r: r["first_ts"],
    )
    # the 10:00 session closes ON THE DATA PATH (same batch); the 12:00
    # session stays live state (no later watermark advance) -- tail caveat
    assert len(rows) == 1
    assert (rows[0]["n_turns"], rows[0]["n_chars"]) == (2, 5)


def test_streaming_exact_dedup_null_text_never_merges(spark, tmp_path):
    """dropDuplicatesWithinWatermark treats NULL keys as equal: without the
    per-row fallback key, every NULL-text turn after the first would be
    irreversibly deleted."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta, timezone

    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        streaming_exact_dedup,
    )

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(pa.Table.from_pylist([
        dict(conv_id="a", turn_idx=0, role="tool", text=None, tool="t",
             ts=t0),
        dict(conv_id="a", turn_idx=1, role="tool", text=None, tool="t",
             ts=t0 + timedelta(seconds=1)),
        dict(conv_id="b", turn_idx=0, role="user", text="same text", tool="",
             ts=t0 + timedelta(seconds=2)),
        dict(conv_id="c", turn_idx=0, role="user", text="same  TEXT", tool="",
             ts=t0 + timedelta(seconds=3)),  # normalized dup of b
    ], schema=schema), str(src / "f0.parquet"))
    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        ).parquet(str(src))
    )
    q = (
        streaming_exact_dedup(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    # both NULL-text turns survive; the normalized text dup collapses
    assert sum(1 for r in rows if r["text"] is None) == 2
    assert sum(1 for r in rows if r["text"] is not None) == 1


def test_streaming_dedup_null_id_components_stay_distinct(spark, tmp_path):
    """The per-row fallback key must be NULL-DISTINCT per id component:
    concat_ws silently skips NULL parts, so (conv_id=NULL, turn_idx=5) and
    (conv_id='5', turn_idx=NULL) would both key to 'row:#5' and one NULL-
    text row would be irreversibly dropped (round-7 advice item)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta, timezone

    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        streaming_exact_dedup,
    )

    t0 = datetime(2026, 1, 1, tzinfo=timezone.utc)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(pa.Table.from_pylist([
        dict(conv_id=None, turn_idx=5, role="tool", text=None, tool="t", ts=t0),
        dict(conv_id="5", turn_idx=None, role="tool", text=None, tool="t",
             ts=t0 + timedelta(seconds=1)),
    ], schema=schema), str(src / "f0.parquet"))
    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp"
        ).parquet(str(src))
    )
    q = (
        streaming_exact_dedup(stream, watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    _assert_finished(q)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) == 2  # neither NULL-component row was dropped


def test_duration_ms_accepts_sparks_unit_domain():
    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        _duration_ms,
    )

    assert _duration_ms("1 day") == 86_400_000
    assert _duration_ms("2 weeks") == 2 * 604_800_000
    assert _duration_ms("500 milliseconds") == 500
    assert _duration_ms("500 ms") == 500
    assert _duration_ms("90 Seconds") == 90_000
    import pytest

    with pytest.raises(ValueError):
        _duration_ms("1 fortnight")
    with pytest.raises(ValueError):
        _duration_ms("30")
