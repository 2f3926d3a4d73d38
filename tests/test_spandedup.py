"""Corpus-wide exact duplicate-SPAN removal (Lee et al. 2021 ExactSubstr,
arXiv:2107.06499): every duplicated run of >= k tokens is removed except its
corpus-first occurrence; shorter repeats are immune; untouched docs pass
through byte-exact."""

from pyspark.sql import functions as F

from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
    duplicate_span_stats,
    remove_duplicate_spans,
)

K = 4

# an 6-token span shared verbatim by docs 0/1/2 at DIFFERENT offsets
SHARED = "alpha bravo charlie delta echo foxtrot"
# a 3-token repeat (< k): never removable
SHORT = "tiny repeated bit"


def _corpus(spark):
    rows = [
        (0, f"{SHARED} zero unique tail words here"),
        (1, f"one opening {SHARED} and its own ending"),
        (2, f"two very different opening words {SHARED}"),
        # doc 3 repeats the shared span WITHIN itself twice, back to back:
        # both copies lose to doc 0 -> one merged island removes them all
        (3, f"{SHARED} {SHARED} three tail"),
        (4, f"四 {SHORT} and {SHORT} again nothing long enough"),
        (5, None),
        (6, ""),
        (7, "seven short"),  # < k tokens: no grams at all
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_remove_duplicate_spans_semantics(spark):
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(_corpus(spark), k=K).collect()
    }
    # doc 0 is the corpus-first occurrence (min doc_id): byte-exact keep
    assert out[0] == f"{SHARED} zero unique tail words here"
    # docs 1/2 lose exactly the 6 shared tokens, wherever they sat
    assert out[1] == "one opening and its own ending"
    assert out[2] == "two very different opening words"
    # doc 3: both in-doc copies are non-winners; the 12 removed positions
    # merge into one island (adjacent grams), tail survives
    assert out[3] == "three tail"
    # < k repeats are immune; byte-exact passthrough (no span removed)
    assert out[4] == f"四 {SHORT} and {SHORT} again nothing long enough"
    assert out[5] is None and out[6] == "" and out[7] == "seven short"


def test_duplicate_span_stats_matches_removal(spark):
    corpus = _corpus(spark)
    stats = {r["doc_id"]: r for r in duplicate_span_stats(corpus, k=K).collect()}
    assert set(stats) == set(range(8))  # every doc reports, incl. NULL text
    assert (stats[0]["n_tokens"], stats[0]["n_removed_tokens"]) == (11, 0)
    assert (stats[1]["n_tokens"], stats[1]["n_removed_tokens"]) == (12, 6)
    assert (stats[2]["n_tokens"], stats[2]["n_removed_tokens"]) == (11, 6)
    assert (stats[3]["n_tokens"], stats[3]["n_dup_spans"],
            stats[3]["n_removed_tokens"]) == (14, 1, 12)
    assert stats[4]["n_removed_tokens"] == 0
    assert (stats[5]["n_tokens"], stats[7]["n_removed_tokens"]) == (0, 0)
    # fp contract: md5 of exactly what the consuming form emits -- NULL text
    # pins a NULL fp (distinct from empty text's md5('')), mirroring the
    # remover's NULL passthrough
    rewritten = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(corpus, k=K).collect()
    }
    got = (
        corpus.sparkSession.createDataFrame(
            [(d, t) for d, t in rewritten.items()],
            "doc_id bigint, text string",
        )
        .select("doc_id", F.md5("text").alias("fp"))
        .collect()
    )
    for r in got:
        assert stats[r["doc_id"]]["rewritten_fp"] == r["fp"]
    assert stats[5]["rewritten_fp"] is None
    import hashlib
    assert stats[6]["rewritten_fp"] == hashlib.md5(b"").hexdigest()


def test_gram_join_never_broadcasts(spark):
    """The gram-hash join of ``_non_winner_positions`` stays sort-merge even
    when the grams are few: unpinned, AQE turns it into a broadcast of the
    exploded gram side here, and that broadcast is what runs a driver out
    of memory on a large corpus whose size estimate is small."""
    out = duplicate_span_stats(_corpus(spark).localCheckpoint(eager=False), k=K)
    out.collect()  # the adaptive plan is final only after a run
    final = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    gram_joins = [line for line in final.splitlines() if "Join [gh#" in line]
    assert gram_joins, final
    assert all("SortMergeJoin" in line for line in gram_joins), final


def test_span_winner_is_position_independent(spark):
    # the corpus-first occurrence is min(doc_id, pos): doc 5 holds the span
    # at pos 0 but doc 4 (later position, smaller id) wins
    rows = [
        (4, f"a much longer opening here {SHARED}"),
        (5, f"{SHARED} with trailing context words"),
    ]
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(
            spark.createDataFrame(rows, "doc_id bigint, text string"), k=K
        ).collect()
    }
    assert out[4] == f"a much longer opening here {SHARED}"
    assert out[5] == "with trailing context words"


def test_incremental_span_dedup_cdc_loop(spark):
    """CDC form: an arriving shard loses every span the corpus gram table
    has seen (even the shard-first occurrence), applies the batch rule to
    shard-internal duplicates, and emits only unseen grams; re-running the
    shard against the updated table drains it."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        incremental_span_dedup,
        span_gram_table,
    )

    corpus = spark.createDataFrame(
        [(0, f"{SHARED} corpus unique tail words")],
        "doc_id bigint, text string",
    )
    seen = span_gram_table(corpus, k=K).localCheckpoint()
    newspan = "golf hotel india juliet kilo lima"  # 6 tokens, shard-new
    shard = spark.createDataFrame(
        [
            (10, f"{SHARED} shard first has it too"),       # corpus-seen
            (11, f"{newspan} eleven closing words here"),   # shard-new span
            (12, f"twelve opens then {newspan}"),           # dup of 11's
            (13, "thirteen only unique words present here"),
        ],
        "doc_id bigint, text string",
    )
    rewritten, new_grams = incremental_span_dedup(shard, seen, k=K)
    out = {r["doc_id"]: r["text"] for r in rewritten.collect()}
    # corpus-seen span removed even from the shard's FIRST occurrence
    assert out[10] == "shard first has it too"
    # shard-internal duplicate: winner (min doc_id) keeps, later loses
    assert out[11] == f"{newspan} eleven closing words here"
    assert out[12] == "twelve opens then"
    assert out[13] == "thirteen only unique words present here"
    # appendix = grams of the REWRITTEN (committed) text only, no
    # corpus-seen grams, stamped
    seen_set = {r["gh"] for r in seen.collect()}
    new_rows = new_grams.collect()
    new_set = {r["gh"] for r in new_rows}
    assert new_set and not (new_set & seen_set)
    assert all(r["span_k"] == K for r in new_rows)
    # resubmitting the same shard against seen + appendix: every doc's
    # RETAINED >=k-token text is now corpus content, so it deduplicates
    # away; doc 12's surviving 3-token stub (< k) has no grams and stays
    updated = seen.unionByName(new_grams).localCheckpoint()
    drained, leftover = incremental_span_dedup(shard, updated, k=K)
    out2 = {r["doc_id"]: r["text"] for r in drained.collect()}
    assert out2[10] == "" and out2[11] == "" and out2[13] == ""
    assert out2[12] == "twelve opens then"
    assert leftover.count() == 0


def test_incremental_span_appendix_never_claims_excised_text(spark):
    """Straddle grams (windows crossing an excised-span boundary) exist in
    no committed document; appending them would mark text as corpus-seen
    that the corpus does not contain, so a LATER shard's sole copy of that
    text would be silently destroyed (review-pass-8 repro)."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        incremental_span_dedup,
        span_gram_table,
    )

    corpus = spark.createDataFrame(
        [(0, f"{SHARED} corpus tail")], "doc_id bigint, text string"
    )
    seen = span_gram_table(corpus, k=K).localCheckpoint()
    # shard 1: the seen span + a short suffix; excision leaves 'bb cc'
    # (< k tokens -> contributes nothing), and the straddle windows
    # ('...foxtrot bb', '...foxtrot bb cc') must NOT enter the appendix
    s1 = spark.createDataFrame(
        [(10, f"{SHARED} bb cc")], "doc_id bigint, text string"
    )
    r1, ap1 = incremental_span_dedup(s1, seen, k=K)
    assert r1.collect()[0]["text"] == "bb cc"
    assert ap1.count() == 0  # nothing >=k tokens survived shard 1
    # shard 2 holds the ONLY corpus copy of a straddle-like sequence: it
    # must survive in full
    updated = seen.unionByName(ap1).localCheckpoint()
    s2 = spark.createDataFrame(
        [(20, "echo foxtrot bb cc xx yy")], "doc_id bigint, text string"
    )
    r2, _ap2 = incremental_span_dedup(s2, updated, k=K)
    assert r2.collect()[0]["text"] == "echo foxtrot bb cc xx yy"


def test_incremental_span_dedup_k_stamp_guard(spark):
    """A persisted gram table probed under a different k must error loudly
    (k-specific hashes match nothing -- silent admit-everything otherwise);
    an unstamped table is rejected outright."""
    import pytest

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        check_stamps,
        incremental_span_dedup,
        span_gram_table,
    )

    corpus = spark.createDataFrame(
        [(0, f"{SHARED} corpus unique tail words")],
        "doc_id bigint, text string",
    )
    seen = span_gram_table(corpus, k=K)
    check_stamps(seen, {"span_k": K})  # matching k passes
    with pytest.raises(ValueError, match="span_k"):
        incremental_span_dedup(corpus, seen, k=K + 1)
    with pytest.raises(ValueError, match="stamp"):
        check_stamps(seen.drop("span_k"), {"span_k": K})
    # a NULL stamp on some rows is unstamped too (span_k is required)
    with pytest.raises(ValueError, match="stamp"):
        check_stamps(seen.unionByName(
            seen.withColumn("span_k", seen["span_k"] * None)), {"span_k": K})


def test_contamination_scores_union_across_benchmarks(spark):
    """Doc-level contamination aggregates hits across the WHOLE benchmark
    suite: a train doc overlapping two bench docs at ~25% each scores ~50%
    doc-level even though no single pair clears decontaminate's 30%."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        contamination_scores,
        decontaminate,
    )

    # 9 tokens -> 8 distinct bigrams; bench0 holds bigrams of the first
    # half, bench1 of the second half
    train = spark.createDataFrame(
        [(0, "aa bb cc dd ee ff gg hh ii"), (1, "zz yy xx ww vv uu tt ss rr")],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "aa bb cc dd"), (101, "ff gg hh ii")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in contamination_scores(train, bench).collect()}
    # doc 0: 8 shingles; hits = {aa bb, bb cc, cc dd} + {ff gg, gg hh, hh ii}
    assert (got[0]["n_shingles"], got[0]["n_contaminated"]) == (8, 6)
    assert got[0]["contamination_frac"] == 0.75
    # doc 1: no overlap at all
    assert got[1]["n_contaminated"] == 0
    # the pairwise form at 0.5 sees NO pair (each bench covers only 3/8)
    assert decontaminate(train, bench, min_overlap_frac=0.5).count() == 0


def test_span_k_threshold_binds(spark):
    # the shared run is exactly 6 tokens: k=6 still removes it, k=7 cannot
    rows = [(0, f"{SHARED} zero tail"), (1, f"one {SHARED} tail")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    at6 = {r["doc_id"]: r["text"] for r in remove_duplicate_spans(df, k=6).collect()}
    at7 = {r["doc_id"]: r["text"] for r in remove_duplicate_spans(df, k=7).collect()}
    assert at6[1] == "one tail"
    assert at7[1] == f"one {SHARED} tail"
