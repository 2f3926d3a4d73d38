"""Skew handling (north_rule): a mega-conversation clustered into one input
partition must spread across workers under salting / range partitioning."""

from pyspark.sql import functions as F

from action_pdf_accessibility_paddle_docker_spark.plans.extraction import build_extraction
from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import make_row


def _skewed_df(spark):
    rows = [make_row(5, 0, t) for t in range(3000)]           # one mega conv
    rows += [make_row(5, c, t) for c in range(1, 20) for t in range(10)]
    # cluster by conv: the mega conv lands in ONE partition (the hostile layout)
    return spark.createDataFrame(rows).repartition(20, "conv_id")


def test_salt_spreads_mega_conversation(spark):
    df = _skewed_df(spark)
    out = build_extraction(df, salt=8, order_output=False)
    parts = (
        out.where(F.col("conv_id") == "conv-000000")
        .select("part_id").distinct().count()
    )
    assert parts >= 4, f"mega conv only touched {parts} partitions under salt"


def test_unsalted_clustered_input_serializes(spark):
    # control: without salt, the clustered mega conv stays in one partition
    df = _skewed_df(spark)
    out = build_extraction(df, order_output=False)
    parts = (
        out.where(F.col("conv_id") == "conv-000000")
        .select("part_id").distinct().count()
    )
    assert parts == 1


def test_range_order_also_spreads_mega_conversation(spark):
    # the ordered path splits a mega conv by turn ranges -- skew defense
    # without a separate salting pass
    df = _skewed_df(spark)
    out = build_extraction(df, order_output=True, order_partitions=8)
    parts = (
        out.where(F.col("conv_id") == "conv-000000")
        .select("part_id").distinct().count()
    )
    assert parts >= 2


def test_salted_output_equals_unsalted(spark):
    df = _skewed_df(spark)
    a = build_extraction(df, order_output=True).select(
        "conv_id", "turn_idx", "extracted_text").collect()
    b = build_extraction(df, salt=16, order_output=False).select(
        "conv_id", "turn_idx", "extracted_text").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hot_shingle_cap_bounds_pair_explosion(spark):
    """One universal shingle shared by every doc must not explode to O(n^2)
    pairs: the doc-frequency cap drops it from pair generation and reports
    the drop through the Observation (no silent caps)."""
    from pyspark.sql import Observation

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    n = 300
    # every doc contains the hot bigram "common token"; each also has a
    # unique tail so no two docs are actual near-duplicates. One genuine
    # dup pair keeps the final result non-empty (AQE's empty-relation
    # propagation would otherwise prune the observed subtree and the
    # metrics would never materialize -- documented in the operator).
    rows = [(i, f"common token unique{i} tail{i}") for i in range(n)]
    rows += [(1000, "alpha beta gamma delta"), (1001, "alpha beta gamma delta")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    obs = Observation("hot-shingles")
    out = ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=50, observation=obs)
    pairs = out.count()
    got = obs.get
    assert got["hot_shingles_dropped"] >= 1
    assert got["posting_lists"] >= got["hot_shingles_dropped"]
    # without the cap the hot shingle alone yields n*(n-1)/2 = 44850 pairs
    assert pairs == 1  # only the genuine dup pair survives

    # uncapped baseline on a small slice stays exact (oracle parity mode)
    small = df.where("doc_id < 20")
    exact = ngram_jaccard_pairs(small, threshold=0.1, max_doc_freq=None).count()
    capped_loose = ngram_jaccard_pairs(small, threshold=0.1, max_doc_freq=10_000).count()
    assert exact == capped_loose


def test_aqe_splits_skewed_lsh_bucket_join(spark):
    """SURVEY section 4.2 promises AQE skew-join as the runtime backstop for
    hot LSH buckets (a universal shingle / degenerate hyperplane bucket makes
    one join partition vastly larger than the rest). Evidence: a sort-merge
    join with one hot key, AQE skew thresholds lowered to demo scale, must
    show OptimizeSkewedJoin splitting the hot partition in the FINAL adaptive
    plan (the ``skew=true`` marker)."""
    s = spark
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # demo-scale thresholds so a few MB counts as "skewed"
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    old = {k: s.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            s.conf.set(k, v)
        # hot bucket 0: 60k rows on the left, all matched on the right
        left = s.range(0, 66000).select(
            F.when(F.col("id") < 60000, F.lit(0))
            .otherwise(F.col("id") % 97).alias("bucket"),
            F.concat(F.lit("payload-"), F.col("id")).alias("va"),
        )
        right = s.range(0, 300).select(
            (F.col("id") % 97).alias("bucket"),
            F.concat(F.lit("r-"), F.col("id")).alias("vb"),
        )
        joined = left.join(right, "bucket")
        # materialize THIS DataFrame's own query execution (count() would
        # spawn a separate execution and leave this plan isFinalPlan=false)
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                s.conf.unset(k)
            else:
                s.conf.set(k, v)


def test_chunk_dedup_hot_hash_never_joins_on_the_hash(spark):
    """chunk_dedup_stats' hot-chunk posture: the ONLY hash-keyed operation
    is a map-side-combined min aggregate (a hot hash reaches the reducer as
    one partial row per mapper); the canonical table is one row per
    distinct hash; every join is on doc_id. Evidence on a corpus where ~90%
    of documents are ONE boilerplate text: results exact AND no join
    operator keyed on the chunk hash in the plan (a window or join-back
    formulation would put the hot hash through a single unsplittable
    task -- AQE cannot split window partitions, and the reused explode
    stage blocks skew-join splitting)."""
    import re

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        chunk_dedup_stats,
    )

    boiler = "subscribe to our newsletter for updates " * 3  # 18 tokens
    docs = spark.range(0, 12000).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 < 9, F.lit(boiler.strip())
        ).otherwise(
            F.concat(F.lit("unique content piece number "), F.col("id"))
        ).alias("text"),
    )
    out = chunk_dedup_stats(docs, chunk_tokens=20)
    rows = out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()

    # no Window at all; every join keyed on doc_id, never the hash column
    assert "Window" not in plan
    for m in re.finditer(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\s*\[([^\]]*)\]", plan):
        assert "doc_id" in m.group(2), m.group(0)
        assert not m.group(2).startswith("h#"), m.group(0)

    # exactness: 10800 boilerplate docs share one text of 18 tokens -> 1
    # chunk each, exactly one corpus canonical; 1200 unique docs all canonical
    assert len(rows) == 12000
    total_dups = sum(r["n_dup_chunks"] for r in rows)
    assert total_dups == 10800 - 1
    assert all(r["n_chunks"] == 1 for r in rows)


def test_md5mix_pairs_exact_duplicates(spark):
    """The core MinHash guarantee: documents with IDENTICAL normalized
    shingle sets have identical md5mix signatures, land in the same band
    buckets, and always pair."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "ALPHA   beta GAMMA delta epsilon zeta"),   # same normalized set
        (3, "one two three four five six seven"),
        (4, "totally different content words here now"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {r["doc_id"]: list(r["sig"])
            for r in minhash_signatures(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]
    pairs = {(r["id_a"], r["id_b"])
             for r in minhash_lsh_candidates(df).collect()}
    assert (1, 2) in pairs


def test_md5mix_signatures_match_independent_python_reference(spark):
    """The md5mix family's Spark expressions vs a from-scratch Python
    implementation of the same published recipe (one md5 per shingle, two
    32-bit halves, h_i = (a_i*x1 % p + b_i*x2 % p + c_i) % p over
    p = 2^61-1): bit-equal minima per document. Independent of the DuckDB
    oracle (a third engine, scalar loops instead of SQL)."""
    import hashlib

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        MINHASH_MIX_PRIME,
        minhash_mix_constants,
        minhash_signatures,
        normalized as _norm_col,  # noqa: F401  (spark-side; python twin below)
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "The   QUICK brown fox, jumps over the lazy dog!"),
        (3, "one two one two one two repeated tokens here"),
    ]

    def py_normalize(t):
        # the python twin of dedup.normalized: trim, collapse whitespace,
        # lowercase (punctuation is KEPT -- tokens carry it)
        import re
        return re.sub(r"\s+", " ", t.strip()).lower()

    def py_signature(text, num_hashes=16):
        toks = py_normalize(text).split(" ")
        shingles = {f"{a} {b}" for a, b in zip(toks, toks[1:])} - {""}
        p = MINHASH_MIX_PRIME
        mix = minhash_mix_constants(num_hashes)
        sig = []
        for a, b, c in mix:
            best = None
            for sh in shingles:
                hx = hashlib.md5(sh.encode()).hexdigest()
                x1, x2 = int(hx[:8], 16), int(hx[8:16], 16)
                h = ((a * x1) % p + (b * x2) % p + c) % p
                best = h if best is None or h < best else best
            sig.append(best)
        return sig

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: list(r["sig"]) for r in minhash_signatures(df).collect()}
    for doc_id, text in docs:
        assert got[doc_id] == py_signature(text), doc_id


def test_lsh_tuning_matches_independent_integration():
    """The (bands, rows) choice equals an independent numpy integration of
    the MMDS S-curve L1 error; monotonicity and the documented default
    inflection hold; invalid inputs fail loudly."""
    import numpy as np
    import pytest

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        lsh_collision_prob,
        lsh_tuning,
    )

    # S-curve endpoints and the conventional inflection
    assert lsh_collision_prob(0.0, 4, 4) == 0.0
    assert lsh_collision_prob(1.0, 4, 4) == 1.0
    # the module default (16 hashes, 4x4) sits at (1/4)^(1/4) ~ 0.707
    assert lsh_tuning(16, 0.707)["bands"] == 4

    def np_error(b, r, t, n=200_000):
        s = (np.arange(n) + 0.5) / n
        p = 1.0 - (1.0 - s**r) ** b
        fp = p[s < t].sum() / n
        fn = (1.0 - p[s >= t]).sum() / n
        return fp + fn

    for n_hashes, t in [(16, 0.5), (16, 0.85), (128, 0.8), (12, 0.3)]:
        got = lsh_tuning(n_hashes, t)
        assert got["bands"] * got["rows_per_band"] == n_hashes
        errs = {
            r: np_error(n_hashes // r, r, t)
            for r in range(1, n_hashes + 1)
            if n_hashes % r == 0
        }
        best_r = min(errs, key=errs.get)
        assert got["rows_per_band"] == best_r, (n_hashes, t, errs)
        assert got["error"] == pytest.approx(errs[best_r], abs=1e-3)
    # a stricter threshold never LOWERS the chosen inflection point
    approx = [
        lsh_tuning(128, t)["approx_threshold"] for t in (0.3, 0.5, 0.7, 0.9)
    ]
    assert approx == sorted(approx)
    with pytest.raises(ValueError, match="threshold"):
        lsh_tuning(16, 1.0)
    with pytest.raises(ValueError, match="num_hashes"):
        lsh_tuning(0, 0.5)


def test_lsh_candidates_threshold_param(spark):
    """threshold= derives the banding: a strict threshold (high t -> more
    rows per band) pairs only the nearest duplicates, a loose one admits
    more candidate pairs; an explicit bands= alongside threshold= errors."""
    import pytest

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_lsh_candidates,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = [(0, base), (1, base + "lambda"), (2, base + "mu nu xi omicron pi rho")]
    docs += [(10 + i, f"totally different text number {i} " * 8) for i in range(3)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    loose = minhash_lsh_candidates(df, threshold=0.3).collect()
    strict = minhash_lsh_candidates(df, threshold=0.95).collect()
    assert len(strict) <= len(loose)
    pairs = {(r["id_a"], r["id_b"]) for r in loose}
    assert (0, 1) in pairs  # near-identical docs always pair loosely
    with pytest.raises(ValueError, match="not both"):
        minhash_band_buckets(df, bands=8, threshold=0.5)
    # an explicit bands equal to the DEFAULT alongside threshold= is also
    # rejected (None sentinel), never silently overridden
    with pytest.raises(ValueError, match="not both"):
        minhash_band_buckets(df, bands=4, threshold=0.5)


def test_span_dedup_hot_gram_exact_under_skew(spark):
    """duplicate_span_stats' hot-gram posture: a boilerplate span at 95%
    incidence puts every one of its gram hashes on ONE reducer key, but the
    winners side is a map-side-combined min (one partial per mapper) and the
    checkpointed occurrence table keeps the probe AQE-splittable. Evidence:
    removal counts EXACT on a 95%-hot corpus, and the plan joins only on the
    gram hash / doc_id -- never a nested-loop or cartesian fallback."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        duplicate_span_stats,
    )

    hot = "please subscribe to our channel for more updates every day"  # 10
    i = F.col("id").cast("string")
    # tail tokens each carry the doc id, so bridge windows stay doc-unique
    # and the removable island is exactly the 10 hot tokens
    tail = F.concat_ws(
        " ",
        F.concat(F.lit("u"), i, F.lit("a")),
        F.concat(F.lit("u"), i, F.lit("b")),
        F.concat(F.lit("u"), i, F.lit("c")),
        F.concat(F.lit("u"), i, F.lit("d")),
    )
    docs = spark.range(0, 4000).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 20 != 0, F.concat_ws(" ", F.lit(hot), tail)
        ).otherwise(
            F.concat(F.lit("fully original text item "), i),
        ).alias("text"),
    )
    out = duplicate_span_stats(docs, k=6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    total = out.agg(F.sum("n_removed_tokens").alias("rm")).first()["rm"]
    # every hot-span holder except the corpus-first (doc 1) loses exactly
    # the 10 hot tokens; bridges into the doc-unique tails stay
    n_hot = 4000 - 4000 // 20
    assert total == (n_hot - 1) * 10
