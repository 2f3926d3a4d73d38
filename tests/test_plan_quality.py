"""Physical-plan quality gates: pushdown, broadcast, codegen, no stray Python.

These pin the scale-critical plan shapes so a regression (e.g. a filter that
stops reaching the scan, a broadcast that degrades to shuffle) fails fast."""

from pyspark.sql import functions as F

from action_pdf_accessibility_paddle_docker_spark.plans import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    fn, _ = Q.REGISTRY[name]
    return fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_to_scan(spark):
    plan = _plan(spark, "q_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: only the referenced columns are read
    assert "l_comment" not in plan


def test_region_revenue_broadcasts_dims(spark):
    plan = _plan(spark, "q_region_revenue")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_theta_range_join_is_equi_join_not_bnlj(spark):
    plan = _plan(spark, "q_theta_range_join")
    # the bucketed rewrite must produce a hash join on the bucket key,
    # never a broadcast nested loop over the raw interval predicate
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_jvm_only_operators_have_no_python(spark):
    for name in ("q_doc_stats", "q_dedup_exact", "q_minhash_lsh", "q_simhash",
                 "q_ann_topk", "q_asof_join", "q_pii_redact", "q_dup_ngrams",
                 "q_chunk_dedup", "q_grouping_sets", "q_line_filter"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "MapInArrow" not in plan, name


def test_ann_brute_force_broadcasts_query_side_not_corpus(spark):
    """The corpus is the 100 TB relation: it must STREAM past a replicated
    (small) query batch, never be the broadcast build side. The query
    relation carries the filter vec_id < 20 -- that filtered scan is the one
    that must sit under the BroadcastExchange."""
    from action_pdf_accessibility_paddle_docker_spark.operators.similarity import (
        brute_force_topk,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = brute_force_topk(emb, emb.where(F.col("vec_id") < 20), k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin BuildLeft" in plan, plan[:2000]
    # the broadcast subtree (between the exchange and the corpus-side scan)
    # must contain the query-side filter
    broadcast_part = plan.split("BroadcastExchange")[1]
    assert "vec_id" in broadcast_part
    assert "20" in broadcast_part.split("Scan parquet")[0]


def test_near_dup_lsh_is_equi_join_not_cross(spark):
    """Default near-dup path: candidates meet in a (band, bucket) hash join;
    no cartesian/BNLJ anywhere in the plan."""
    from action_pdf_accessibility_paddle_docker_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = (
        embedding_near_dup_pairs(emb, threshold=0.35)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The training corpus is the 100 TB side; the shingle match must be a
    broadcast hash join with the (small) benchmark relation as build side."""
    plan = _plan(spark, "q_decontaminate")
    assert "BroadcastHashJoin" in plan
    # the broadcast subtree carries the benchmark filter (doc_id % 50 = 0)
    broadcast_part = plan.split("BroadcastExchange")[1].split("Scan parquet")[0]
    assert "% 50" in broadcast_part


def test_semi_anti_join_shapes(spark):
    plan = _plan(spark, "q_semi_anti_join")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_column_pruned_scan_for_doc_stats(spark):
    plan = _plan(spark, "q_doc_stats")
    assert "ReadSchema" in plan
    # only doc_id + text needed
    assert "n_chars" not in plan.split("ReadSchema")[1][:200]


def test_tfidf_broadcasts_vocab_side_not_corpus(spark):
    plan = _plan(spark, "q_tfidf_top_terms")
    # both the docfreq (vocab-sized) join and the 1-row corpus-count cross
    # join must be broadcasts; the corpus term table is never shuffled for
    # a join (its only shuffles are the tf groupBy and the per-doc window)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row cross join rides broadcast
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_signatures_are_one_arrow_udf_plan_size_dim_independent(spark):
    """The banded-LSH signature must be ONE Arrow-batched Python node per
    relation with the plane matrices in the UDF closure: the previous
    literal-array formulation grew the plan by O(dim x bands) literal nodes
    and blew up codegen at real embedding dims (round-2 verdict item)."""
    import numpy as np

    from action_pdf_accessibility_paddle_docker_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    def plan_for(dim):
        rows = [(i, np.random.default_rng(i).standard_normal(dim).tolist())
                for i in range(4)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        return (
            embedding_near_dup_pairs(df, threshold=0.9, dim=dim,
                                     n_bands=16, planes_per_band=8)
            ._jdf.queryExecution().executedPlan().toString()
        )

    small, big = plan_for(8), plan_for(1024)
    # the signature stage is Arrow-batched Python, exactly once per join side
    assert big.count("ArrowEvalPython") == 2
    # plan text must not scale with embedding dimension (literal planes did)
    assert len(big) < 1.2 * len(small) + 2000, (len(small), len(big))


def test_simhash_column_form_equals_batch_form(spark):
    """The streaming column form (`simhash_col`, interpreted HOF fold) and
    the batch form (codegen'd explode+agg -- measured 1.8x faster, which is
    why batch keeps it) must produce identical hashes."""
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        simhash,
        simhash_col,
    )

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    b = {
        r["doc_id"]: r["simhash"]
        for r in df.select("doc_id", simhash_col(F.col("text")).alias("simhash")).collect()
    }
    assert a == {k: b[k] for k in a}  # batch drops tokenless docs; values equal


def test_quality_signals_are_shuffle_free_projections(spark):
    """The heuristic gate OPERATOR (incl. its merged repetition-signal
    columns) stays one row-wise array-expression projection (round 3): no
    aggregate, no join, no explode. The harness entry grew a classifier leg
    in round 6, so the operator is gated directly here and the composed
    entry's shape is pinned by test_quality_gate_entry_composed_shape."""
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        textstats as T,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        T.quality_gate(docs, include_signals=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "Generate" not in plan


def test_quality_gate_entry_composed_shape(spark):
    """q_quality_gate = gate projection + classifier scoring on ONE scan:
    exactly one documents leaf (the gate columns ride the explode as
    grouping keys -- no doc_id re-join, no SortAggregate demotion from
    first()-over-strings, no sort-merge join anywhere), the weights side a
    broadcast hash join."""
    from action_pdf_accessibility_paddle_docker_spark.plans.queries import (
        _quality_gate_scored,
    )

    scoring_plan = (
        _quality_gate_scored(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    doc_scans = [
        ln for ln in scoring_plan.splitlines()
        if "Scan parquet" in ln and "documents" in ln
    ]
    assert len(doc_scans) == 1, scoring_plan
    assert "BroadcastHashJoin" in scoring_plan
    assert "SortMergeJoin" not in scoring_plan
    assert "SortAggregate" not in scoring_plan
    # the full row checkpoints the tiny per-doc scored frame (round 7: the
    # top-fraction cut references it a second time, and AQE gives no
    # cross-reference exchange reuse) -- the EXECUTED final plan must read
    # the checkpoint on both branches (zero parquet re-scans), with the
    # 1-row percentile cutpoint broadcast back (BNLJ Cross on one row is
    # the deliberate 1-row-cross-join pattern, not an accident)
    fn, _ = Q.REGISTRY["q_quality_gate"]
    df = fn(spark, SF_DIR)
    # pin the query execution BEFORE the action: once the lazy checkpoint
    # has materialized, a fresh _jdf.queryExecution() hands back the
    # CHECKPOINT's own execution (the scored frame), not the final query's
    qe = df._jdf.queryExecution()
    df.collect()  # materializes the lazy checkpoint; AQE finalizes
    final = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    assert "Scan parquet" not in final and "FileScan" not in final, final
    assert "Scan ExistingRDD" in final
    assert "SortMergeJoin" not in final
    assert "BroadcastExchange" in final


def test_lm_quality_has_no_global_window_and_no_model_broadcast_hint(spark):
    """Round-4 consolidation gates: the CCNet bucket cutpoints must come
    from a quantile AGGREGATE cross-joined back (two doubles), never a
    global ntile Window (unsplittable single-partition sort at scale); and
    the unigram model join must not be a planner-forced broadcast (the
    logical plan must carry no hint -- web-scale vocab is unbounded; AQE
    electing one from runtime stats at toy scale is fine)."""
    import re as _re

    # \bntile( -- must not match the percentile() aggregate's substring
    assert not _re.search(r"(?<![a-z])ntile\(", _plan(spark, "q_lm_quality").lower())
    fn, _ = Q.REGISTRY["q_lm_quality"]
    logical = fn(spark, SF_DIR)._jdf.queryExecution().analyzed().toString()
    import re

    # the ONLY intended hints are on the tiny cutpoint/total relations
    # (percentile/total aggregates); none may sit on the term-keyed model
    for m in re.finditer(r"ResolvedHint.*", logical):
        assert "c_term" not in m.group(0), m.group(0)


def test_timeseries_fill_is_single_window_pass(spark):
    """Gap interpolation + moving average must share ONE per-user window
    (no self-join resample, no second shuffle for the frame aggregate)."""
    plan = _plan(spark, "q_timeseries_fill")
    assert "SortMergeJoin" not in plan and "HashJoin" not in plan
    # one hash-partitioning exchange on user_id (plus the output range sort)
    import re

    hashes = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(hashes) == 1, plan


def test_grouping_sets_is_one_expand_pass(spark):
    plan = _plan(spark, "q_grouping_sets")
    assert plan.count("Expand") == 1


def test_ivf_recall_contract_broadcasts_the_one_row_stats(spark):
    """The recall_ok column joins a ONE-ROW aggregate onto the exhaustive
    top-k rows: that cross join must be broadcast, never a shuffle."""
    plan = _plan(spark, "q_ivf_ann_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_stats_operators_widen_single_split_inputs(spark):
    """The widen-before-projection invariant (round 4): every batch
    stats/report operator must spread a too-narrow scan across the cluster
    BEFORE its heavy per-row projection -- a single-row-group parquet file
    otherwise runs the whole stack in one task. Pinned as a plan property:
    on a 1-partition input each operator's plan contains a repartition
    below the projection -- round-robin, or (round 8) hash-by-doc_id when
    the operator aggregates per document downstream, so the widen exchange
    doubles as the groupBy's clustering and the exploded stream is never
    re-shuffled (dedup._widen key= note)."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        chunk_dedup_stats,
        dup_ngram_stats,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators.linefilter import (
        line_filter_stats,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators.pii import pii_stats
    from action_pdf_accessibility_paddle_docker_spark.operators.textstats import (
        document_stats,
        quality_gate,
        repetition_signals,
    )

    df = spark.createDataFrame(
        [(1, "hello world one"), (2, "two words here")],
        "doc_id long, text string",
    ).coalesce(1)
    import functools

    for op in (document_stats, pii_stats, line_filter_stats, quality_gate,
               repetition_signals,
               # checkpoint=False so the widen is visible in the plan (the
               # round-8 lazy checkpoint hides it behind a LogicalRDD)
               functools.partial(chunk_dedup_stats, checkpoint=False),
               functools.partial(dup_ngram_stats, checkpoint=False)):
        plan = op(df)._jdf.queryExecution().executedPlan().toString().lower()
        name = getattr(op, "__name__", getattr(getattr(op, "func", None),
                                               "__name__", str(op)))
        assert (
            "roundrobin" in plan
            or ("hashpartitioning(doc_id" in plan and "repartition_by_num" in plan)
        ), (name, plan[:800])


def test_widen_exchange_reused_by_per_doc_aggregate(spark):
    """Round-8 shuffle removal (guide 2.4): when _widen hash-partitions by
    doc_id, the downstream per-doc aggregate's ClusteredDistribution is
    already satisfied, so the signature pipeline must contain exactly ONE
    exchange (the widen itself) -- the exploded shingle stream is never
    re-shuffled."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        minhash_signatures,
        simhash,
    )

    df = spark.createDataFrame(
        [(1, "a b c a b e f g h i j k"), (2, "x y z x y p q r s t u v")],
        "doc_id long, text string",
    ).coalesce(1)
    for op in (minhash_signatures, simhash):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        n_ex = plan.count("Exchange ")
        assert n_ex == 1, (op.__name__, n_ex, plan[:800])



def test_widen_plans_a_fixed_repartition_on_a_stream(spark):
    """A streaming frame has no partition count to probe: _widen plans a
    hash repartition to 16 by the key, without raising."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import _widen

    stream = (
        spark.readStream.format("rate").load()
        .select(F.col("value").alias("doc_id"), F.lit("a b").alias("text"))
    )
    plan = _widen(stream, key="doc_id")._jdf.queryExecution().analyzed().toString()
    assert "RepartitionByExpression [doc_id" in plan and "], 16" in plan, plan


def test_widen_partition_count_memo_is_bounded(spark, monkeypatch):
    """_widen memoizes one partition count per distinct plan; past its
    bound the oldest entry goes, so the memo never outgrows it."""
    from action_pdf_accessibility_paddle_docker_spark.operators import dedup as D

    monkeypatch.setattr(D, "_NPARTS_CACHE", {})
    for i in range(1, 3 * D._NPARTS_MAX // 2):
        D._widen(spark.range(i))
        assert len(D._NPARTS_CACHE) <= D._NPARTS_MAX
    assert len(D._NPARTS_CACHE) == D._NPARTS_MAX

def test_ann_pair_join_uses_precomputed_norms(spark):
    """Round-8 q_ann_topk fix (r7 verdict item 2): the squared norms must
    enter the pair join as per-side ATTRIBUTES (projected once per vector),
    leaving only the dot-product fold in the per-pair expression."""
    from action_pdf_accessibility_paddle_docker_spark.operators.similarity import (
        brute_force_topk,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    plan = (
        brute_force_topk(df, df.where("vec_id < 2"), k=2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "_qn2" in plan and "_cn2" in plan, plan[:1200]


def test_eager_builders_marked():
    """Side-effectful registry builders (building them EXECUTES work, e.g.
    starts an availableNow stream) must be listed in EAGER_BUILDERS so
    plan-dump tooling knows to skip them; dump_plans.py consumes the set."""
    import inspect

    from action_pdf_accessibility_paddle_docker_spark.plans import queries as Q

    assert "q_stream_dedup" in Q.EAGER_BUILDERS      # starts a stream
    assert "q_ivf_ann_topk" in Q.EAGER_BUILDERS      # fits KMeans (twice)
    assert "q_stratified_sample" in Q.EAGER_BUILDERS  # collects temp rates
    assert Q.EAGER_BUILDERS <= set(Q.REGISTRY)
    src = inspect.getsource(Q.REGISTRY["q_stream_dedup"][0])
    assert "EAGER" in src  # the builder documents its own eagerness


def test_training_mix_funnel_has_no_window_and_broadcasts_cap_counts(spark):
    """The composed funnel (gate -> dedup -> cap -> split) at scale: the
    cap stage's per-stratum count table is one row per source, so it must
    come back as a BroadcastHashJoin keep-rate -- and the whole plan must
    contain NO Window (AQE cannot split a skewed window partition; the
    rate-form cap exists precisely to avoid one on a mega-domain)."""
    from action_pdf_accessibility_paddle_docker_spark.plans.queries import REGISTRY

    df = REGISTRY["q_training_mix"][0](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_buckets_column_form_equals_batch_form(spark):
    """The streaming column form (`minhash_buckets_col`, interpreted HOF
    folds over the shingle array) must produce exactly the batch
    `minhash_band_buckets` (band, bucket) rows per doc -- it is what the
    stateless stream-static corpus probe keys on.
    Docs with no shingles yield a NULL array (the batch form has no rows
    for them; a placeholder bucket would collapse all empty docs)."""
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_buckets_col,
    )

    df = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(60)
    batch = {}
    for r in minhash_band_buckets(df).collect():
        batch.setdefault(r["doc_id"], set()).add((r["band"], r["bucket"]))
    col = {
        r["doc_id"]: (None if r["bb"] is None
                      else {(e["band"], e["bucket"]) for e in r["bb"]})
        for r in df.select(
            "doc_id", minhash_buckets_col(F.col("text")).alias("bb"),
        ).collect()
    }
    for doc_id, got in col.items():
        want = batch.get(doc_id)
        assert got == want, (doc_id, got, want)

    empty = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "oneword")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["bb"] for r in empty.select(
        "doc_id", minhash_buckets_col(F.col("text")).alias("bb")).collect()}
    assert got == {1: None, 2: None, 3: None, 4: None}
