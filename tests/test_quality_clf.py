"""Model-based quality classifier: training separates classes, scoring is
exact relational algebra (replayed in DuckDB under the committed fixture),
artifact save/load round-trips, and the plan stays JVM-only with the
weights side broadcast."""

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from action_pdf_accessibility_paddle_docker_spark.operators import quality_clf as C

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "qclf_weights.parquet")
SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# deterministic, linearly-separable toy corpus: "good" docs share prose
# vocabulary, "bad" docs share spammy vocabulary
GOOD = [
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a quiet morning walk in the park is good for the mind and body",
    "she read the entire book in one evening by the warm fire light",
    "the committee approved the proposal after a long open discussion",
]
BAD = [
    "buy now cheap pills discount discount click here free offer wow",
    "winner winner claim prize now click click free cash bonus offer",
    "cheap cheap deal deal buy buy now now limited offer click spam",
    "free bonus prize claim now spam spam click offer cash discount",
]


def _toy_labeled(spark):
    rows = [(i, t, 1.0) for i, t in enumerate(GOOD)] + [
        (100 + i, t, 0.0) for i, t in enumerate(BAD)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, label double")


def test_train_separates_and_orders_scores(spark):
    labeled = _toy_labeled(spark)
    weights, bias = C.train_quality_classifier(
        labeled, vocab_size=512, reg_param=1e-3, max_iter=100
    )
    scored = C.score_documents(labeled, weights, bias=bias).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    rows = {r["doc_id"]: r for r in scored.collect()}
    good_scores = [rows[i]["clf_score"] for i in range(len(GOOD))]
    bad_scores = [rows[100 + i]["clf_score"] for i in range(len(BAD))]
    assert min(good_scores) > max(bad_scores)
    assert all(rows[i]["clf_keep"] for i in range(len(GOOD)))
    assert not any(rows[100 + i]["clf_keep"] for i in range(len(BAD)))


def test_score_matches_scalar_reference(spark):
    """Engine score == a from-scratch python replay of the linear model
    (term counts x weights + bias through the sigmoid)."""
    labeled = _toy_labeled(spark)
    weights, bias = C.train_quality_classifier(
        labeled, vocab_size=512, reg_param=1e-3, max_iter=100
    )
    w = {r["term"]: r["weight"] for r in weights.collect()}
    got = {
        r["doc_id"]: (r["n_terms"], r["clf_score"])
        for r in C.score_documents(labeled, weights, bias=bias).collect()
    }
    for doc_id, text, _lab in _toy_labeled(spark).collect():
        toks = text.lower().split()
        terms = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        z = bias + sum(w.get(t, 0.0) for t in terms)
        want = round(1.0 / (1.0 + math.exp(-z)), 6)
        n_terms, score = got[doc_id]
        assert n_terms == len(terms)
        assert score == pytest.approx(want, abs=1e-6)


def test_empty_and_null_text_score_at_bias(spark):
    df = _docs(spark, [(1, ""), (2, None), (3, "   ")])
    weights = spark.createDataFrame([("hello", 2.0)], "term string, weight double")
    rows = {r["doc_id"]: r for r in C.score_documents(df, weights, bias=-1.0).collect()}
    want = round(1.0 / (1.0 + math.exp(1.0)), 6)
    for doc_id in (1, 2, 3):
        assert rows[doc_id]["n_terms"] == 0
        assert rows[doc_id]["clf_score"] == pytest.approx(want, abs=1e-6)
        assert not rows[doc_id]["clf_keep"]


def test_save_load_roundtrip(spark, tmp_path):
    labeled = _toy_labeled(spark)
    weights, bias = C.train_quality_classifier(labeled, vocab_size=256, max_iter=50)
    path = str(tmp_path / "model")
    C.save_classifier(weights, bias, path)
    w2, b2 = C.load_classifier(spark, path)
    assert b2 == pytest.approx(bias)
    assert sorted((r["term"], r["weight"]) for r in w2.collect()) == sorted(
        (r["term"], r["weight"]) for r in weights.collect()
    )
    # not-a-model path fails loudly
    weights.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    with pytest.raises(ValueError, match="bias row"):
        C.load_classifier(spark, str(tmp_path / "bare"))


def test_apply_classifier_filters_rows(spark):
    labeled = _toy_labeled(spark)
    weights, bias = C.train_quality_classifier(labeled, vocab_size=512, max_iter=100)
    kept = C.apply_classifier(labeled.drop("label"), weights, bias=bias)
    assert sorted(r["doc_id"] for r in kept.collect()) == list(range(len(GOOD)))
    assert kept.columns == ["doc_id", "text"]


def test_fixture_scores_replay_in_duckdb(spark):
    """The committed weights fixture: Spark scoring == an independent DuckDB
    replay of the sum/sigmoid over the same parquet (the q_quality_gate
    driver leg's oracle shape), and the verdict is BINDING (both classes
    present) on the stock table."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    weights, bias = C.load_classifier(spark, FIXTURE)
    got = {
        r["doc_id"]: r for r in C.score_documents(docs, weights, bias=bias).collect()
    }
    con = duckdb.connect()
    oracle = con.execute(
        f"""
        WITH qw AS (
          SELECT term, weight FROM read_parquet('{FIXTURE}')
          WHERE term <> chr(0) || '<bias>'
        ), qb AS (
          SELECT weight AS bias FROM read_parquet('{FIXTURE}')
          WHERE term = chr(0) || '<bias>'
        ), wda AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(
                     lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' '),
                     x -> length(x) > 0) AS wt
          FROM read_parquet('{SF_DIR}/documents.parquet')
        ), tm AS (
          SELECT doc_id, unnest(list_concat(wt,
                   list_transform(range(1, len(wt)),
                                  i -> wt[i] || ' ' || wt[i+1]))) AS term
          FROM wda
        ), zs AS (
          SELECT tm.doc_id,
                 sum(CAST(floor(qw.weight * {float(C.WEIGHT_FP_SCALE)!r})
                     AS BIGINT)) AS wsum
          FROM tm JOIN qw USING (term) GROUP BY tm.doc_id
        )
        SELECT w.doc_id,
               round(1.0 / (1.0 + exp(-((SELECT bias FROM qb)
                                        + coalesce(z.wsum, 0)
                                          / {float(C.WEIGHT_FP_SCALE)!r}))),
                     6) AS s
        FROM wda w LEFT JOIN zs z USING (doc_id)
        """
    ).fetchall()
    assert len(oracle) == len(got) > 0
    for doc_id, s in oracle:
        # the fixed-point sum is EXACT on both engines, so this is equality,
        # not tolerance (the former double-sum replay was order-hazarded)
        assert got[doc_id]["clf_score"] == s
    verdicts = {bool(r["clf_keep"]) for r in got.values()}
    assert verdicts == {True, False}


def test_top_fraction_matches_duckdb_quantile(spark):
    """DCLM top-fraction selection: survivors == an independent DuckDB
    replay (quantile_cont cutpoint, ties kept); frac=1.0 is a no-op and
    out-of-range fractions fail loudly."""
    import duckdb

    rows = [(i, round(((i * 37) % 101) / 101.0, 6)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, clf_score double")
    for frac in (0.1, 0.25, 0.5):
        got = sorted(
            r["doc_id"] for r in C.top_fraction(df, frac).collect()
        )
        want = sorted(
            r[0]
            for r in duckdb.sql(
                f"""
                SELECT doc_id FROM (VALUES {",".join(map(str, rows))})
                  t(doc_id, s)
                WHERE s >= (SELECT quantile_cont(s, {1 - frac}) FROM (
                  VALUES {",".join(map(str, rows))}) q(doc_id, s))
                """
            ).fetchall()
        )
        assert got == want, frac
        assert len(got) >= int(200 * frac)  # ties admit, never starve
    assert C.top_fraction(df, 1.0) is df
    for bad in (0.0, -0.1, 1.5):
        with pytest.raises(ValueError, match="frac"):
            C.top_fraction(df, bad)
    # approx form: same shape, count within t-digest tolerance
    n_approx = C.top_fraction(df, 0.25, approx=True).count()
    assert abs(n_approx - 50) <= 10


def test_apply_classifier_top_frac(spark):
    """apply_classifier(top_frac=) keeps exactly the rows a python replay
    of the rule keeps (>= the interpolated quantile cutpoint, ties admit).
    On this toy corpus the GOOD scores saturate the sigmoid and tie at the
    rounded cutpoint, so top_frac=0.25 keeps all 4 GOOD docs -- binding
    against the BAD side and against keep-everything, and a live example
    of the documented ties-admit behavior."""
    import numpy as np

    labeled = _toy_labeled(spark)
    weights, bias = C.train_quality_classifier(labeled, vocab_size=512, max_iter=100)
    docs = labeled.drop("label")
    top = C.apply_classifier(docs, weights, bias=bias, top_frac=0.25)
    scores = {
        r["doc_id"]: r["clf_score"]
        for r in C.score_documents(docs, weights, bias=bias).collect()
    }
    # Spark percentile() interpolates linearly == numpy default
    cut = float(np.percentile(sorted(scores.values()), 75))
    want = sorted(d for d, s in scores.items() if s >= cut)
    got = sorted(r["doc_id"] for r in top.collect())
    assert got == want
    assert set(got) <= {0, 1, 2, 3} and len(got) < len(scores)


def test_gate_col_scores_survivors_only(spark):
    """DCLM ordering: gate_col restricts scoring to surviving rows -- their
    scores equal the ungated run exactly; gated-out rows come back with
    n_terms=0 and NULL score/verdict; gate_col must be carried."""
    labeled = _toy_labeled(spark)
    weights, bias = C.train_quality_classifier(labeled, vocab_size=512, max_iter=100)
    gated = labeled.withColumn("ok", F.col("doc_id") < 100)
    out = {
        r["doc_id"]: r
        for r in C.score_documents(
            gated, weights, bias=bias, gate_col="ok", carry=("ok",)
        ).collect()
    }
    ungated = {
        r["doc_id"]: r
        for r in C.score_documents(labeled, weights, bias=bias).collect()
    }
    assert len(out) == len(ungated)
    for doc_id, r in out.items():
        if doc_id < 100:
            assert r["clf_score"] == ungated[doc_id]["clf_score"]
            assert r["clf_keep"] == ungated[doc_id]["clf_keep"]
            assert r["n_terms"] == ungated[doc_id]["n_terms"]
        else:
            assert r["clf_score"] is None and r["clf_keep"] is None
            assert r["n_terms"] == 0
    with pytest.raises(ValueError, match="carry"):
        C.score_documents(gated, weights, bias=bias, gate_col="ok")


def test_terms_col_reuses_gate_arrays(spark):
    """Feeding the gate's materialized _wt/_bg arrays through terms_col
    produces scores identical to the from-text derivation (the composed
    q_quality_gate shape normalizes each document exactly once)."""
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        textstats as T,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    weights, bias = C.load_classifier(spark, FIXTURE)
    g = T.quality_gate(docs, include_signals=True, keep_cols=("_wt", "_bg"))
    via_arrays = {
        r["doc_id"]: (r["n_terms"], r["clf_score"], r["clf_keep"])
        for r in C.score_documents(
            g, weights, bias=bias, terms_col=F.concat("_wt", "_bg")
        ).collect()
    }
    via_text = {
        r["doc_id"]: (r["n_terms"], r["clf_score"], r["clf_keep"])
        for r in C.score_documents(docs, weights, bias=bias).collect()
    }
    assert via_arrays == via_text


def test_terms_col_tuple_form_cached(spark):
    """The name-tuple terms_col (the cache-keyable form q_quality_gate now
    uses) scores identically to the explicit concat Column, the repeat call
    is a cache hit, and a different carry tuple misses (no key collision)."""
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        textstats as T,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    weights, bias = C.load_classifier(spark, FIXTURE)
    g = T.quality_gate(docs, include_signals=True, keep_cols=("_wt", "_bg"))

    def rows(df):
        return {
            r["doc_id"]: (r["n_terms"], r["clf_score"], r["clf_keep"])
            for r in df.collect()
        }

    via_col = rows(
        C.score_documents(g, weights, bias=bias, terms_col=F.concat("_wt", "_bg"))
    )
    C._score_exprs.cache_clear()
    via_tuple = rows(
        C.score_documents(g, weights, bias=bias, terms_col=("_wt", "_bg"))
    )
    assert via_tuple == via_col
    info = C._score_exprs.cache_info()
    assert (info.hits, info.misses) == (0, 1)
    # identical call -> pure cache hit; shared fragments still score right
    assert rows(
        C.score_documents(g, weights, bias=bias, terms_col=("_wt", "_bg"))
    ) == via_col
    assert C._score_exprs.cache_info().hits == 1
    # a different key (extra carry) must not collide with the cached entry
    with_carry = C.score_documents(
        g, weights, bias=bias, terms_col=("_wt", "_bg"), carry=("n_tokens",)
    )
    assert "n_tokens" in with_carry.columns
    assert C._score_exprs.cache_info().misses == 2



def _expr_ids(df):
    out = df._jdf.queryExecution().analyzed().output()
    return {out.apply(i).name(): out.apply(i).exprId().id()
            for i in range(out.size())}


def test_cached_column_fragments_get_fresh_expr_ids(spark):
    """Every use of a cached aliased Column is analyzed under a fresh
    exprId, so the lru_cache'd expression builders never make two plans
    share an attribute id. A Spark that starts sharing them fails here."""
    from functools import lru_cache

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    weights, bias = C.load_classifier(spark, FIXTURE)
    C._score_exprs.cache_clear()
    one = C.score_documents(docs, weights, bias=bias)
    two = C.score_documents(docs, weights, bias=bias)
    info = C._score_exprs.cache_info()
    assert (info.hits, info.misses) == (1, 1)
    assert _expr_ids(one)["clf_score"] != _expr_ids(two)["clf_score"]

    @lru_cache(maxsize=1)
    def lowest():
        return F.min("doc_id").alias("x")

    by_lang = docs.groupBy("lang").agg(lowest())
    by_source = docs.groupBy("source").agg(lowest())
    assert lowest.cache_info().hits == 1
    assert _expr_ids(by_lang)["x"] != _expr_ids(by_source)["x"]

def test_plan_jvm_only_and_broadcast(spark):
    """No Python nodes in the scoring plan; the weights side broadcasts."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    weights, bias = C.load_classifier(spark, FIXTURE)
    plan = (
        C.score_documents(docs, weights, bias=bias)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
        assert bad not in plan


def test_carry_columns_ride_the_single_scan(spark):
    """carry= returns upstream row-wise columns unchanged, and the composed
    gate+clf frame (the q_quality_gate shape) scans the source ONCE."""
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        textstats as T,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    g = T.quality_gate(docs, include_signals=True, keep_cols=("text",))
    weights, bias = C.load_classifier(spark, FIXTURE)
    out = C.score_documents(
        g, weights, bias=bias,
        carry=("n_tokens", "reject_reasons", "keep"),
    )
    want = {
        (r["doc_id"], r["n_tokens"], r["reject_reasons"], r["keep"])
        for r in T.quality_gate(docs).collect()
    }
    got = {
        (r["doc_id"], r["n_tokens"], r["reject_reasons"], r["keep"])
        for r in out.collect()
    }
    assert got == want
    # one scan of the DOCUMENTS table in the executed (final) plan -- the
    # other parquet leaf is the (tiny) weights artifact; AQE's toString
    # repeats the tree under "== Initial Plan ==", so cut there first
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    doc_scans = [
        ln for ln in final.splitlines()
        if "Scan parquet" in ln and "documents" in ln
    ]
    assert len(doc_scans) == 1, final


def test_two_scorings_join_under_different_weights(spark):
    """Two score_documents outputs built with the same parameters but
    different weights tables join on doc_id: the cached expression
    fragments must not make the two sides' output columns ambiguous."""
    docs = _docs(spark, [(i, t) for i, t in enumerate(GOOD + BAD)])
    w_good = spark.createDataFrame(
        [("quick", 3.0), ("morning", 3.0), ("book", 3.0), ("committee", 3.0)],
        "term string, weight double",
    )
    w_bad = spark.createDataFrame(
        [("cheap", 3.0), ("free", 3.0), ("click", 3.0), ("winner", 3.0)],
        "term string, weight double",
    )
    a = C.score_documents(docs, w_good, bias=-1.0)
    b = C.score_documents(docs, w_bad, bias=-1.0)
    joined = a.alias("a").join(b.alias("b"), "doc_id").select(
        "doc_id",
        F.col("a.clf_keep").alias("keep_good"),
        F.col("b.clf_keep").alias("keep_bad"),
        (F.col("a.clf_score") - F.col("b.clf_score")).alias("delta"),
    )
    rows = {r["doc_id"]: r for r in joined.collect()}
    assert len(rows) == len(GOOD) + len(BAD)
    for i in range(len(GOOD)):
        assert rows[i]["keep_good"] and not rows[i]["keep_bad"]
        assert rows[i]["delta"] > 0
    for i in range(len(GOOD), len(GOOD) + len(BAD)):
        assert rows[i]["keep_bad"] and not rows[i]["keep_good"]
        assert rows[i]["delta"] < 0
    # columns picked by DataFrame reference must resolve to their own side
    plain = a.join(b, "doc_id").select(
        "doc_id", a["clf_score"].alias("sa"), b["clf_score"].alias("sb")
    )
    got = {r["doc_id"]: (r["sa"], r["sb"]) for r in plain.collect()}
    assert all(got[i][0] > got[i][1] for i in range(len(GOOD)))
    assert all(got[i][0] < got[i][1]
               for i in range(len(GOOD), len(GOOD) + len(BAD)))
