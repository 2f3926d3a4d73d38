"""Text-analysis operators for large-scale training-data pipelines:
token counting, quality scoring, language-ID heuristic, fingerprinting.

All are pure JVM-side column expressions (whole-stage codegen; no Python on
the hot path). Each has a DuckDB-equivalent SQL in ``plans/queries.py`` so
the driver harness can verify them value-for-value.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# shared constants (mirrored literally in the oracle SQL)
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in")
ES_STOPWORDS = ("el", "la", "de", "los", "y", "en")


def _lang_signals(toks):
    """(en_stopword_count, es_stopword_count, lang_guess) columns from a
    token-array column -- the ONE definition of the n-gram language
    heuristic, shared by ``document_stats`` (per-doc ``lang_guess``) and
    ``corpus_report`` (language histogram) so the two can never drift."""
    low = F.transform(toks, lambda x: F.lower(x))
    en_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    es_arr = F.array(*[F.lit(w) for w in ES_STOPWORDS])
    en = F.size(F.filter(low, lambda x: F.array_contains(en_arr, x)))
    es = F.size(F.filter(low, lambda x: F.array_contains(es_arr, x)))
    lang = (F.when(es > en, F.lit("es")).when(en > 0, F.lit("en"))
            .otherwise(F.lit("und")))
    return en, es, lang
PUNCT_CLASS = "[.,;:!?]"


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count (BPE-ish regex split)."""
    return F.size(tokens(col))


def word_bigrams(toks: Column) -> Column:
    """Non-distinct word bigrams of a token array (zip_with of shifted
    slices; O(n) per doc, JVM-side)."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_phrases(df: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Corpus-wide boilerplate-phrase mining: the k most frequent word
    bigrams with total occurrences and document frequency, ties broken by
    phrase ascending. One explode + one groupBy (map-side combine) + a
    global top-k -- the aggregate is vocabulary-sized, so the final sort is
    tiny regardless of corpus size."""
    from .dedup import normalized

    toks = F.split(normalized(F.col(text_col)), " ")
    return (
        df.select("doc_id", F.explode(word_bigrams(toks)).alias("phrase"))
        .where(F.length("phrase") > 0)
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("phrase"))
        .limit(k)
    )


def _top_run_count(arr: Column) -> Column:
    """Count of the most frequent element of a string array: longest equal
    run of the sorted array, one array_sort + one fold, O(n log n) per row."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals per document:
    distinct_word_frac (distinct words / words) and top_bigram_frac (count
    of the most frequent word bigram / total bigrams -- NON-distinct, unlike
    the dedup shingles). Documents dominated by one repeated phrase score
    high top_bigram_frac and get filtered by the quality gate.

    Scale shape (round 3): pure ROW expressions -- no explode, no groupBy,
    no join. Distinct count via array_distinct; the top-bigram count is the
    longest equal run of the SORTED bigram array (one array_sort + one fold
    per row, bounded by document length). Stateless, so the signals compose
    onto streams and the batch plan is a shuffle-free projection.
    Value-identical to the former explode+agg formulation (same oracle);
    documents with zero countable words stay absent from the output, as
    before."""
    from .dedup import _widen, normalized

    norm = normalized(F.col(text_col))
    toks = F.split(norm, " ")
    wt = F.filter(toks, lambda x: x != F.lit(""))
    bg = F.filter(word_bigrams(wt), lambda x: F.length(x) > 0)
    n_words = F.size(F.col("_wt"))
    n_distinct = F.size(F.array_distinct(F.col("_wt")))
    n_bigrams = F.size(F.col("_bg"))
    top_c = _top_run_count(F.col("_bg"))
    # widen the raw text first: single-split files would otherwise run the
    # whole array computation in one task (projection stays above exchange)
    return (
        _widen(df.select("doc_id", F.col(text_col).alias(text_col)))
        .select("doc_id", wt.alias("_wt"), bg.alias("_bg"))
        .where(F.size(F.col("_wt")) > 0)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            F.round(n_distinct / n_words, 6).alias("distinct_word_frac"),
            n_bigrams.alias("n_bigrams"),
            F.round(
                F.when(n_bigrams > 0, top_c / n_bigrams).otherwise(F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
        )
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1), ties broken by term ascending.

    Scale shape: term frequencies are one explode + groupBy with map-side
    combine; the document-frequency table is vocabulary-sized and joined
    back with an explicit broadcast (never a shuffle of the corpus side);
    the corpus row count rides along as a broadcast 1-row cross join, so no
    driver-side collect. Top-k is a per-doc window."""
    from pyspark.sql import Window

    from .dedup import _widen, normalized

    toks = F.split(normalized(F.col(text_col)), " ")
    # no widen, same measured rationale as unigram_logprob_score: tf's own
    # groupBy exchange redistributes, and an added widen stage cost more
    # than the tokenize parallelism it bought
    terms = df.select("doc_id", F.explode(toks).alias("term")).where(F.length("term") > 0)
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1) / (F.col("df_t") + 1)) + F.lit(1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "rank", F.round("tfidf", 6).alias("tfidf"))
    )


GATE_DEFAULTS = {
    "min_tokens": 20,
    "max_punct_ratio": 0.2,
    "min_stopword_ratio": 0.02,
    "min_distinct_word_frac": 0.35,
    "max_top_bigram_frac": 0.10,
}

# fixed reason order -- deterministic reject_reasons string
_GATE_REASONS = (
    ("too_short", lambda c, p: c["n_tokens"] < p["min_tokens"]),
    ("high_punct", lambda c, p: c["punct_ratio"] > p["max_punct_ratio"]),
    ("low_stopword", lambda c, p: c["stopword_ratio"] < p["min_stopword_ratio"]),
    ("low_distinct", lambda c, p: c["distinct_word_frac"] < p["min_distinct_word_frac"]),
    ("repetitive_bigram", lambda c, p: c["top_bigram_frac"] > p["max_top_bigram_frac"]),
)


def quality_gate(
    df: DataFrame, text_col: str = "text",
    include_signals: bool = False, keep_cols: tuple[str, ...] = (),
    **overrides,
) -> DataFrame:
    """Composed Gopher-style document quality gate: length / punctuation /
    stopword signals (``document_stats``) + repetition signals
    (``repetition_signals``) -> keep boolean + comma-joined reject reasons
    in a fixed order. The filter a training-data pipeline runs before dedup.
    ``include_signals=True`` additionally emits the raw signal columns the
    verdict was derived from (punct/stopword ratios, distinct-word and
    top-bigram fractions) -- the report form an audit or threshold-tuning
    pass reads; same single projection either way. ``keep_cols`` passes
    named input columns through the projection (e.g. ``("text",)`` so a
    downstream per-doc aggregate like the quality classifier can compose
    onto the SAME scan instead of re-reading and joining the corpus).

    Scale shape (round 3): ONE row-wise projection -- stats and repetition
    signals are all array expressions now, so there is no aggregate, no
    join, and no shuffle; the gate composes directly onto streams.
    Thresholds applied JVM-side; no UDFs, no collects. Value-identical to
    the former two-subplan join (same expressions, same rounding)."""
    base, reasons, cols = _gate_frame(df, text_col, {**GATE_DEFAULTS, **overrides})
    signal_cols = (
        [cols[name].alias(name) for name in (
            "punct_ratio", "stopword_ratio", "distinct_word_frac",
            "top_bigram_frac",
        )]
        if include_signals else []
    )
    return base.select(
        "doc_id",
        *keep_cols,
        cols["n_tokens"].alias("n_tokens"),
        *signal_cols,
        reasons.alias("reject_reasons"),
        (reasons == "").alias("keep"),
    )


def apply_quality_gate(df: DataFrame, text_col: str = "text", **overrides) -> DataFrame:
    """The consuming/filtering form of the gate: keep only passing rows,
    original columns preserved. A plain row-wise filter, so it composes
    onto streams (no aggregate-join like a gate-then-semi-join would be)."""
    base, reasons, _cols = _gate_frame(df, text_col, {**GATE_DEFAULTS, **overrides})
    return base.where(reasons == "").drop("_toks", "_wt", "_bg")


def _gate_frame(df: DataFrame, text_col: str, p: dict):
    """Shared gate internals: the widened frame with temp array columns,
    plus the (reasons, n_tokens) expressions over it. Original columns are
    preserved (withColumn, not select) so the filtering form can return
    rows unchanged."""
    from .dedup import _widen

    staged, reasons, cols = _gate_exprs(text_col, tuple(sorted(p.items())))
    # hash-widen by doc id when present: the composed gate+classifier pass
    # (score_documents) aggregates per doc downstream, and
    # HashPartitioning(doc_id) lets that groupBy skip its own exchange of
    # the exploded term stream (dedup._widen key= note, round 8)
    base = (
        _widen(df, key="doc_id" if "doc_id" in df.columns else None)
        .withColumn("_toks", staged["_toks"])
        .withColumn("_wt", staged["_wt"])
        .withColumn("_bg", staged["_bg"])
    )
    return base, reasons, cols


@lru_cache(maxsize=128)
def _gate_exprs(text_col: str, p_items: tuple):
    """The gate's staged array Columns, reject-reasons Column, and signal
    Columns -- pure functions of (text_col, thresholds), compiled once per
    process (round 8: this was the single heaviest expression build in the
    repo, ~0.3 s of py4j round-trips per call). Returned containers are
    shared -- callers must treat them as read-only."""
    from .dedup import normalized

    t = F.col(text_col)
    p = dict(p_items)
    wt = F.filter(F.split(normalized(t), " "), lambda x: x != F.lit(""))
    staged = {
        "_toks": tokens(t),
        "_wt": wt,
        "_bg": F.filter(word_bigrams(F.col("_wt")), lambda x: F.length(x) > 0),
    }
    toks = F.col("_toks")
    n_tokens = F.size(toks)
    n_chars = F.length(t)
    # empty text (possible after corpus-wide dup-line removal empties a
    # doc) must not kill the job under ANSI division -- 0.0 passes the
    # punct gate and the doc is rejected by too_short anyway
    punct_ratio = F.when(
        n_chars > 0,
        F.round(
            (n_chars - F.length(F.regexp_replace(t, PUNCT_CLASS, "")))
            .cast("double") / n_chars, 6,
        ),
    ).otherwise(F.lit(0.0))
    en, _es, _lang = _lang_signals(toks)  # unused columns never enter the plan
    stopword_ratio = F.round(en.cast("double") / n_tokens, 6)
    n_words = F.size(F.col("_wt"))
    # docs with no countable words (empty text) fail the distinct gate
    distinct_word_frac = F.when(
        n_words > 0, F.round(F.size(F.array_distinct(F.col("_wt"))) / n_words, 6)
    ).otherwise(F.lit(0.0))
    n_bigrams = F.size(F.col("_bg"))
    top_bigram_frac = F.when(
        n_bigrams > 0, F.round(_top_run_count(F.col("_bg")) / n_bigrams, 6)
    ).otherwise(F.lit(0.0))
    cols = {
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stopword_ratio,
        "distinct_word_frac": distinct_word_frac,
        "top_bigram_frac": top_bigram_frac,
    }
    reasons = F.concat_ws(
        ",", *[F.when(cond(cols, p), F.lit(name)) for name, cond in _GATE_REASONS]
    )
    return staged, reasons, cols


def _md5_bucket(key: Column, mod: int) -> Column:
    """The engine-independent membership draw shared by ``stable_split`` /
    ``stratified_sample`` / ``cap_per_stratum``: first 8 hex chars of
    md5(key) as an integer, modulo ``mod``. Mirrored literally in the
    DuckDB oracles (('0x' || substr(md5(key),1,8))::UBIGINT % mod) --
    change both or neither."""
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % mod


def stable_split(
    df, id_col: str = "doc_id", test_pct: int = 5, val_pct: int = 5,
):
    """Deterministic train/val/test assignment by content-independent id
    hash: split = f(md5(doc_id) % 100). Stable across runs, engines, and
    orderings -- the property a training pipeline needs so a re-shard or
    backfill never migrates a document between splits. md5-derived so the
    DuckDB oracle reproduces it exactly (same recipe as the dedup hashes)."""
    from pyspark.sql import functions as F

    h = _md5_bucket(F.col(id_col).cast("string"), 100)
    label = (
        F.when(h < test_pct, F.lit("test"))
        .when(h < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", label)


def shuffled(df: DataFrame, salt: str = "", id_col: str = "doc_id",
             partitions: Optional[int] = None) -> DataFrame:
    """Deterministic GLOBAL shuffle for training-order randomization:
    rows ordered by ``md5('shuffle:' salt ':' id)``. Reproducible across
    runs, re-shards, and engines (the stable_split recipe applied to
    ordering); changing the salt gives an independent permutation -- the
    per-epoch reshuffle a training pipeline wants without ever
    materializing a permutation table.

    Scale shape: ONE range-partition exchange on the hash (Spark samples
    the fixed-width keys to pick balanced boundaries -- md5 is uniform, so
    partitions are even regardless of input skew) + a within-partition
    sort. The global order is (partition_idx, row order), which parquet
    preserves as (file order, row order) -- the same contract as the
    flagship extraction's ordered output. ``partitions`` sizes the output
    shards (default: current shuffle parallelism).

    Boundary-sampling trap (the flagship lesson): repartitionByRange
    SAMPLES its child, so calling this on a lazy pipeline re-executes the
    whole upstream chain (and double-fires its Observations). Shuffle
    MATERIALIZED data -- corpus_job --shuffle-output therefore writes the
    curated rows first and shuffles them in a second pass whose sampling
    is one column-pruned scan of the id column."""
    key = F.md5(
        F.concat(F.lit(f"shuffle:{salt}:"), F.col(id_col).cast("string"))
    )
    out = df.withColumn("_shuf", key)
    out = (
        out.repartitionByRange(partitions, "_shuf")
        if partitions
        else out.repartitionByRange("_shuf")
    )
    return out.sortWithinPartitions("_shuf").drop("_shuf")


def winnowing_fingerprints(
    df: DataFrame, k: int = 8, w: int = 5,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Rolling-hash (winnowing) fingerprints per document -- the non-SQL
    fingerprint variant (functions/fingerprint.py), computed in an Arrow
    batch kernel (numpy-vectorized per doc)."""
    from typing import Iterator

    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.fingerprint import fingerprints_np

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "fingerprints": [fingerprints_np(t or "", k, w) for t in pdf[text_col]],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        kernel, schema="doc_id bigint, fingerprints array<bigint>"
    )


def document_stats(
    df: DataFrame, text_col: str = "text", extra: Optional[dict] = None,
) -> DataFrame:
    """Per-document length / punctuation / stopword / language / fingerprint
    stats in ONE regex-split pass: the token array is materialized once in a
    sub-projection and every signal derives from it with array expressions
    (the naive composition of quality_columns + lang_guess + fingerprint ran
    the \\s+ regex over the full text five times per row -- measurable at
    sf0.1, dominant at 100 TB where this scan is pure CPU).

    Value-identical to the unfused expressions (same splits, same casts,
    same rounding); the DuckDB oracle in plans/queries.py is unchanged.

    ``extra`` (name -> Column over ``df``'s columns) rides additional
    per-document signals through the SAME single scan (the quality_clf
    ``carry=`` pattern) -- e.g. URL normalization columns -- instead of a
    join-back that would rescan the corpus."""
    from .dedup import _widen

    extra = extra or {}
    t = F.col(text_col)
    # widen the raw rows FIRST (no-op when the scan already has enough
    # splits): a single-row-group parquet file otherwise runs the whole
    # tokenize/stats projection in one task
    base = _widen(
        df.select(
            "doc_id", t.alias("_t"),
            *[c.alias(f"_x_{k}") for k, c in extra.items()],
        )
    ).select(
        "doc_id", "_t", _DOC_TOKS_EXPR(), *[f"_x_{k}" for k in extra],
    )
    return base.select(*_doc_stats_exprs(tuple(extra)))


@lru_cache(maxsize=128)
def _DOC_TOKS_EXPR():
    return tokens(F.col("_t")).alias("_toks")


@lru_cache(maxsize=128)
def _doc_stats_exprs(extra_names: tuple) -> tuple:
    """``document_stats``' output Columns over the staged ``_t``/``_toks``
    names -- compiled once per process (round 8: the stats expressions cost
    hundreds of driver-side py4j round-trips per call and are pure
    functions of the staging names)."""
    toks = F.col("_toks")
    tl = F.col("_t")
    en, es, lang = _lang_signals(toks)
    n_tokens = F.size(toks)
    n_chars = F.length(tl)
    n_punct = n_chars - F.length(F.regexp_replace(tl, PUNCT_CLASS, ""))
    # sum of token lengths == length of the text with all whitespace removed
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    # tokens joined by single spaces == whitespace-normalized trimmed text
    # (concat_ws maps a NULL array to "", so keep NULL text -> NULL md5)
    norm = F.when(tl.isNotNull(), F.lower(F.concat_ws(" ", toks)))
    return (
        F.col("doc_id"),
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        # ANSI-safe on empty text (same guard as quality_columns); the sf
        # tables have no empty docs, so the DuckDB oracle is unchanged
        F.when(
            n_chars > 0, F.round(n_punct.cast("double") / n_chars, 6)
        ).otherwise(F.lit(0.0)).alias("punct_ratio"),
        F.round(en.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        F.round(tok_chars.cast("double") / n_tokens, 6).alias("mean_token_len"),
        lang.alias("lang_guess"),
        F.md5(norm).alias("fingerprint"),
        *[F.col(f"_x_{k}").alias(k) for k in extra_names],
    )


def unigram_logprob_score(
    df: DataFrame, text_col: str = "text", checkpoint_tf: bool = False,
) -> DataFrame:
    """CCNet-style statistical LM score: mean per-token negative
    log-likelihood under the corpus's own unigram distribution (the cheap
    stand-in for the KenLM perplexity filter -- low score = head-like
    common text, high score = rare/garbled tail). CCNet buckets the corpus
    by exactly this kind of score (Wenzek et al. 2020).

    Scale shape: token counts explode once; per-doc reduce has map-side
    combine. The unigram model joins back on ``term`` WITHOUT a broadcast
    hint: on a real web corpus the distinct-term table is unbounded
    (hundreds of millions of terms incl. typos/urls) and would blow the
    broadcast limit / OOM the executors. The honest cost: ``tf`` is
    partitioned on (doc_id, term) from its groupBy, which does NOT satisfy
    a join on ``term`` alone, so the corpus-side tf table re-shuffles on
    term for the join -- but unlike a forced broadcast that shuffle is
    survivable (AQE can skew-split a hot term, and elects a broadcast
    anyway when runtime stats show the vocab is genuinely small).
    ln(count/total) is exact integer-ratio math so DuckDB agrees
    bit-for-bit.

    ``checkpoint_tf=True`` lazily localCheckpoints the shared
    ``(doc_id, term, tf)`` intermediate, which feeds the model, the total,
    AND the per-doc reduce: without it each reference re-executes the
    tokenize+explode subtree from the source (AQE compiles the subplans
    independently, so the tf exchange is NOT reused -- measured 3 source
    scans), with it the source is scanned ONCE. Off by default to keep the
    operator a pure lazy plan; at warehouse scale write tf to a table
    instead of executor blocks."""
    from .dedup import normalized

    # NO widen here, measured on purpose (round 8): the tokenize+explode of
    # this path is cheap relative to its aggregates, tf's own groupBy
    # exchange already redistributes, and every widen variant (round-robin
    # OR doc_id-keyed) added a stage that cost more than it saved
    # (q_lm_quality 0.84 s no-widen vs 0.93-1.17 s with one at sf0.1)
    toks = F.split(normalized(F.col(text_col)), " ")
    terms = (
        df.select("doc_id", F.explode(toks).alias("term")).where(F.length("term") > 0)
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if checkpoint_tf:
        tf = tf.localCheckpoint(eager=False)
    model = tf.groupBy("term").agg(F.sum("tf").alias("c_term"))
    total = model.agg(F.sum("c_term").alias("c_total"))
    return (
        tf.join(model, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.sum(
                -F.col("tf") * F.log(F.col("c_term") / F.col("c_total"))
            ).alias("_nll"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("_nll") / F.col("n_tokens"), 6).alias("mean_nll"),
        )
    )


# GPT-2-style pretokenizer, restricted to the RE2/Java-regex common subset
# (leftmost-first alternation, no lookarounds) so DuckDB evaluates the
# identical pattern: contractions, letter runs, digit runs, punct runs,
# whitespace runs -- each with an optional leading space, as in the
# original. Counted over the normalized (lowercased) text.
BPE_ISH_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+"


def bpe_ish_token_count(text_col) -> "Column":
    """Subword-ish token count: how many BPE-style pretokens the text
    splits into (the reference point LLM batch budgeting actually needs;
    whitespace `token_count` undercounts punctuation-heavy text). One
    regexp_count over the scan, no shuffle."""
    from .dedup import normalized

    return F.regexp_count(normalized(text_col), F.lit(BPE_ISH_RE))


def temperature_mix_rates(
    df: DataFrame,
    stratum_col: str = "source",
    temperature: float = 1.0,
    keep_fraction: float = 1.0,
    weight_col: str | None = None,
) -> dict[str, float]:
    """Derive per-source keep RATES from temperature-flattened source
    shares -- the mT5-style mixing recipe (Xue et al. 2021: sample
    probability proportional to p_s^(1/T)): T=1 keeps natural proportions,
    T->inf approaches uniform across sources, T<1 sharpens toward the
    head. Feed the result straight into ``stratified_sample``.

    With per-source weights w_s (row counts, or token sums when
    ``weight_col`` is given) and p_s = w_s / W: target share
    q_s propto p_s^(1/T); rate_s = keep_fraction * W * q_s / w_s, clamped
    to 1. When the clamp binds (a tiny source cannot supply its flattened
    share), the surplus is NOT redistributed -- the realized total comes
    out slightly under keep_fraction rather than silently re-skewing the
    other sources; callers that need the exact total can re-run with a
    higher keep_fraction. One aggregate over the corpus; the returned
    dict is driver-side metadata bounded by the number of sources (the
    same cardinality class as a rates config file).

    A NULL stratum is one stratum: it participates in the mix under the
    ``None`` key, which ``stratified_sample`` understands -- NULL-source
    rows are flattened like any other source, never silently kept or
    dropped.

    Floating-point determinism: the normalizer z sums per-source doubles
    in SORTED stratum order (collect() returns rows in nondeterministic
    aggregate order, and double addition does not commute across orders),
    so the derived rates are bit-identical across runs AND replayable by
    an oracle engine computing ``sum(flat ORDER BY stratum)`` -- the
    property the driver's hash check of q_stratified_sample leans on."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    w = (
        F.sum(F.col(weight_col)) if weight_col else F.count(F.lit(1))
    ).alias("_w")
    counts = {
        r["_s"]: float(r["_w"])
        for r in df.groupBy(F.col(stratum_col).alias("_s")).agg(w).collect()
        if r["_w"]
    }
    keys = sorted(counts, key=lambda k: (k is None, str(k)))
    total = 0.0
    for s in keys:
        total += counts[s]
    if not total:
        return {}
    flat = {s: (counts[s] / total) ** (1.0 / temperature) for s in counts}
    z = 0.0
    for s in keys:
        z += flat[s]
    return {
        s: min(1.0, keep_fraction * total * (flat[s] / z) / counts[s])
        for s in counts
    }


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling -- the "mix weights" step of
    a training-data pipeline (e.g. keep 100% of books, 10% of common-crawl).
    Membership is f(md5(id), stratum): content-independent, re-shard-stable,
    and exactly reproducible by the oracle (same md5 recipe as
    ``stable_split``; the stratum is salted into the hash so the same
    document id draws independently per stratum). No shuffle -- one
    filter over the scan.

    A NULL stratum is ONE stratum, governed by ``default_rate`` (or by an
    explicit ``rates[None]`` entry): the hash key coalesces NULL to a
    sentinel, the same contract as ``cap_per_stratum``. Before round 5 a
    NULL stratum made the membership hash NULL, so those rows were
    silently dropped at EVERY rate including default_rate=1.0."""
    from pyspark.sql import functions as F

    h = _md5_bucket(
        F.concat(
            F.coalesce(F.col(stratum_col).cast("string"), F.lit("\x00<null>")),
            F.lit(":"), F.col(id_col).cast("string"),
        ),
        10000,
    )
    # int(round(...)) not int(...): bare truncation lands one-below for
    # ~5.6% of 3-decimal rates (0.051*10000 = 509.999... -> 509), so the
    # realized keep rate and any oracle computing round(rate*10000) disagree
    rate = None
    # str() in the sort key: stratum keys may be ints (shard ids, years)
    # or None -- mixed-type tuples must still order deterministically
    for stratum, r in sorted(rates.items(), key=lambda kv: (kv[0] is None, str(kv[0]))):
        cond = (
            F.col(stratum_col).isNull() if stratum is None
            else F.col(stratum_col) == stratum
        )
        c = F.when(cond, F.lit(int(round(r * 10000))))
        rate = c if rate is None else rate.when(cond, F.lit(int(round(r * 10000))))
    rate = (rate.otherwise(F.lit(int(round(default_rate * 10000))))
            if rate is not None else F.lit(int(round(default_rate * 10000))))
    return df.where(h < rate)


def cap_per_stratum(
    df: DataFrame,
    cap: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    method: str = "rate",
    checkpoint: bool = False,
) -> DataFrame:
    """Per-domain/source document caps (the RefinedWeb/Gopher-style
    anti-dominance step: no single site may contribute more than ``cap``
    documents to the training mix). Two forms, both deterministic and
    content-independent (membership = f(md5(id), stratum)):

    * ``method='rate'`` (default, the 100 TB path): two passes -- a
      map-side-combined count per stratum, joined back as a keep RATE
      (``cap/count``), membership by the same md5 bucket draw as
      ``stratified_sample``. Keeps ~cap docs per stratum (binomial jitter,
      exact in expectation), touches every row exactly once, and has NO
      per-key window -- a mega-domain cannot serialize a partition (AQE
      cannot split a skewed window partition; it CAN split this join).
      The stratum-count side is tiny (one row per domain) and broadcasts.
    * ``method='exact'`` -- row_number over (md5(id), id) per stratum,
      keep rank <= cap. Exactly cap, deterministic order, but the window
      sorts each domain inside one partition: fine up to ~10M docs per
      domain, a skew hazard beyond; use at validation scale or after the
      rate pass has knocked giants down.

    Both orders are partition-layout-independent, so a re-shard or
    backfill keeps the same survivors. A NULL stratum is one stratum (the
    window form groups NULL naturally; the rate form keys its count join
    on a coalesced sentinel so NULL-stratum rows are capped, not silently
    dropped by a never-matching NULL equi-join).

    The membership draw is salted with a ``cap:`` prefix so it is
    INDEPENDENT of ``stratified_sample``'s draw on the same
    (stratum, id) key. Unsalted, both read md5('stratum:id') -- and since
    10^4 divides 10^6, a binding cap (threshold t < 10^4, i.e. keep rate
    under ~1%, exactly the mega-domain case) would leave every survivor
    with sample-hash < t, so a downstream sample at rate r keeps
    min(1, r*10^4/t) of them instead of r (e.g. 100% instead of 50%).
    The exact form's order key is salted identically: at extreme binding
    (keep fraction < 10^4/2^32) the smallest-md5 survivors also pin the
    sample-hash residue.

    ``checkpoint=True`` lazily localCheckpoints the input before the rate
    form's two references (the count aggregate and the keep filter): AQE
    compiles the two subplans independently, so WITHOUT it whatever
    pipeline feeds this operator executes twice -- measurable when the
    input is itself a gate->dedup funnel (q_training_mix read the corpus
    4x instead of 2x). Off by default to keep the operator a pure lazy
    plan; at warehouse scale write the funnel to a table instead of
    executor blocks (same contract as unigram_logprob_score's
    ``checkpoint_tf``). Values are unchanged either way. The exact form
    references its input exactly once (one window pass), so
    ``checkpoint=True`` would be a silent no-op there -- rejected loudly
    instead (round 7): a reader assuming the double-execution guard is
    active must find out it is not needed, not be misled."""
    from pyspark.sql import Window

    if checkpoint:
        if method != "rate":
            raise ValueError(
                "checkpoint=True only applies to method='rate' (the exact "
                "form references its input once; a checkpoint would be a "
                "silent no-op) -- drop the flag"
            )
        df = df.localCheckpoint(eager=False)
    h = F.concat(
        F.lit("cap:"),
        F.coalesce(F.col(stratum_col).cast("string"), F.lit("\x00<null>")),
        F.lit(":"), F.col(id_col).cast("string"),
    )
    if method == "exact":
        w = Window.partitionBy(stratum_col).orderBy(F.md5(h), F.col(id_col))
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= cap)
            .drop("_rk")
        )
    if method != "rate":
        raise ValueError(f"unknown cap method: {method!r}")
    skey = F.coalesce(F.col(stratum_col).cast("string"), F.lit("\x00<null>"))
    counts = (
        df.select(skey.alias("_s"))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # cap * 1e6 computed in PYTHON (a plain int literal is LongType): the
    # column-side product of two int literals overflows IntegerType under
    # ANSI mode for any cap > 2147 -- incl. the corpus_job default 10000
    keep = _md5_bucket(h, 1_000_000) < F.least(
        F.lit(1_000_000).cast("bigint"),
        F.ceil(F.lit(int(cap) * 1_000_000) / F.col("_n")).cast("bigint"),
    )
    return (
        df.withColumn("_s", skey)
        .join(F.broadcast(counts), "_s")
        .where(keep)
        .drop("_s", "_n")
    )


def corpus_report(
    df: DataFrame, text_col: str = "text", exact_dup: bool = False,
    **gate_overrides,
) -> DataFrame:
    """One-row corpus audit report -- the observability pass a curation
    pipeline runs before and after its stages (the CCNet / Dolma-style
    corpus card numbers): document/token/char totals, the language mix,
    the quality-gate keep fraction with a per-reason reject histogram,
    how many documents carry each PII class, and the exact-duplicate
    estimate.

    Scale shape: ONE corpus scan. Every per-document signal (gate
    reasons, language guess, PII flags, content fingerprint) is computed
    in a single fused projection (reusing the gate's shared expression
    frame), then folded by ONE map-side-combined aggregate into a single
    row. Duplicate counting defaults to ``approx_count_distinct`` on the
    fingerprint so the report stays one pass with no Expand rewrite --
    mixing an EXACT count-distinct into a multi-aggregate triggers
    Catalyst's Expand (every row duplicated per aggregate family; the
    q_sketch_accuracy lesson) -- and a ~2% HLL error on a dup-rate
    estimate is the right trade at 100 TB. ``exact_dup=True`` swaps in
    the exact distinct as a SECOND aggregate family joined back (one
    extra pass over the fingerprint column, still no Expand).

    Returns a 1-row DataFrame so the report composes (write it next to
    the output, union across shards, diff across rounds)."""
    from .dedup import normalized

    base, reasons, cols = _gate_frame(df, text_col, {**GATE_DEFAULTS,
                                                     **gate_overrides})
    t = F.col(text_col)
    from .pii import CARD_RE, EMAIL_RE, INTL_PHONE_RE, IPV4_RE, PHONE_RE, SSN_RE

    _en, _es, lang = _lang_signals(F.col("_toks"))
    per_doc = base.select(
        cols["n_tokens"].alias("_nt"),
        F.length(t).alias("_nc"),
        reasons.alias("_rej"),
        lang.alias("_lang"),
        *[
            (F.regexp_count(t, F.lit(rx)) > 0).cast("int").alias(f"_pii_{name}")
            for name, rx in (("email", EMAIL_RE), ("ip", IPV4_RE),
                             ("card", CARD_RE), ("ssn", SSN_RE),
                             ("intl_phone", INTL_PHONE_RE),
                             ("phone", PHONE_RE))
        ],
        F.md5(normalized(t)).alias("_fp"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").cast("bigint").alias("total_tokens"),
        F.sum("_nc").cast("bigint").alias("total_chars"),
        F.round(F.avg((F.col("_rej") == "").cast("double")), 6)
         .alias("gate_keep_frac"),
        *[
            F.sum((F.array_contains(F.split(F.col("_rej"), ","), name))
                  .cast("bigint")).alias(f"rej_{name}")
            for name, _cond in _GATE_REASONS
        ],
        *[
            F.sum((F.col("_lang") == code).cast("bigint")).alias(f"lang_{code}")
            for code in ("en", "es", "und")
        ],
        *[
            F.sum(F.col(f"_pii_{name}")).cast("bigint")
             .alias(f"docs_with_{name}")
            for name in ("email", "ip", "card", "ssn", "intl_phone", "phone")
        ],
        # NULL-text docs have a NULL fingerprint (excluded from the
        # distinct count); surfaced separately so the dup estimate below
        # can stay "dups among content-bearing docs"
        F.sum(F.col("_fp").isNull().cast("bigint")).cast("bigint")
         .alias("docs_null_text"),
    ]
    if exact_dup:
        one = per_doc.agg(*aggs)
        distinct = per_doc.agg(
            F.count_distinct(F.col("_fp")).alias("n_distinct_fp")
        )
        out = one.crossJoin(F.broadcast(distinct))
    else:
        out = per_doc.agg(
            *aggs,
            F.approx_count_distinct("_fp").alias("n_distinct_fp"),
        )
    return out.withColumn(
        "est_dup_docs",
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.col("n_docs") - F.col("docs_null_text")
             - F.col("n_distinct_fp")).cast("bigint"),
        ),
    )
