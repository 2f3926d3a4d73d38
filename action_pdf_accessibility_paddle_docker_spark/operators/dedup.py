"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All shuffles are keyed deliberately:
  * exact: one hash-groupBy on the content fingerprint (map-side combine).
  * n-gram Jaccard: explode distinct shingles -> per-shingle posting lists
    -> streamed (i < j) pair explode -> pair aggregation. At web scale the
    pair count explodes on hot shingles, which is exactly why MinHash+LSH
    is the scale path: candidate pairs only meet inside small LSH buckets.
  * MinHash: per-doc signature is one groupBy(doc) over exploded shingles
    with 16 mins computed map-side; LSH bands re-key by (band, band-hash) so
    the candidate join is an equi-join on bucket ids.
  * SimHash: per-doc 16-bit signature from token hashes; bucket by signature.

Hashes are md5-derived (both Spark and DuckDB have md5) so every operator has
an exact DuckDB oracle in plans/queries.py.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Optional

from pyspark.sql import DataFrame, Observation, functions as F

NUM_MINHASHES = 16
LSH_BANDS = 4  # 4 rows per band
#: the one MinHash family (``minhash_signatures``), stamped on every bucket row
MINHASH_FAMILY = "md5mix"
#: the stamps a persisted bucket table is probed under: the incremental and
#: streaming probes signature with the module banding only
BUCKET_STAMPS = {"hash_family": MINHASH_FAMILY,
                 "banding": f"{NUM_MINHASHES}x{LSH_BANDS}"}
SIMHASH_BITS = 16


def normalized(text_col):
    return F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash; keeps min id as canonical.
    Returns (fingerprint, canonical_id, n_dups)."""
    return (
        df.select(F.col(id_col), F.md5(normalized(F.col(text_col))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def word_bigrams(text_col):
    """Distinct word-bigram shingles of the normalized text. Built as
    zip_with of two shifted slices -- O(n) per document; the element_at-in-
    transform formulation is O(n^2) because element_at walks the array."""
    toks = F.split(normalized(text_col), " ")
    n = F.size(toks)
    grams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def _widen(df: DataFrame, key: str | None = None) -> DataFrame:
    """Single fat parquet files arrive as one split; spread the per-row-heavy
    shingle/token projections across the cluster before exploding. A
    streaming frame has no partition count to probe (``.rdd`` raises), so
    it always repartitions to 16 (the explode below dominates the extra
    exchange anyway).

    ``key`` (round 8): HASH-partition by that column instead of round-robin.
    When the downstream plan aggregates per document, HashPartitioning(key)
    already satisfies the groupBy's ClusteredDistribution (subset rule), so
    the aggregate's own Exchange disappears -- the (much larger) exploded
    token/shingle stream is never shuffled, only the raw rows once (guide
    section 2.4: two operations keyed the same way share one exchange;
    measured 3.5x on the minhash signature stage at sf0.1). Values are
    unchanged: every per-doc aggregate here is order-independent. Skew note:
    keying by document id spreads as evenly as the id space (one giant
    DOCUMENT still lands on one task, exactly as the explode stage already
    did under round-robin)."""
    part = (F.col(key),) if key is not None else ()
    if df.isStreaming:
        return df.repartition(16, *part)
    want = df.sparkSession.sparkContext.defaultParallelism
    # the .rdd partition-count probe costs ~35 ms of driver time per call
    # (plan -> RDD conversion); memoize it per semantically-equal plan
    # (round 8), oldest entry evicted past the bound. A (vanishingly
    # unlikely) 32-bit hash collision could only flip the widen DECISION,
    # never a value -- repartition is value-neutral; same staleness caveat
    # as the scan memo.
    ck = (df.sparkSession, df.semanticHash())
    n_parts = _NPARTS_CACHE.get(ck)
    if n_parts is None:
        n_parts = _NPARTS_CACHE[ck] = df.rdd.getNumPartitions()
        if len(_NPARTS_CACHE) > _NPARTS_MAX:
            del _NPARTS_CACHE[next(iter(_NPARTS_CACHE))]
    return df.repartition(want, *part) if n_parts < want else df


_NPARTS_CACHE: dict = {}
_NPARTS_MAX = 128


def range_widen(df: DataFrame, key: str) -> DataFrame:
    """RANGE-partition a narrow input by the eventual output sort key before
    a heavy projection/aggregate -- the flagship extraction plan's shape
    (range-partition + sort the INPUT, heavy work last), applied to the
    per-document query paths (round 8).

    Why range and not round-robin/hash: a query that ends in
    ``orderBy(key)`` pays for its ordering with a range exchange whose
    sampling pass RE-EXECUTES the whole child subtree -- for a
    projection-heavy query the expensive projection runs twice (measured:
    q_doc_stats 1.03 s -> 0.36 s, q_simhash 0.95 s -> 0.35 s at sf0.1).
    Partitioning the INPUT by range instead means (a) the sampling pass
    re-executes only the cheap scan, (b) per-doc groupBys fuse onto the
    exchange exactly as with the hash ``_widen`` (RangePartitioning also
    clusters equal keys), and (c) the final ``orderBy`` is satisfied by the
    existing partitioning and degrades to a partition-local sort -- no
    second exchange, no recompute, at ANY scale. The explicit partition
    count (scale-adaptive: defaultParallelism) pins the partitioning so AQE
    does not coalesce it into UnknownPartitioning, which would resurrect
    the final exchange. Callers' operators still call ``_widen`` internally;
    it no-ops on the already-widened frame."""
    want = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(want, *[F.col(k) for k in key.split(",")])


def shingle_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return _widen(df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
                  key="doc_id").select(
        "doc_id",
        F.explode(word_bigrams(F.col("text"))).alias("shingle"),
    ).where(F.length("shingle") > 0)


def word_ngrams(text_col, n: int):
    """Non-distinct word n-grams of the normalized text, in position order.
    `transform` over the start-index sequence + a fixed-width `slice` is
    O(n_tokens * n) JVM-side work per document (the slice copies n refs per
    gram; no quadratic element_at walk)."""
    toks = F.split(normalized(text_col), " ")
    cnt = F.size(toks)
    return F.when(
        cnt >= n,
        F.transform(
            F.sequence(F.lit(1), cnt - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_ngram_stats(
    df: DataFrame, n: int = 8, id_col: str = "doc_id", text_col: str = "text",
    checkpoint: bool = True,
) -> DataFrame:
    """Per-document duplicated-n-gram fraction -- the substring-level
    duplication signal from Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (word-level n-grams instead of suffix-array
    byte spans; the signal is the same: how much of this document's content
    also exists elsewhere in the corpus).

    Scale shape: counts are pre-aggregated per (doc, gram) BEFORE the
    global per-gram aggregate, and the global table is NEVER joined back on
    the gram (the (doc,gram) table is needed twice, so its reused shuffle
    stage would block AQE's skew-join split on a hot boilerplate gram).
    Instead: a gram occurrence is duplicated unless its gram is a corpus
    singleton, and a singleton gram (c_glob == 1) has exactly ONE
    (doc, gram) row -- so n_dup = n_ngrams - n_singleton_grams_of_doc, with
    the singleton attribution carried through min(doc_id) on the per-gram
    aggregate (exact for singletons). Every aggregate gets map-side combine
    (a hot gram reaches its reducer as one partial per mapper); every join
    is on doc_id. Documents shorter than n tokens have no n-grams and are
    absent from the output (same on the oracle side).

    Grams are md5-hashed INSIDE the transform, before the explode: the
    shuffle then carries 32-hex keys instead of n-word strings (measured
    1.07x at sf0.1, 1.16x at the sf1 probe -- the win grows with gram
    width and scale). Counts are identical to grouping on the strings
    (the oracle keeps the string form): md5 is 128-bit, the same
    birthday-safe class as the identity fingerprints (SCALE.md) -- a
    gram-hash collision that could miscount a singleton needs ~2^64
    distinct grams."""
    # doc_id-keyed widen + a lazy checkpoint of ``local`` (round 8): the
    # keyed widen fuses the (doc, gram) aggregate onto the widen exchange,
    # so the EXPLODED gram stream is never shuffled (only raw rows are,
    # once) -- but ``local`` is consumed by TWO aggregates, and with its
    # own exchange fused away they would otherwise each re-execute the
    # explode+md5 subtree (measured 0.76 -> 1.27 s). The checkpoint
    # restores the shared materialization point the exchange used to
    # provide; net 1.30 -> 1.06 s at sf0.1, and at corpus scale the
    # gram-occurrence shuffle this removes is several times the raw text.
    # (Same executor-block storage caveat as unigram's tf: at warehouse
    # scale persist ``local`` to a table instead.)
    grams = _widen(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        key="doc_id",
    ).select(
        "doc_id",
        F.explode(
            F.transform(word_ngrams(F.col("text"), n), F.md5)
        ).alias("gram"),
    )
    local = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c_local"))
    if checkpoint:
        # checkpoint=False keeps the whole plan visible (plan-gate tests /
        # pure-lazy composition); the double-execution cost then returns
        local = local.localCheckpoint(eager=False)
    per_doc = local.groupBy("doc_id").agg(F.sum("c_local").alias("n_ngrams"))
    singles_per_doc = (
        local.groupBy("gram")
        .agg(
            F.sum("c_local").alias("c_glob"),
            F.min("doc_id").alias("only_doc"),
        )
        .where(F.col("c_glob") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_single"))
    )
    return (
        per_doc.join(singles_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            (F.col("n_ngrams") - F.coalesce(F.col("n_single"), F.lit(0))).alias(
                "n_dup_ngrams"
            ),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_ngrams").cast("double") / F.col("n_ngrams"), 6),
        )
    )


def chunk_dedup_stats(
    df: DataFrame, chunk_tokens: int = 20, id_col: str = "doc_id", text_col: str = "text",
    checkpoint: bool = True,
) -> DataFrame:
    """Paragraph-level dedup stats (Dolma-style), with fixed-width token
    chunks standing in for paragraphs (the synthetic corpus has no hard
    paragraph breaks; swap the chunker for split('\\n\\n') on real data).

    A chunk is a duplicate when the same chunk hash occurs earlier in
    corpus order (doc_id, chunk_idx) -- the first occurrence is canonical,
    every later copy counts as removable.

    Skew posture: a boilerplate chunk repeated across 10% of a web corpus
    is a hot key, so this deliberately avoids BOTH a row_number window over
    the chunk hash (AQE can never split a skewed window partition) AND a
    join-back on the hash (the exploded chunk table is needed twice, and
    the reused shuffle stage blocks OptimizeSkewedJoin's split). Instead:
    a chunk is a dup iff it is not its hash's corpus-canonical occurrence,
    so n_dup = n_chunks - n_canonical per document --
      * canonical per hash = min(struct(doc_id, chunk_idx)): groupBy(h)
        with map-side combine; the hot hash partial-aggregates on every
        mapper and reaches the reducer as ONE row per mapper;
      * the canonical table has ONE ROW PER DISTINCT HASH, so regrouping it
        by doc_id is skew-free by construction;
      * the final equi-join is on doc_id between two per-doc aggregates
        (each bounded by document count), never on the hash."""
    # chunking expressions reference the ALIASED text column so they sit
    # ABOVE _widen's exchange: computing them in the pre-widen projection
    # would run the whole tokenize+chunk chain in the input's (possibly
    # single) split -- widen the raw rows first, transform after
    toks = F.split(normalized(F.col("text")), " ")
    n_chunks = F.ceil(F.size(toks).cast("double") / chunk_tokens).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda j: F.array_join(F.slice(toks, j * chunk_tokens + 1, chunk_tokens), " "),
    )
    ch = (
        # keyed widen + lazy checkpoint (round 8, the dup_ngram_stats
        # note): ``ch`` is consumed twice; the checkpoint is its shared
        # materialization point, the keyed widen lets per_doc fuse, and
        # the exploded chunk-hash stream is never shuffled (1.34 -> 0.97 s
        # at sf0.1)
        _widen(df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
               key="doc_id")
        .select("doc_id", chunks.alias("chunks"))
        .select("doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk"))
        .select("doc_id", "chunk_idx", F.md5("chunk").alias("h"))
    )
    if checkpoint:
        ch = ch.localCheckpoint(eager=False)
    per_doc = ch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    canon_per_doc = (
        ch.groupBy("h")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("first"))
        .groupBy(F.col("first.doc_id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_canonical"))
    )
    return (
        per_doc.join(canon_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            (F.col("n_chunks") - F.coalesce(F.col("n_canonical"), F.lit(0))).alias(
                "n_dup_chunks"
            ),
        )
        .withColumn(
            "dup_chunk_ratio",
            F.round(F.col("n_dup_chunks").cast("double") / F.col("n_chunks"), 6),
        )
    )


def _line_occurrences(
    df: DataFrame, id_col: str, text_col: str, min_chars: int,
    separator: str = "\n",
) -> DataFrame:
    """(doc_id, line_idx, line, h) for every separator-split unit; ``h`` is
    md5 of the RAW unit (exact identity) but only for ELIGIBLE units
    (trimmed length >= min_chars) -- short units ('Introduction', bullets)
    are never dedup keys, or corpus-wide removal would shred every
    document's scaffolding. line_idx is 0-based. ``separator`` is a LITERAL
    string used both as the split pattern (regex-quoted via \\Q...\\E, so any
    literal is safe) and the rejoin glue: '\n' for lines, '\n\n' for
    paragraphs (the Dolma-style granularity). Paragraph-mode caveat: 3+
    consecutive newlines leave a stray '\n' attached to the next unit and
    change its hash -- normalize blank-line runs upstream if the corpus has
    them."""
    if "\\E" in separator:
        raise ValueError(r"separator must not contain \E (regex literal quoting)")
    return (
        _widen(
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            key="doc_id",
        )
        .select(
            "doc_id",
            F.posexplode(
                F.split("text", "\\Q" + separator + "\\E")
            ).alias("line_idx", "line"),
        )
        .withColumn(
            "h",
            F.when(
                F.length(F.trim(F.col("line"))) >= min_chars, F.md5("line")
            ),
        )
    )


def _kept_lines(occ: DataFrame) -> DataFrame:
    """Occurrence-level verdicts: a line survives iff it is ineligible
    (NULL h) or it is its hash's corpus-first occurrence
    (min(doc_id, line_idx)). ``occ`` must arrive already (lazily)
    localCheckpointed -- the callers do it so the SAME materialization also
    serves their other reference (per-doc counts / the rewrite join).

    Unlike ``chunk_dedup_stats`` (which only needs counts and can stay
    join-free via n - n_canonical), removal needs a PER-OCCURRENCE verdict,
    so a join on the line hash is unavoidable. Skew posture: the build side
    is ONE ROW PER DISTINCT HASH (the min aggregate, map-side combined --
    the hot boilerplate line reaches its reducer as one partial per
    mapper); the probe side is hot on that hash, which AQE's
    OptimizeSkewedJoin CAN split because the occurrence table is
    checkpointed -- without it the explode's exchange is reused by both the
    aggregate and the join, and a reused exchange is excluded from skew
    splitting (the chunk_dedup lesson, SCALE.md)."""
    winners = (
        occ.where(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "line_idx")).alias("w"))
    )
    return (
        occ.join(winners, "h", "left")
        .where(
            F.col("h").isNull()
            | (
                (F.col("w.doc_id") == F.col("doc_id"))
                & (F.col("w.line_idx") == F.col("line_idx"))
            )
        )
        .select("doc_id", "line_idx", "line")
    )


def _rebuild_text(separator: str = "\n") -> "F.Column":
    """The ONE reassembly expression (separator-join of surviving units in
    line_idx order) -- shared by the stats and consuming forms so the
    rewritten_fp contract (stats fp == md5 of the consuming form's text)
    cannot drift."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
            lambda x: x["line"],
        ),
        separator,
    )


def duplicate_line_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 30,
    separator: str = "\n",
) -> DataFrame:
    """Corpus-wide exact duplicate-LINE removal, report form (RefinedWeb
    Penedo et al. 2023 / MassiveText Rae et al. 2021: boilerplate lines --
    nav bars, footers, cookie banners -- repeat across millions of pages;
    the first corpus occurrence (min doc_id, line_idx) survives, every
    later occurrence is removed from ITS document, and the document is
    reassembled from its surviving lines in order).

    Returns (doc_id, n_lines, n_dup_removed, rewritten_fp) where
    rewritten_fp is md5 of the separator-rejoined surviving text -- the
    byte-exact reassembly pin the oracle replays. Docs whose every line is
    removed report rewritten_fp = md5('')."""
    # ONE materialization of the exploded lines serves all three consumers
    # (per-doc counts, the winner aggregate, the verdict join)
    occ = _line_occurrences(
        df, id_col, text_col, min_chars, separator
    ).localCheckpoint(eager=False)
    per_doc = occ.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    rebuilt = (
        _kept_lines(occ)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            _rebuild_text(separator).alias("_new_text"),
        )
    )
    return (
        per_doc.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_removed"),
            F.md5(F.coalesce(F.col("_new_text"), F.lit(""))).alias(
                "rewritten_fp"
            ),
        )
    )


def remove_duplicate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 30,
    checkpoint_input: bool = True,
    separator: str = "\n",
) -> DataFrame:
    """Consuming form of ``duplicate_line_stats``: original columns with
    ``text_col`` rewritten to the surviving lines. Docs with NULL text pass
    through unchanged (split(NULL) explodes to nothing; the left join
    coalesces back).

    The input is lazily localCheckpointed FIRST: this operator references
    ``df`` twice (the line explode and the rewrite join), and in a CLI
    composition that would re-execute the whole upstream stage chain --
    the round-5 neardup lesson. Pass ``checkpoint_input=False`` when the
    caller already materialized ``df`` (corpus_job does, EAGERLY: a lazy
    checkpoint completes upstream Observations with rows=0, zeroing the
    job's per-stage counters)."""
    if checkpoint_input:
        df = df.localCheckpoint(eager=False)
    occ = _line_occurrences(
        df, id_col, text_col, min_chars, separator
    ).localCheckpoint(eager=False)
    rebuilt = (
        _kept_lines(occ)
        .groupBy("doc_id")
        .agg(
            _rebuild_text(separator).alias("_new_text")
        )
        .withColumnRenamed("doc_id", "_dl_id")
    )
    return (
        df.join(rebuilt, F.col(id_col) == F.col("_dl_id"), "left")
        .withColumn(
            text_col,
            F.when(F.col(text_col).isNotNull(), F.coalesce("_new_text", F.lit(""))),
        )
        .drop("_dl_id", "_new_text")
    )


# --- corpus-wide exact duplicate-SPAN removal (ExactSubstr) -----------------
# Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better" (arXiv:2107.06499): remove every duplicated token span of >= k
# tokens, keeping the corpus-first occurrence. The reference implementation
# builds a corpus-wide suffix array on one machine; the Spark re-expression
# anchors spans on k-token rolling grams instead (a span of length L >= k is
# duplicated iff all of its L-k+1 grams are), which distributes as one
# explode + one hash aggregate + one doc-keyed join -- no global ordered
# structure. Whitespace is tokenizer-level: documents whose text is modified
# are rejoined with single spaces; untouched documents stay byte-exact.
# Honest limit: whitespace tokens mean UNSEGMENTED scripts (CJK, Thai) yield
# one giant "token" per run of text, so spans are never detected there --
# segment upstream or dedup those languages at the line/chunk level.

SPAN_K_DEFAULT = 50  # Lee et al.'s 50-token threshold


def _span_base(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(doc_id, _text, _toks, n_tokens): whitespace tokens per doc. The
    gram hashes are deliberately NOT part of this frame: both callers
    checkpoint it and join it doc-side, and the gram array (~33 bytes/token)
    is several times the text -- it belongs only on the occurrence branch
    (``_span_gram_occurrences``), whose checkpoint is its single
    materialization. n_tokens is guarded explicitly (never via
    coalesce(size(..)): under legacy/non-ANSI sessions size(NULL) is -1,
    not NULL)."""
    toks = F.when(
        F.col("_text").isNotNull(),
        F.filter(F.split(F.trim("_text"), r"\s+"), lambda x: x != F.lit("")),
    )
    staged = _widen(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")),
        key="doc_id",
    ).withColumn("_toks", toks)
    return staged.withColumn(
        "n_tokens",
        F.when(F.col("_toks").isNotNull(), F.size("_toks"))
        .otherwise(F.lit(0))
        .cast("bigint"),
    )


def _span_gram_occurrences(base: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gh): md5 of every k-token window of ``base``'s token
    array (0-based start position). Docs with fewer than k tokens produce
    no rows (sequence() with start > stop would COUNT DOWN, so the short
    side is guarded into an empty array the explode drops)."""
    grams = F.when(
        F.col("n_tokens") >= k,
        F.transform(
            F.sequence(F.lit(0), (F.col("n_tokens") - k).cast("int")),
            lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, k))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.withColumn("_grams", grams).select(
        "doc_id", F.posexplode("_grams").alias("pos", "gh")
    )


def _non_winner_positions(occ: DataFrame) -> DataFrame:
    """(doc_id, pos) of every gram occurrence that is NOT its hash's
    corpus-first occurrence (min(doc_id, pos) -- a count-1 gram's only
    occurrence IS the winner, so no count filter is needed).

    Skew posture mirrors the dup-line join (SCALE.md): the build side is ONE
    row per distinct gram hash (map-side-combined min), and ``occ`` must
    arrive checkpointed so the probe side's hot-gram partitions stay
    AQE-splittable (a reused exchange is excluded from OptimizeSkewedJoin).
    Both sides grow with the corpus, so the join is pinned to sort-merge: a
    broadcast of the gram side ran a 3 GiB driver out of memory at ~5M
    grams, and AQE broadcasts it whenever a run's gram table is small."""
    winners = occ.groupBy("gh").agg(F.min(F.struct("doc_id", "pos")).alias("w"))
    return (
        occ.hint("shuffle_merge").join(winners, "gh")
        .where(
            ~(
                (F.col("w.doc_id") == F.col("doc_id"))
                & (F.col("w.pos") == F.col("pos"))
            )
        )
        .select("doc_id", "pos")
    )


def _spans_from_positions(dups: DataFrame, k: int) -> DataFrame:
    """Merge removable gram start positions into maximal spans per doc:
    (doc_id, spans array<struct<s,e>>), token positions [s, e) to remove.
    Adjacent/overlapping grams merge gaps-and-islands style: a new island
    starts when pos > max(previous pos + k). The island windows partition
    by doc_id -- bounded by document length, never a corpus-wide key."""
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("pos") + k).over(w_prev)
    islands = dups.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn("_isl", F.sum("_new").over(w_run))
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + k).cast("bigint").alias("e"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"))
    )


def _dup_span_table(occ: DataFrame, k: int) -> DataFrame:
    """Maximal duplicated spans per doc for the within-corpus form: the
    non-winner occurrences merged into [s, e) removal spans."""
    return _spans_from_positions(_non_winner_positions(occ), k)


def _span_kept_tokens():
    """Token filter shared by the stats and consuming forms: drop every
    token whose position falls inside a removal span."""
    return F.filter(
        "_toks",
        lambda t, p: ~F.exists(
            "spans", lambda sp: (p >= sp["s"]) & (p < sp["e"])
        ),
    )


def duplicate_span_stats(
    df: DataFrame,
    k: int = SPAN_K_DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Report form of ExactSubstr span removal. Returns
    (doc_id, n_tokens, n_dup_spans, n_removed_tokens, rewritten_fp) for
    EVERY input doc (NULL-text docs report 0 tokens and a NULL fp).
    rewritten_fp is md5 of the post-removal text -- the ORIGINAL text when
    no span was removed (byte-exact passthrough), the single-space token
    rejoin when one was, NULL for NULL text -- so it pins exactly what
    ``remove_duplicate_spans`` would emit (NULL and '' stay distinct: the
    corpus_diff lesson)."""
    base = _span_base(df, id_col, text_col, k).localCheckpoint(eager=False)
    occ = _span_gram_occurrences(base, k).localCheckpoint(eager=False)
    joined = base.join(_dup_span_table(occ, k), "doc_id", "left")
    kept = F.when(F.col("spans").isNotNull(), _span_kept_tokens())
    return joined.select(
        "doc_id",
        "n_tokens",
        F.when(F.col("spans").isNotNull(), F.size("spans"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_dup_spans"),
        F.when(
            F.col("spans").isNotNull(), F.col("n_tokens") - F.size(kept)
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_removed_tokens"),
        F.md5(
            F.when(F.col("spans").isNotNull(), F.concat_ws(" ", kept)).otherwise(
                F.col("_text")
            )
        ).alias("rewritten_fp"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    k: int = SPAN_K_DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_input: bool = True,
) -> DataFrame:
    """Consuming form: original columns with ``text_col`` rewritten to the
    post-removal text. Docs without a removed span (including NULL text and
    docs shorter than k tokens) pass through BYTE-EXACT; modified docs are
    rejoined with single spaces (token-level operator). The input is lazily
    localCheckpointed because it is referenced twice (gram explode + rewrite
    join) -- pass ``checkpoint_input=False`` when the caller already
    materialized it (corpus_job does, eagerly)."""
    if checkpoint_input:
        df = df.localCheckpoint(eager=False)
    base = _span_base(df, id_col, text_col, k).localCheckpoint(eager=False)
    occ = _span_gram_occurrences(base, k).localCheckpoint(eager=False)
    return _rewrite_with_spans(df, base, _dup_span_table(occ, k), id_col, text_col)


def _rewrite_with_spans(
    df: DataFrame,
    base: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Apply a (doc_id, spans) removal table to ``df``: docs with spans get
    ``text_col`` rewritten to the surviving tokens (single-space rejoin),
    everything else passes through byte-exact."""
    rewritten = base.join(spans, "doc_id").select(
        F.col("doc_id").alias("_sp_id"),
        F.concat_ws(" ", _span_kept_tokens()).alias("_new_text"),
    )
    return (
        df.join(rewritten, F.col(id_col) == F.col("_sp_id"), "left")
        .withColumn(
            text_col,
            F.when(F.col("_sp_id").isNotNull(), F.col("_new_text")).otherwise(
                F.col(text_col)
            ),
        )
        .drop("_sp_id", "_new_text")
    )


#: Stamp column on persisted span-gram tables: gram hashes are k-specific
#: (an 8-gram table matches nothing a 50-gram probe computes), so a probe
#: under a different --span-k must error loudly, never silently admit every
#: duplicated span -- the same discipline as ``fp_key`` / the LSH ``banding``
#: stamp.
SPAN_K_STAMP_COL = "span_k"


def span_gram_table(
    df: DataFrame,
    k: int = SPAN_K_DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The persisted CDC state for incremental span dedup: the corpus's
    DISTINCT k-gram hash set, stamped with k. Run arriving shards through
    ``incremental_span_dedup`` and add each shard's ``new_grams`` appendix
    to the state only after its output commits, so a crashed shard run
    never poisons the state (``corpus_job --state`` commits it that way;
    an empty state needs no bootstrap)."""
    base = _span_base(df, id_col, text_col, k)
    return (
        _span_gram_occurrences(base, k)
        .select("gh")
        .distinct()
        .withColumn(SPAN_K_STAMP_COL, F.lit(int(k)))
    )


#: why a foreign value of each provenance stamp must fail the run
_STAMP_WHY = {
    "fp_key": "content md5s and url md5s never match each other",
    "hash_family": "bucket values never match across families",
    "banding": "band indices and slice hashes never match across bandings",
    SPAN_K_STAMP_COL: "gram hashes are k-specific, so a mismatched k matches "
                      "nothing (build the table with dedup.span_gram_table)",
}
#: stamps a state table must carry; the others pass when absent or NULL
_REQUIRED_STAMPS = (SPAN_K_STAMP_COL,)


def check_stamps(state: DataFrame, expected: dict) -> None:
    """Fail loudly when a persisted state table's provenance stamps differ
    from what this run computes with -- the one guard of every incremental
    operator (``expected``: stamp column -> this run's value). A foreign
    stamp means the probe silently matches nothing: every seen document,
    near-dup or span admitted again, a second key space appended.

    ONE foreign-stamp filter (``stamp != expected``) in one Spark job:
    stamps are per-file constants, so parquet row-group stats prune every
    healthy file and a clean table costs footer reads only (a ``head(1)``
    sample could land on a legacy-NULL row and mask a mismatch).
    ``fp_key``, ``hash_family`` and ``banding`` pass when absent or NULL
    (unknown, pre-stamp provenance); ``span_k`` is required, so an
    unstamped gram table raises."""
    for col in _REQUIRED_STAMPS:
        if col in expected and col not in state.columns:
            state = state.withColumn(col, F.lit(None))
    cols = [c for c in expected if c in state.columns]
    if not cols:
        return
    pred = None
    for c in cols:
        bad = F.col(c) != F.lit(expected[c])
        bad = (F.col(c).isNull() | bad) if c in _REQUIRED_STAMPS else bad
        pred = bad if pred is None else pred | bad
    rows = state.select(*cols).where(pred).distinct().collect()
    for c in cols:
        foreign = {r[c] for r in rows if r[c] != expected[c]}
        if None in foreign and c in _REQUIRED_STAMPS:
            raise ValueError(
                f"state table has rows without a {c!r} stamp "
                f"({_STAMP_WHY[c]}); an unstamped table cannot be validated"
            )
        foreign = sorted(foreign - {None})
        if not foreign:
            continue
        if len(foreign) > 1:
            raise ValueError(
                f"state table carries MULTIPLE foreign {c} stamps "
                f"{foreign!r} -- several key spaces were appended into one "
                f"table; it must be rebuilt (split by {c}) before further use"
            )
        raise ValueError(
            f"state table carries {c}={foreign[0]!r} but this run uses "
            f"{expected[c]!r}; {_STAMP_WHY[c]} -- re-run with the table's "
            "parameters or rebuild the table"
        )


def incremental_span_dedup(
    shard: DataFrame,
    seen_grams: DataFrame,
    k: int = SPAN_K_DEFAULT,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_input: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """CDC form of ExactSubstr span removal -- the arriving shard against
    the persisted corpus gram table, no corpus rescan ever (completes the
    incremental dedup triple: exact fingerprints, near-dup band buckets,
    now spans). Removable positions are the union of

    * within-shard non-winners (the batch rule applied shard-locally), and
    * EVERY shard occurrence of a corpus-seen gram (the corpus is first by
      definition -- the shard winner loses too).

    Returns ``(rewritten_shard, new_grams)``: the shard with spans excised
    (byte-exact passthrough for untouched docs) and the appendix of unseen
    gram hashes, stamped with k -- add it to the state only after the
    output commits.

    The appendix is derived from the REWRITTEN text, never the raw shard:
    a straddle gram (a window crossing the boundary of an excised span)
    exists in no committed document, and appending it would mark text as
    corpus-seen that the corpus does not contain -- a later shard's SOLE
    copy of that text would then be silently excised (permanent content
    loss; review-pass-8 repro). The cost is a second gram pass, over the
    rewritten shard. Seam grams created by the rejoin CAN coincidentally
    already sit in the state (they bypass the hit probe), so the state
    table may carry rare duplicate rows -- harmless for a semi-join probe.
    Compose any doc-DROPPING stage (gate, dedup, ...) BEFORE this one in a
    CDC run, or append grams for documents that never ship.

    Scale shape (the ``incremental_dedup(method='probe')`` posture, with
    one honest difference): the shard's distinct gram set is BROADCAST and
    the corpus-age-sized gram table streams through it map-only (one
    left-semi with the big side probe-only, zero hash exchanges of the
    state); the resulting hit set is shard-bounded, checkpointed (it is
    referenced twice: occurrence marking + the appendix anti-join), and
    broadcast back. Unlike the fps probe (one fingerprint per DOC), the
    gram set is TOKEN-count-sized (~one md5 per shard token): size shards
    so it fits the broadcast budget (~10M grams per GB)."""
    check_stamps(seen_grams, {SPAN_K_STAMP_COL: int(k)})
    if checkpoint_input:
        shard = shard.localCheckpoint(eager=False)
    base = _span_base(shard, id_col, text_col, k).localCheckpoint(eager=False)
    occ = _span_gram_occurrences(base, k).localCheckpoint(eager=False)
    shard_gh = occ.select("gh").distinct().localCheckpoint(eager=False)
    hits = (
        seen_grams.select("gh")
        .join(F.broadcast(shard_gh), "gh", "left_semi")
        .distinct()
        .localCheckpoint(eager=False)
    )
    corpus_dups = occ.join(F.broadcast(hits), "gh", "left_semi").select(
        "doc_id", "pos"
    )
    dups = _non_winner_positions(occ).unionByName(corpus_dups).distinct()
    rewritten = _rewrite_with_spans(
        shard, base, _spans_from_positions(dups, k), id_col, text_col
    ).localCheckpoint(eager=False)
    rew_gh = (
        _span_gram_occurrences(
            _span_base(rewritten, id_col, text_col, k), k
        )
        .select("gh")
        .distinct()
    )
    new_grams = (
        rew_gh.join(F.broadcast(hits), "gh", "left_anti")
        .withColumn(SPAN_K_STAMP_COL, F.lit(int(k)))
    )
    return rewritten, new_grams


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = 100_000,
    observation=None,
) -> DataFrame:
    """All near-duplicate pairs with bigram-set Jaccard >= threshold.
    Exact (no hashing); quadratic on docs sharing a shingle -- the
    correctness baseline that MinHash approximates.

    ``max_doc_freq`` caps the posting-list length: a stop-word shingle shared
    by 10^7 docs would otherwise expand to ~10^14 pairs. Shingles above the
    cap are dropped from pair generation -- NOT silently: pass a
    ``pyspark.sql.Observation`` as ``observation`` to get
    ``hot_shingles_dropped`` / ``posting_lists`` counters after the action
    (they are also what the skew test asserts; caveat: when the FINAL query
    result is empty, AQE's empty-relation propagation prunes the observed
    subtree and the metrics never materialize). Dropping a hot shingle can
    only lower a pair's intersection count, so the cap is a recall-trading
    knob exactly like MinHash banding. Pass ``max_doc_freq=None`` for the
    uncapped oracle-exact baseline."""
    sh = shingle_table(df, id_col, text_col)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    # shingle-local pair expansion (same trick as minhash_lsh_candidates):
    # avoids the self-join recomputing the shingle explode on both sides
    posting = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if max_doc_freq is not None:
        posting = posting.withColumn("_hot", F.size("ids") > max_doc_freq)
        if observation is not None:
            posting = posting.observe(
                observation,
                F.sum(F.col("_hot").cast("long")).alias("hot_shingles_dropped"),
                F.count(F.lit(1)).alias("posting_lists"),
            )
        posting = posting.where(~F.col("_hot")).drop("_hot")
    inter = (
        _pairs_from_sorted_ids(posting)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _pairs_from_sorted_ids(grouped: DataFrame, extra_cols: list[str] | None = None) -> DataFrame:
    """All (id_a < id_b) pairs from rows carrying a sorted ``ids`` array.

    Two chained explodes instead of materializing the O(n^2) pair array in a
    single row: a hot bucket/shingle with a 10^5-doc posting list would
    otherwise build billions of structs inside ONE row (executor OOM); the
    chained explode streams pairs row-at-a-time."""
    cols = extra_cols or []
    step1 = grouped.select(*cols, F.explode("ids").alias("id_a"), F.col("ids").alias("_ids"))
    return step1.select(
        *cols, "id_a",
        F.explode(F.filter("_ids", lambda y: y > F.col("id_a"))).alias("id_b"),
    )


def _hash_hex_to_long(col):
    """First 8 hex chars of md5 -> bigint (same recipe as the DuckDB oracle:
    ('0x' || substr(md5(x),1,8))::UBIGINT)."""
    return F.conv(F.substring(col, 1, 8), 16, 10).cast("bigint")


# Mersenne prime for the md5mix universal-hash family: every intermediate
# stays under 2^63, so the arithmetic is exact signed-64-bit on BOTH
# engines (no ANSI overflow on Spark, no BIGINT overflow on DuckDB).
MINHASH_MIX_PRIME = (1 << 61) - 1


def minhash_mix_constants(num_hashes: int = NUM_MINHASHES) -> list[tuple[int, int, int]]:
    """Deterministic (a_i, b_i, c_i) coefficient triples for the md5mix
    family, derived from md5 of a fixed label (no RNG state, reproducible
    everywhere): a_i, b_i odd and < 2^31 so a_i * x (x < 2^32) < 2^63;
    c_i < 2^31. Shared by the Spark expressions and the DuckDB oracle SQL
    (embedded as plain integer literals on both sides)."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-mix:{i}".encode()).digest()
        a = (int.from_bytes(d[0:4], "big") & 0x7FFFFFFF) | 1
        b = (int.from_bytes(d[4:8], "big") & 0x7FFFFFFF) | 1
        c = int.from_bytes(d[8:12], "big") & 0x7FFFFFFF
        out.append((a, b, c))
    return out


def minhash_signatures(
    df: DataFrame, num_hashes: int = NUM_MINHASHES, id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig array<bigint>): sig[i] = min over shingles of
    h_i(shingle), the md5mix family (``MINHASH_FAMILY``).

    Deliberately explode+groupBy, NOT a row-wise nested-transform fold:
    higher-order functions evaluate interpreted (outside whole-stage
    codegen), and with 16 md5 calls per shingle the interpreted fold
    measured 2.7x slower than the codegen'd aggregate at sf0.1 -- the
    opposite trade from the cheap-per-element folds (simhash, repetition
    signals), where losing the shuffle wins.

    md5mix: ONE md5 per shingle; h_i mixes its two 32-bit halves with a
    degree-1 universal hash, h_i = (a_i*x1 % p + b_i*x2 % p + c_i) % p over
    the Mersenne prime p = 2^61-1 (Kirsch-Mitzenmacher-style double
    hashing). It stays exactly DuckDB-replayable (plain 64-bit integer
    arithmetic, every intermediate < 2^63 on both engines). The caveat at
    corpus scale: two shingles colliding in the full 64-bit (x1,x2) collide
    in EVERY h_i (birthday at ~2^32 distinct shingles), reasoned in
    SCALE.md; it perturbs similarity estimates, never identity
    (fingerprints stay 128-bit)."""
    hexsig = F.md5(F.col("shingle"))
    # project x1/x2 BEFORE the aggregate: one md5 + two convs per shingle
    # row, guaranteed (not left to subexpression elimination across 16
    # aggregate expressions)
    sh = shingle_table(df, id_col, text_col).select(
        "doc_id",
        _hash_hex_to_long(hexsig).alias("x1"),
        F.conv(F.substring(hexsig, 9, 8), 16, 10).cast("bigint").alias("x2"),
    )
    mins, arr = _minhash_agg_exprs(num_hashes)
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", arr.alias("sig"))


@lru_cache(maxsize=128)
def _minhash_agg_exprs(num_hashes: int):
    """The md5mix min-aggregate Columns and the signature-array Column
    (name-based, input-independent) -- compiled once per process instead of
    per call (round 8: plan CONSTRUCTION is serial driver time; 16 mix
    expressions x several py4j round-trips each, every bench round)."""
    p = MINHASH_MIX_PRIME
    mix = minhash_mix_constants(num_hashes)
    h = lambda i: (  # noqa: E731
        (F.lit(mix[i][0]) * F.col("x1")) % p
        + (F.lit(mix[i][1]) * F.col("x2")) % p
        + F.lit(mix[i][2])
    ) % p
    mins = tuple(F.min(h(i)).alias(f"h{i}") for i in range(num_hashes))
    arr = F.array(*[F.col(f"h{i}") for i in range(num_hashes)])
    return mins, arr


def lsh_collision_prob(s: float, bands: int, rows_per_band: int) -> float:
    """Probability that a pair with Jaccard similarity ``s`` shares at
    least one LSH band bucket under banding (b, r): 1 - (1 - s^r)^b --
    the S-curve of Leskovec/Rajaraman/Ullman, *Mining of Massive
    Datasets* section 3.4.2 (public)."""
    return 1.0 - (1.0 - s ** rows_per_band) ** bands


def lsh_tuning(
    num_hashes: int = NUM_MINHASHES,
    threshold: float = 0.7,
    grid: int = 2000,
) -> dict:
    """Principled (bands, rows_per_band) choice for a TARGET Jaccard
    threshold, instead of hand-picked constants: among the factorizations
    b*r == num_hashes, minimize the total selection error around the
    threshold t --

        error = integral_0^t p(s) ds  (false-positive area)
              + integral_t^1 (1 - p(s)) ds  (false-negative area)

    with p(s) the S-curve above (MMDS section 3.4.3: the ideal p is a step
    function at t; this picks the banding whose S-curve is closest to that
    step in L1). Midpoint Riemann sum on a fixed grid -- deterministic, no
    RNG, pure python driver-side math (runs once per job, never per row).

    Returns {"bands", "rows_per_band", "approx_threshold", "error"};
    ``approx_threshold`` is the conventional (1/b)^(1/r) inflection
    estimate. The module defaults (16 hashes, 4 bands x 4 rows) sit at
    approx_threshold 0.707 -- this function is how a user targets
    something else (e.g. 0.85 for strict recrawl dedup) without guessing.
    Feed the result into ``minhash_band_buckets``/``minhash_lsh_candidates``
    via ``bands=``, or pass ``threshold=`` there directly."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    best = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        step_fp = threshold / grid
        fp = sum(
            lsh_collision_prob((i + 0.5) * step_fp, b, r) for i in range(grid)
        ) * step_fp
        step_fn = (1.0 - threshold) / grid
        fn = sum(
            1.0 - lsh_collision_prob(threshold + (i + 0.5) * step_fn, b, r)
            for i in range(grid)
        ) * step_fn
        err = fp + fn
        if best is None or err < best["error"]:
            best = {
                "bands": b,
                "rows_per_band": r,
                "approx_threshold": round((1.0 / b) ** (1.0 / r), 6) if b > 1 else 1.0,
                "error": err,
            }
    best["error"] = round(best["error"], 6)
    return best


def minhash_band_buckets(
    df: DataFrame,
    num_hashes: int = NUM_MINHASHES,
    bands: Optional[int] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: Optional[float] = None,
) -> DataFrame:
    """(doc_id, band, bucket, hash_family, banding) LSH membership rows:
    band hash = md5 of the band's signature slice. The exploded form both
    the batch candidate pairing and the incremental (persisted bucket
    table) near-dedup key on. ``threshold=`` derives ``bands`` from a
    target Jaccard similarity via ``lsh_tuning`` instead of the
    hand-picked default (exclusive with an explicit ``bands`` -- a None
    sentinel, so passing the DEFAULT band count explicitly alongside a
    threshold is also rejected rather than silently overridden: a
    persisted bucket table keyed under one banding never matches another,
    so the choice must be deliberate -- and it is STAMPED in the
    ``banding`` column so ``check_stamps`` can refuse a mismatched
    probe)."""
    if threshold is not None and bands is not None:
        raise ValueError(
            "pass bands= or threshold=, not both: the banding is part "
            "of the bucket keying and must be chosen one way"
        )
    if threshold is not None:
        bands = lsh_tuning(num_hashes, threshold)["bands"]
    elif bands is None:
        bands = LSH_BANDS
    sig = minhash_signatures(df, num_hashes, id_col, text_col)
    return sig.select(
        "doc_id", F.explode(_band_struct_array(num_hashes, bands)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
        # provenance stamps: a table built under another family or
        # banding would silently match nothing in a later shard run; the
        # stamps let the incremental path fail loudly instead
        # (check_stamps)
        F.lit(MINHASH_FAMILY).alias("hash_family"),
        F.lit(f"{num_hashes}x{bands}").alias("banding"),
    )


@lru_cache(maxsize=128)
def _band_struct_array(num_hashes: int, bands: int):
    """The (band, bucket) struct array over the ``sig`` column -- compiled
    once per (num_hashes, bands) pair per process (same rationale as
    ``_minhash_agg_exprs``)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        sl = F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *[
                F.element_at(sl, i + 1).cast("string") for i in range(rows_per_band)
            ])).alias("bucket"))
        )
    return F.array(*band_cols)


def _candidate_pairs_from_buckets(
    buckets: DataFrame, order_output: bool = False
) -> DataFrame:
    """(band, bucket)-local candidate pair expansion, shared by the batch
    and incremental near-dup paths so the pairing semantics cannot
    diverge: one groupBy collects each bucket's sorted member list; all
    (i < j) pairs explode JVM-side inside the bucket.

    ``order_output=True`` (round 8): when the caller will sort the result
    by (id_a, id_b), range-partition the pair stream BEFORE the dedup
    aggregate -- RangePartitioning clusters equal pairs, so the distinct
    fuses onto the range exchange and the caller's orderBy degrades to a
    partition-local sort (one exchange + one cheap sample instead of a
    hash exchange plus a separate sample + range exchange; the
    ``range_widen`` rationale). Same rows either way."""
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pairs = _pairs_from_sorted_ids(grouped).select("id_a", "id_b")
    if order_output:
        pairs = range_widen(pairs, "id_a,id_b")
    return pairs.distinct()


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = NUM_MINHASHES,
    bands: Optional[int] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: Optional[float] = None,
    order_output: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.
    band hash = md5 of the band's signature slice. ``threshold=`` picks
    the banding for a target Jaccard similarity (see ``lsh_tuning``).
    ``order_output=True`` pre-partitions for a caller-side
    ``orderBy(id_a, id_b)`` (see ``_candidate_pairs_from_buckets``)."""
    buckets = minhash_band_buckets(
        df, num_hashes, bands, id_col, text_col, threshold=threshold,
    )
    # Bucket-local pair expansion instead of a self-join: a self-join would
    # recompute the whole signature pipeline on both sides (Spark does not
    # reuse the exchange across differently-aliased subtrees -- observed 2x
    # cost); the shared helper shuffles the signature data once.
    return _candidate_pairs_from_buckets(buckets, order_output=order_output)


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    min_overlap_frac: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval decontamination: flag (train, benchmark) pairs whose
    distinct-bigram overlap covers >= min_overlap_frac of the TRAINING doc's
    shingle set -- the standard n-gram test-set-leak check a training-data
    pipeline runs before a corpus ships.

    Scale shape: the 100 TB side (train) streams through one shingle explode;
    the benchmark side (eval suites are KB-MB) is BROADCAST, so the shingle
    match is a broadcast hash join -- no shuffle of the training corpus
    beyond the per-pair count aggregation. Returns
    (train_id, bench_id, n_shared, overlap_frac)."""
    t = shingle_table(train, id_col, text_col).withColumnRenamed("doc_id", "train_id")
    b = shingle_table(benchmark, id_col, text_col).withColumnRenamed("doc_id", "bench_id")
    sizes = t.groupBy("train_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        t.join(F.broadcast(b), "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes, "train_id")
        .withColumn("overlap_frac", F.round(F.col("n_shared") / F.col("n_shingles"), 6))
        .where(F.col("overlap_frac") >= min_overlap_frac)
        .select("train_id", "bench_id", "n_shared", "overlap_frac")
    )


def contamination_scores(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-training-doc contamination MEASUREMENT (GPT-3 Brown et al. 2020
    appendix C / PaLM-style): the fraction of the doc's distinct bigram
    shingles that appear anywhere in the benchmark suite. Where
    ``decontaminate`` answers "which (train, bench) PAIRS overlap enough to
    drop", this answers "how contaminated is each document overall" -- the
    number a corpus audit reports and a threshold sweep tunes against. A doc
    overlapping three benchmark docs at 15% each can score 45% here while no
    single pair clears ``decontaminate``'s default 30%.

    Returns (doc_id, n_shingles, n_contaminated, contamination_frac) for
    every training doc with at least one shingle.

    Scale shape: the benchmark's distinct shingle set (eval suites are
    KB-MB) is BROADCAST; the corpus streams map-only through one shingle
    explode + one map-side-combined per-doc aggregate -- no shuffle keyed on
    anything but doc_id."""
    t = shingle_table(train, id_col, text_col)
    b_sh = (
        shingle_table(benchmark, id_col, text_col)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        t.join(F.broadcast(b_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contamination_frac",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6),
        )
    )


#: propagation advances one hop per round, so this bounds the component
#: diameter ``connected_component_labels`` resolves
CC_MAX_ROUNDS = 50


def connected_component_labels(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Distributed connected components: (doc_id) nodes + (id_a, id_b) edges
    -> (doc_id, cluster_id = min id in component). Iterative min-label
    propagation entirely in DataFrame ops (no GraphFrames dependency; same
    loop GraphX's CC runs under the hood), converging in O(component
    diameter) rounds. Property-tested against a scalar union-find.

    The symmetric edge list is materialized once (eager localCheckpoint),
    so callers pass their candidate pairs as a plain plan. Each round is
    one Spark action: the propagation join + groupBy(min), eagerly
    checkpointed (which truncates the lineage), and the same job observes
    how many labels moved. Labels only decrease, so count(label < previous
    label) is exact and no second convergence join runs."""
    edges = pairs.select("id_a", "id_b").unionByName(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).localCheckpoint()
    labels = nodes.select("doc_id").distinct().withColumn("label", F.col("doc_id"))
    labels = labels.localCheckpoint()
    for _ in range(CC_MAX_ROUNDS):
        neigh = edges.join(
            labels.withColumnRenamed("doc_id", "id_a"), "id_a"
        ).select(F.col("id_b").alias("doc_id"), "label")
        moved = Observation()
        labels = (
            labels.withColumn("prev", F.col("label"))
            .unionByName(neigh, allowMissingColumns=True)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"), F.min("prev").alias("prev"))
            .observe(moved, F.count(F.when(F.col("label") < F.col("prev"), 1))
                     .alias("n"))
            .drop("prev")
            .localCheckpoint()
        )
        if moved.get["n"] == 0:
            break
    else:
        # exiting with labels still moving would silently split one
        # component into several cluster_ids -- fail loudly instead
        raise RuntimeError(
            f"connected_component_labels did not converge in {CC_MAX_ROUNDS} "
            f"rounds ({moved.get['n']} labels still changing): the component "
            "diameter exceeds CC_MAX_ROUNDS"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: Optional[float] = None,
) -> DataFrame:
    """Near-duplicate CLUSTER assignment: connected components over the
    MinHash-LSH candidate graph, canonical id = min doc_id per component.
    Returns (doc_id, cluster_id) for every document (singletons keep their
    own id). This is the keep-one-per-cluster primitive a training-data
    pipeline runs after candidate generation. LSH near-dup components are
    shallow (dupes of a common original), so the propagation rounds stay in
    single digits. ``threshold=`` tunes the banding to a target Jaccard
    similarity (see ``lsh_tuning``) -- safe here because the WITHIN-corpus
    form persists no bucket table for later runs to mismatch. The candidate
    pairs go to ``connected_component_labels`` as a plain plan: it
    materializes its edge list once, so the signature/banding pipeline runs
    once, not once per propagation round."""
    pairs = minhash_lsh_candidates(
        df, id_col=id_col, text_col=text_col, threshold=threshold,
    )
    nodes = df.select(F.col(id_col).alias("doc_id"))
    return connected_component_labels(nodes, pairs)


def incremental_near_dedup(
    new_df: DataFrame,
    seen_buckets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup for an arriving shard against the
    corpus's persisted MinHash band-bucket table -- the CDC shape of
    ``dedup_clusters``, mirroring ``incremental_dedup``: a 100 TB corpus
    is never re-signatured, only its (band, bucket) membership rows are
    kept (bands x one md5 per doc -- the same cardinality class as the
    fingerprint table).

    Returns (survivors, new_buckets):
      survivors   = shard rows that (1) are the min-id canonical of their
                    WITHIN-shard near-dup cluster (connected components
                    over the shard's own LSH candidates -- transitive,
                    like the batch form), and (2) belong to a cluster
                    NONE of whose members shares a band bucket with the
                    seen table (a hit on ANY member removes the whole
                    cluster -- the member is near corpus content, and the
                    canonical is near the member);
      new_buckets = (doc_id, band, bucket, hash_family, banding) rows to
                    append to the bucket table for the next shard
                    (schema-identical to ``minhash_band_buckets`` output,
                    so the running table stays one union): every member
                    of a SURVIVING cluster, dropped within-shard dups
                    included.

    A dropped member's buckets can differ from its canonical's, and batch
    connected components would route a future doc near that member into
    the canonical's component -- so its buckets must stay probe-able or
    that future near-dup is admitted (a transitive recall loss vs the
    batch form). Appendix cardinality is bounded by the shard (each doc
    persists at most once: a re-ingested member hits its own bucket row
    and its cluster stops surviving, so drain-to-zero still converges).

    Members of corpus-HIT clusters are not persisted: their buckets
    partially overlap existing coverage, but persisting them would
    re-append on every re-ingest of the same data (the rows never enter
    the corpus, so nothing stops the growth) -- the residual gap vs batch
    CC is a future doc near such a member's NON-overlapping region, which
    stays admitted.

    The shard is signatured under the module banding (``NUM_MINHASHES`` x
    ``LSH_BANDS``), so the seen table's ``hash_family``/``banding`` stamps
    must equal ``BUCKET_STAMPS`` (``check_stamps``); a table without
    stamps (pre-round-7) is probed as written under them.

    Scale shape: the within-shard pass is shard-sized (the reason this
    operator exists); the cross-corpus check is a bucket equi-join
    against the seen table -- no signature recompute for the corpus, no
    pair expansion across it, and a hot bucket is a skew-split join
    partition, never a window. The shard's bucket table is computed once
    (lazy localCheckpoint) and reused for the candidate pairing, the
    cross-corpus probe, and the returned appendix; the candidate pairs go
    to ``connected_component_labels`` as a plain plan (it materializes its
    edge list once)."""
    check_stamps(seen_buckets, BUCKET_STAMPS)
    buckets = minhash_band_buckets(
        new_df, id_col=id_col, text_col=text_col
    ).localCheckpoint(eager=False)
    pairs = _candidate_pairs_from_buckets(buckets)
    nodes = new_df.select(F.col(id_col).alias("doc_id"))
    labels = connected_component_labels(nodes, pairs)
    # cross-corpus probe over ALL members' buckets, then lift member hits
    # to their cluster: a hit on a non-canonical member must still remove
    # the cluster's canonical. JOIN DIRECTION matters at corpus scale:
    # broadcast the SHARD side (tiny by construction -- the operator's
    # whole premise) so the persisted table streams map-only; a left_semi
    # with the corpus on the right would shuffle the full bucket table
    # per shard
    hit_members = (
        seen_buckets.select("band", "bucket")
        .join(F.broadcast(buckets), ["band", "bucket"])
        .select("doc_id").distinct()
    )
    hit_clusters = (
        labels.join(hit_members, "doc_id", "left_semi")
        .select(F.col("cluster_id")).distinct()
    )
    # every member of a cluster none of whose members hit the corpus
    surviving_members = labels.join(hit_clusters, "cluster_id", "left_anti")
    surviving_ids = (
        surviving_members.where(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    survivors = new_df.join(
        surviving_ids.select(F.col("doc_id").alias(id_col)), id_col
    )
    # keep the internal 'doc_id' name: the appended table must stay
    # schema-identical to minhash_band_buckets output under any --id-col
    new_buckets = buckets.join(
        surviving_members.select("doc_id"), "doc_id", "left_semi"
    )
    return survivors, new_buckets


def minhash_buckets_col(text_col):
    """Row-wise MinHash LSH band buckets as ONE array column
    (``array<struct<band int, bucket string>>``) under the module banding
    (``NUM_MINHASHES`` x ``LSH_BANDS``) -- value-identical to the exploded
    ``minhash_band_buckets`` table (pinned by test), computed without any
    aggregate.

    Like ``simhash_col``, this EXISTS FOR STREAMING: a stream cannot put a
    stateful explode+groupBy signature under a downstream join, but a
    stateless column expression composes anywhere -- it is what lets an
    arriving stream be probed against the corpus's persisted bucket table
    with plain stream-static anti-joins (streaming/stream.py). The batch
    path keeps the explode+agg form: higher-order folds run interpreted
    (the measured simhash/minhash trade), though md5mix's one-md5-per-
    shingle keeps the interpreted cost bearable at stream rates.

    A document with NO shingles (empty/whitespace/NULL text) yields a
    NULL array -- mirroring the batch form, where such a doc simply has no
    bucket rows (a non-NULL placeholder would collapse every empty doc
    into one shared bucket)."""
    sh = F.filter(word_bigrams(text_col), lambda s: F.length(s) > 0)
    p = MINHASH_MIX_PRIME
    mix = minhash_mix_constants(NUM_MINHASHES)
    # ONE md5 per shingle, hoisted: the per-hash transforms fold over the
    # precomputed (x1, x2) pairs
    xs = F.transform(
        F.transform(sh, F.md5),
        lambda h: F.struct(
            _hash_hex_to_long(h).alias("x1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("x2"),
        ),
    )
    h_i = lambda i: F.array_min(F.transform(  # noqa: E731
        xs,
        lambda x: (
            (F.lit(mix[i][0]) * x["x1"]) % p
            + (F.lit(mix[i][1]) * x["x2"]) % p
            + F.lit(mix[i][2])
        ) % p,
    ))
    sig = [h_i(i) for i in range(NUM_MINHASHES)]
    rows_per_band = NUM_MINHASHES // LSH_BANDS
    band_structs = []
    for b in range(LSH_BANDS):
        bucket = F.md5(F.concat_ws(",", *[
            sig[b * rows_per_band + i].cast("string")
            for i in range(rows_per_band)
        ]))
        band_structs.append(
            F.struct(F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    return F.when(F.size(sh) > 0, F.array(*band_structs))


def simhash_col(text_col, bits: int = SIMHASH_BITS):
    """Row-wise simhash as ONE array expression: per-bit majority vote over
    the (non-distinct) token hashes of the normalized text. Null text ->
    null; a tokenless document hashes to 0.

    This column form EXISTS FOR STREAMING: `dropDuplicatesWithinWatermark`
    can key on a plain column but never on an upstream stateful
    explode+groupBy, so near-dup streaming dedup requires it. The BATCH
    `simhash()` deliberately does NOT use it: higher-order functions
    evaluate interpreted (outside whole-stage codegen) and measure ~1.8x
    slower than the codegen'd explode+agg at sf0.1 even with the token hash
    hoisted (computed once per token below, not once per mask). Both forms
    are value-identical (every token occurrence votes once per bit) and
    pinned equal by test."""
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    toks = F.filter(F.split(normalized(text_col), " "), lambda x: x != F.lit(""))
    hashes = F.transform(toks, lambda t: _hash_hex_to_long(F.md5(t)))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def simhash(df: DataFrame, bits: int = SIMHASH_BITS, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash int): per-bit majority vote over token hashes.
    Explode+groupBy on purpose (codegen'd; measured 1.8x faster than the
    interpreted row-wise fold at sf0.1 -- see `simhash_col`, which exists
    for the streaming path and is pinned value-equal by test)."""
    toks = _widen(df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
                  key="doc_id").select(
        "doc_id",
        F.explode(F.split(normalized(F.col("text")), " ")).alias("tok"),
    ).where(F.length("tok") > 0)
    votes, sim = _simhash_agg_exprs(bits)
    agg = toks.groupBy("doc_id").agg(*votes)
    return agg.select("doc_id", sim.alias("simhash"))


@lru_cache(maxsize=128)
def _simhash_agg_exprs(bits: int):
    """The per-bit vote aggregates and the recombine Column (name-based,
    input-independent) -- compiled once per process (the
    ``_minhash_agg_exprs`` rationale)."""
    h = _hash_hex_to_long(F.md5(F.col("tok")))
    votes = tuple(
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{b}")
        for b in range(bits)
    )
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2 ** b)
        sim = bit if sim is None else (sim + bit)
    return votes, sim.cast("bigint")


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    by: str = "id",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions -- the data-ops companion
    to the CDC dedup family (what changed between crawl N and crawl N+1,
    between a pre- and post-curation corpus, or across a retention prune).

    * ``by='id'``: per-document verdict keyed on ``id_col``; content
      compared by fingerprint (md5 of the normalized text -- the exact
      key ``exact_dedup`` and the fingerprint state table use). Returns
      ``(id_col, old_fp, new_fp, status)`` with status in
      added / removed / changed / unchanged.
    * ``by='content'``: id-free set diff of content fingerprints (recrawls
      that renumber documents). Returns
      ``(fingerprint, n_old, n_new, status)`` with status in
      added / removed / common -- the counts expose growth/shrink of a
      duplicate group without a separate query.

    Scale shape: ONE shuffle -- both sides union with a side tag and
    aggregate on the key with map-side combine. A full-outer join would
    also shuffle both sides but adds null-key handling and a second
    operator for the duplicate-id case; the union-aggregate form is the
    same cost and AQE skew-splits a single aggregate cleanly. Within a
    side, duplicate keys collapse deterministically (max fingerprint /
    counts), documented rather than hidden.

    No reference analog (engine extension: the reference curates nothing).
    """
    if by not in ("id", "content"):
        raise ValueError(f"by must be 'id' or 'content', got {by!r}")
    fp = F.md5(normalized(F.col(text_col)))
    if by == "id":
        def tag(df: DataFrame, side: str) -> DataFrame:
            return df.select(
                F.col(id_col).alias("_key"), fp.alias("_fp"),
                F.lit(side).alias("_side"),
            )

        agg = (
            tag(old, "old").unionByName(tag(new, "new"))
            .groupBy("_key")
            .agg(
                F.max(F.when(F.col("_side") == "old", F.col("_fp"))).alias("old_fp"),
                F.max(F.when(F.col("_side") == "new", F.col("_fp"))).alias("new_fp"),
                # presence comes from ROW EXISTENCE, not fingerprint
                # nullability: a NULL-text row (extraction failure)
                # fingerprints to NULL but the document is still PRESENT
                # in its snapshot -- conflating the two would misreport it
                # as added/removed
                F.count(F.when(F.col("_side") == "old", 1)).alias("_n_old"),
                F.count(F.when(F.col("_side") == "new", 1)).alias("_n_new"),
            )
        )
        status = (
            F.when(F.col("_n_old") == 0, F.lit("added"))
            .when(F.col("_n_new") == 0, F.lit("removed"))
            # null-safe: NULL text on both sides is the same (absent)
            # content -> unchanged; NULL on one side only -> changed
            .when(F.col("old_fp").eqNullSafe(F.col("new_fp")), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
        )
        return agg.select(
            F.col("_key").alias(id_col), "old_fp", "new_fp",
            status.alias("status"),
        )
    def tag_fp(df: DataFrame, side: str) -> DataFrame:
        return df.select(fp.alias("fingerprint"), F.lit(side).alias("_side"))

    agg = (
        tag_fp(old, "old").unionByName(tag_fp(new, "new"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.when(F.col("_side") == "old", 1)).alias("n_old"),
            F.count(F.when(F.col("_side") == "new", 1)).alias("n_new"),
        )
    )
    status = (
        F.when(F.col("n_old") == 0, F.lit("added"))
        .when(F.col("n_new") == 0, F.lit("removed"))
        .otherwise(F.lit("common"))
    )
    return agg.select("fingerprint", "n_old", "n_new", status.alias("status"))


def corpus_diff_summary(
    old: DataFrame,
    new: DataFrame,
    by: str = "id",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Bounded driver-side rollup of ``corpus_diff``: {status: count}.
    The collect is at most 4 rows (the status domain), never the corpus."""
    rows = (
        corpus_diff(old, new, by=by, id_col=id_col, text_col=text_col)
        .groupBy("status").count().collect()
    )
    return {r["status"]: r["count"] for r in rows}


def incremental_dedup(
    new_df: DataFrame,
    seen_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "join",
    key: str = "content",
    url_col: str = "url",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup for an arriving shard against the corpus's
    persisted fingerprint table (the CDC shape of ``exact_dedup``: a 100 TB
    corpus is never rescanned -- only its fingerprint column is kept).

    ``key='url'`` keys the whole machinery on ``md5(normalize_url(url))``
    instead of the content hash -- the recrawl case: one capture per
    canonical URL across the corpus's lifetime (pair with ``url_dedup``
    inside the shard first if arrival order should not pick the survivor).
    Unparseable URLs key on a 'content:'-salted content hash so they
    dedup among themselves, never against each other's NULLs; rows
    where BOTH url and text are NULL get a rerun-stable per-row key
    ('row:'||id) so they can never merge either.

    Returns (survivors, new_fingerprints):
      survivors        = rows of ``new_df`` whose normalized-content hash is
                         absent from ``seen_fps`` AND first within the shard
                         (min id canonical, matching exact_dedup's tie rule);
      new_fingerprints = the distinct fingerprints those survivors add --
                         append them to the fingerprint table for the next
                         shard.

    Scale shape: the shard first collapses to ONE row per fingerprint via
    min(struct(id, row)) -- a single map-side-combined aggregate, so a text
    duplicated across the whole shard reaches its reducer as one partial
    per mapper (no join on a hot fingerprint anywhere). Two cross-corpus
    ``method``s, chosen by shard-to-corpus size ratio:

    * ``'join'`` (default): LeftAnti against the seen table. Spark cannot
      broadcast the LEFT side of a left-anti, so at parity this shuffles
      BOTH sides on fingerprint -- unless the seen table is persisted in
      the bucketed layout (``write_fingerprint_table``), which removes the
      corpus-side exchange for good. The general-purpose path.
    * ``'probe'`` (the CDC fast path, mirroring the near-dup probe's join
      direction): the corpus table streams MAP-ONLY through a semi-join
      against the broadcast shard fingerprints, producing the (shard-
      bounded) hit set, which broadcasts back into the anti-join -- zero
      corpus shuffle, zero corpus sort, no catalog dependence. Requires
      the shard's distinct-fingerprint set to fit a broadcast (the normal
      CDC premise); at 10^12-doc corpus age this reads ~32 TB of keys
      map-only instead of shuffling them."""
    if method not in ("join", "probe"):
        raise ValueError(f"method must be 'join' or 'probe', got {method!r}")
    # validate the key ITSELF before comparing it to the table's stamp --
    # an invalid key must fail as "invalid key", not as a confusing
    # stamp-mismatch against a perfectly fine table
    if key not in ("content", "url"):
        raise ValueError(f"key must be 'content' or 'url', got {key!r}")
    # key-space provenance guard at the LIBRARY level so every caller --
    # CLI, notebook, future job -- is protected, not just corpus_job
    check_stamps(seen_fps, {"fp_key": key})
    if key == "url":
        # recrawl CDC: the state table is every CANONICAL URL ever kept;
        # unparseable URLs fall back to the content fingerprint (they must
        # join against SOMETHING stable, and NULL keys would all collapse
        # into one row at the groupBy)
        from .urls import normalize_url_from, stripped_url

        fp = F.coalesce(
            F.md5(normalize_url_from(F.col("_u_s"))),
            F.md5(F.concat(F.lit("content:"), normalized(F.col(text_col)))),
            # url AND text both NULL: a per-row unique (but rerun-stable)
            # key -- a shared NULL fingerprint would merge unrelated rows
            # at the groupBy (the streaming urldedup path's same fallback)
            F.md5(F.concat(F.lit("row:"), F.col(id_col).cast("string"))),
        )
        # staged: the normalizer references its input many times over
        stamped = (
            new_df.withColumn("_u_s", stripped_url(F.col(url_col)))
            .withColumn("fingerprint", fp)
            .drop("_u_s")
        )
    else:
        stamped = new_df.withColumn(
            "fingerprint", F.md5(normalized(F.col(text_col)))
        )
    other_cols = [c for c in stamped.columns if c not in (id_col, "fingerprint")]
    collapsed = (
        stamped.groupBy("fingerprint")
        .agg(F.min(F.struct(id_col, *other_cols)).alias("_row"))
        .select("fingerprint", "_row.*")
    )
    if method == "probe":
        # shard fps computed once; reused by the probe and the anti-join
        collapsed = collapsed.localCheckpoint(eager=False)
        hits = seen_fps.select("fingerprint").join(
            F.broadcast(collapsed.select("fingerprint")),
            "fingerprint", "left_semi",
        )
        survivors = collapsed.join(
            F.broadcast(hits), "fingerprint", "left_anti"
        ).select(*new_df.columns, "fingerprint")
    else:
        survivors = collapsed.join(
            seen_fps.select("fingerprint"), "fingerprint", "left_anti"
        ).select(*new_df.columns, "fingerprint")
    return survivors, survivors.select("fingerprint")


# ---------------------------------------------------------------------------
# Fingerprint-table layout at corpus scale (round 6)
# ---------------------------------------------------------------------------
#
# The fingerprint table is the only dedup state that grows with corpus AGE
# (one 128-bit md5 per distinct document ever seen -- ~32 TB of keys at
# 10^12 docs). A plain parquet directory makes every shard's anti-join
# re-shuffle that entire table on ``fingerprint``; a Spark BUCKETED table
# (``bucketBy(n, 'fingerprint')`` + ``saveAsTable``) pre-materializes that
# exact hash partitioning in the catalog, so the sort-merge anti-join reads
# the corpus side WITHOUT an Exchange -- only the (shard-sized) left side
# shuffles, per run, forever. This is the Spark-native answer to "the state
# table must never be the thing that moves".


def write_fingerprint_table(
    fps: DataFrame, table: str, n_buckets: Optional[int] = None,
    mode: str = "append", key: Optional[str] = "content",
) -> None:
    """Create-or-append the persisted fingerprint table in the BUCKETED
    layout ``incremental_dedup`` exploits (see the section comment above).

    ``n_buckets`` fixes the join parallelism of every future anti-join
    against the table (Spark requires the probe side shuffled to exactly
    this count). Left None, an append reuses the count the catalog holds
    (Spark validates an append's spec) and a new table gets the session's
    ``spark.sql.shuffle.partitions``: measured, n_buckets BELOW the reader's
    shuffle partitions makes ``DisableUnnecessaryBucketedScan`` silently
    drop the bucketed scan and the corpus re-shuffles after all, while an
    equal count gives the clean one-exchange plan the test pins. The
    repartition keeps each append to one file per bucket.

    ``key`` stamps the table with the fingerprint KEY SPACE it was built
    under ('content' or 'url') as a constant ``fp_key`` column (RLE —
    bytes-free in parquet): content md5s and url md5s never match each
    other, so a key switch between shard runs would silently admit every
    previously-seen document AND pollute the state forever;
    ``check_stamps`` validates it on read. Pass ``key=None`` to write the
    legacy fingerprint-only schema (needed to append to pre-stamp tables —
    Spark validates append schemas)."""
    spark = fps.sparkSession
    if n_buckets is None and mode == "append" and spark.catalog.tableExists(table):
        n_buckets = next(
            int(r["data_type"])
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
            if r["col_name"] == "Num Buckets"
        )
    n_buckets = n_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col("fingerprint")]
    if key is not None:
        cols.append(F.lit(key).alias("fp_key"))
    (
        fps.select(*cols)
        .repartition(n_buckets, F.col("fingerprint"))
        .write.bucketBy(n_buckets, "fingerprint")
        .sortBy("fingerprint")
        .mode(mode)
        .format("parquet")
        .saveAsTable(table)
    )


def append_fingerprints(
    new_fps: DataFrame, table: str, n_buckets: Optional[int] = None,
    key: Optional[str] = "content",
) -> None:
    """Append a shard's new fingerprints to the bucketed table IN PLACE.

    Safe where an in-place parquet-path write is not: the rows are eagerly
    materialized into executor blocks FIRST (``localCheckpoint`` --
    bounded, the frame is shard-sized), severing the plan's read of the
    very table being appended to; the insert then scans only the
    checkpoint. ``n_buckets`` None appends with the table's own bucket
    count. ``key=None`` appends in the legacy fingerprint-only schema."""
    write_fingerprint_table(
        new_fps.select("fingerprint").localCheckpoint(), table,
        n_buckets=n_buckets, mode="append", key=key,
    )
