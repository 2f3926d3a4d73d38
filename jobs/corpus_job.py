#!/usr/bin/env python
"""Training-corpus curation job: the LLM-data-pipeline operators as one
spark-submit surface over a documents table (doc_id, text, ...).

Stage order mirrors a production curation run (each stage optional). Each
stage's ``modes:`` line names the run modes it supports (batch, --resumable,
--streaming); STAGE_TABLE below holds the reason for every mode it refuses:

  urlfilter drop documents whose registered domain is blocklisted
           (--url-col + --blocked-domains FILE; RefinedWeb-style, the
           cheapest exclusion signal -- runs before any text pass)
           modes: batch, resumable, streaming
  urldedup keep ONE document per canonical URL (normalize_url: fragment/
           tracking-param/port/www normalization; min-id survives;
           unparseable URLs pass through; streaming keeps the first seen)
           modes: batch, streaming
  clean    C4-style line filter (drop boilerplate lines + gated docs)
           modes: batch, resumable, streaming
  linededup corpus-wide exact duplicate-LINE removal (RefinedWeb/
           MassiveText): the first occurrence (min doc_id, line_idx)
           of any >=--line-min-chars line survives, later copies are
           removed from their documents, text reassembled in order;
           --linededup-unit paragraph switches the dedup key to the
           \n\n-delimited paragraph (Dolma-style)
           modes: batch
  spandedup corpus-wide exact duplicate-SPAN removal (Lee et al. 2021
           ExactSubstr): every duplicated run of >= --span-k whitespace
           tokens is removed except its corpus-first occurrence
           (min doc_id, position); modified docs are rejoined with
           single spaces, untouched docs pass through byte-exact.
           With --state the shard loses every span of the committed
           gram state plus its own internal duplicates, and the corpus
           is never rescanned
           modes: batch
  pii      redact emails / IPv4 / payment cards / SSNs / intl + dashed
           phones in place
           modes: batch, resumable, streaming
  gate     composed quality gate (length / punct / stopword / repetition)
           modes: batch, resumable, streaming
  classify model-based quality filter (fastText/DCLM-style): score every
           doc under a trained linear model (--clf-weights, written by
           jobs/train_clf_job.py) and keep docs scoring >= --clf-threshold
           modes: batch, resumable
  dedup    exact dedup (min-id canonical survives) or incremental vs the
           committed fingerprint state (--state, or --fps-table: a catalog
           table BUCKETED on the fingerprint so the corpus-sized state
           never re-shuffles and the appendix lands in place); streaming:
           watermarked first-seen dedup bounded by --dedup-horizon
           modes: batch, resumable, streaming
  neardup  MinHash-LSH near-duplicate removal: connected components over
           the candidate graph, keep the min-id canonical per cluster;
           --state: incremental against the committed band buckets;
           streaming: the read-only probe against that state
           modes: batch, streaming
  semdedup SemDeDup-style semantic dedup over an embedding column
           (--embeddings side table or --embedding-col on the input):
           KMeans coarse cells -> within-cell cosine pairs -> keep the
           min-id representative per semantic group; --semdedup-cap N
           adds the paper's cluster-balanced diversity cap (at most N
           survivors per cell)
           modes: batch
  decontam benchmark decontamination (--benchmark <parquet>): drop
           training docs whose distinct-bigram overlap with any benchmark
           doc covers >= --decontam-overlap of the training doc's
           shingles (the n-gram test-set-leak check a corpus runs
           before it ships)
           modes: batch
  cap      per-source document cap (--cap-per-source N; anti-dominance)
           modes: batch
  split    stable train/val/test assignment column
           modes: batch, resumable, streaming
  sample   deterministic per-source keep rates (--rate src=0.5, repeatable)
           modes: batch, resumable, streaming

Examples:
  spark-submit --py-files pkg.zip jobs/corpus_job.py \
      --input /data/documents --output /data/curated \
      --stages clean,pii,gate,dedup,split

  # incremental shard: deduped against every committed shard of
  # /data/state, whose dedup/ store gains this shard's appendix once the
  # output lands (rerunning the same --input/--output reproduces it)
  spark-submit --py-files pkg.zip jobs/corpus_job.py \
      --input /data/shard42 --output /data/curated_shard42 \
      --stages dedup --state /data/state

  # checkpoint-resumable run: per-bucket lineage under <output>/_lineage,
  # data under <output>/data partitioned by bucket; reruns skip
  # completed buckets (per-document stages + exact dedup only)
  spark-submit --py-files pkg.zip jobs/corpus_job.py \
      --input /data/documents --output /data/curated \
      --resumable --buckets 256 --stages clean,pii,gate,dedup,split
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable

_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _repo_root not in sys.path:
    sys.path.insert(0, _repo_root)

from action_pdf_accessibility_paddle_docker_spark.operators import (  # noqa: E402
    dedup as D,
    linefilter as L,
    pii as P,
    textstats as T,
    urls as U,
)

MODES = ("batch", "resumable", "streaming")


@dataclass(frozen=True)
class Stage:
    """One row of the stage table.

    ``build(run, df)`` returns the stage's output for ``run.mode``.
    ``refuse`` maps each mode the stage cannot run in to the reason.
    ``drops``: the stage can remove whole documents. In batch mode,
    ``checkpoint`` materializes the input EAGERLY before ``build`` (the
    stage references its input more than once; a LAZY localCheckpoint
    completes every upstream Observation with rows=0 before data flows --
    measured -- so it is never lazy here) after ``prepare`` ran, and
    ``observe`` counts the stage's output rows as ``after_<name>``.
    ``pins(args)`` are the row-set-shaping parameters a resumable run must
    resume under. ``state`` is the schema the stage's ``--state`` store
    reads as (None: the stage keeps no cross-run state)."""

    name: str
    build: Callable
    refuse: dict = field(default_factory=dict)
    drops: bool = False
    checkpoint: bool = False
    observe: bool = False
    prepare: Callable | None = None
    pins: Callable | None = None
    state: str | None = None


def _event_time(run):
    from pyspark.sql import functions as F

    a = run.args
    return (F.col(a.ts_col) if a.ts_col in run.input_columns
            else F.current_timestamp())


def _urlfilter(run, df):
    return U.filter_blocked_domains(
        df, _read_blocked_domains(run.args.blocked_domains),
        url_col=getattr(run.args, "url_col", "url"),
    )


def _urldedup(run, df):
    from pyspark.sql import functions as F

    a = run.args
    if run.mode != "streaming":
        return U.url_dedup(df, id_col=a.id_col, url_col=a.url_col,
                           policy=getattr(a, "url_keep", "min_id"),
                           text_col=a.text_col)
    # streaming analog: FIRST-seen survives (not min-id -- arrival order
    # is the only order a stream has); watermark-bounded state shared with
    # the dedup horizon. Unparseable URLs get a per-row unique key (NULL
    # would merge them all into one survivor).
    key = F.coalesce(
        F.md5(U.normalize_url_from(F.col("_u_s"))),
        F.concat(F.lit("row:"), F.col(a.id_col).cast("string")),
    )
    return (
        df.withColumn("_ts", _event_time(run))
        .withColumn("_u_s", U.stripped_url(F.col(a.url_col)))
        .withColumn("_ukey", key)
        .withWatermark("_ts", a.dedup_horizon)
        .dropDuplicatesWithinWatermark(["_ukey"])
        .drop("_ukey", "_ts", "_u_s")
    )


def _clean(run, df):
    return L.apply_line_filter(df, text_col=run.args.text_col,
                               min_kept_lines=run.args.min_kept_lines)


def _linededup(run, df):
    # the input is materialized by the table's checkpoint, so the
    # operator's own (lazy) input checkpoint is skipped
    a = run.args
    unit = getattr(a, "linededup_unit", "line")
    return D.remove_duplicate_lines(
        df, id_col=a.id_col, text_col=a.text_col,
        min_chars=a.line_min_chars, checkpoint_input=False,
        separator="\n\n" if unit == "paragraph" else "\n",
    )


def _spandedup(run, df):
    a = run.args
    if getattr(a, "state", None):
        return run.incremental("spandedup", lambda seen: D.incremental_span_dedup(
            df, seen, k=a.span_k, id_col=a.id_col, text_col=a.text_col,
            checkpoint_input=False,
        ))
    return D.remove_duplicate_spans(
        df, k=a.span_k, id_col=a.id_col, text_col=a.text_col,
        checkpoint_input=False,
    )


def _pii(run, df):
    return P.redact(df, text_col=run.args.text_col)


def _gate(run, df):
    return T.apply_quality_gate(df, text_col=run.args.text_col)


def _classify(run, df):
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        quality_clf as QC,
    )

    # per-document under FIXED weights, so bucket-local == global; the
    # score aggregate and the semi-join's probe side both reference the
    # input (materialized by the checkpoint in batch mode)
    weights, bias = run.classifier
    a = run.args
    return QC.apply_classifier(
        df, weights, bias=bias, threshold=a.clf_threshold,
        text_col=a.text_col, id_col=a.id_col,
        top_frac=getattr(a, "clf_top_frac", None),
    )


def _dedup(run, df):
    from pyspark.sql import functions as F

    a, spark = run.args, run.spark
    if run.mode == "streaming":
        # NULL-text docs must never merge (dropDuplicates treats NULL keys
        # as EQUAL): per-row fallback, the urldedup guard
        fp = F.coalesce(
            F.md5(D.normalized(F.col(a.text_col))),
            F.concat(F.lit("row:"), F.col(a.id_col).cast("string")),
        )
        return (
            df.withColumn("_ts", _event_time(run))
            .withColumn("fingerprint", fp)
            .withWatermark("_ts", a.dedup_horizon)
            .dropDuplicatesWithinWatermark(["fingerprint"])
            .drop("fingerprint", "_ts")
        )
    fps_key = getattr(a, "fps_key", "content")

    def step(seen):
        survivors, _ = D.incremental_dedup(
            df, seen, id_col=a.id_col, text_col=a.text_col,
            method=getattr(a, "fps_method", "join"), key=fps_key,
            url_col=getattr(a, "url_col", "url"),
        )
        # one materialization serves the appendix AND the output write
        # (without it the whole upstream stage chain executes twice)
        survivors = survivors.localCheckpoint(eager=True)
        return (survivors.drop("fingerprint"),
                survivors.select("fingerprint", F.lit(fps_key).alias("fp_key")))

    if getattr(a, "state", None):
        return run.incremental("dedup", step)
    if not getattr(a, "fps_table", None):
        canon = D.exact_dedup(df, id_col=a.id_col, text_col=a.text_col)
        return df.join(
            canon.select(F.col("canonical_id").alias(a.id_col)), a.id_col
        )
    # bucketed-table incremental mode: the corpus-sized state side of the
    # anti-join is read pre-partitioned (no shuffle), and the appendix goes
    # back into the SAME table once the output lands
    seen = (spark.table(a.fps_table) if spark.catalog.tableExists(a.fps_table)
            else spark.createDataFrame([], STAGE_TABLE["dedup"].state))
    out, appendix = step(seen)
    # a legacy fingerprint-only table takes a legacy appendix (Spark
    # validates append schemas)
    key = fps_key if "fp_key" in seen.columns else None
    run.post_commit.append(
        lambda: D.append_fingerprints(appendix, a.fps_table, key=key))
    return out


def _neardup(run, df):
    from pyspark.sql import functions as F

    a = run.args
    if run.mode == "streaming":
        # stateless corpus probe: drop arriving docs near ANYTHING the
        # batch corpus has seen; within-stream near-dups are the simhash
        # watermark path's job
        from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
            streaming_near_dedup_against_corpus,
        )

        return streaming_near_dedup_against_corpus(
            df, run.store("neardup").read(), text_col=a.text_col,
        )
    if getattr(a, "state", None):
        # band-partitioned versions: the streaming probe's per-band joins
        # each scan only their band
        return run.incremental("neardup", lambda seen: D.incremental_near_dedup(
            df, seen, id_col=a.id_col, text_col=a.text_col,
        ), partition_by=("band",))
    # keep the min-id canonical of each LSH connected component; the
    # cluster table is (doc_id, cluster_id) for EVERY doc, so the survivor
    # filter is a doc_id equi-join, never a text re-hash
    clusters = D.dedup_clusters(
        df, id_col=a.id_col, text_col=a.text_col,
        threshold=getattr(a, "lsh_threshold", None),
    )
    return df.join(
        clusters.where(F.col("doc_id") == F.col("cluster_id"))
        .select(F.col("doc_id").alias(a.id_col)),
        a.id_col,
    )


def _semdedup(run, df):
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators import (
        similarity as S,
    )

    a = run.args
    embeddings = getattr(a, "embeddings", None)
    if embeddings:
        embt = run.spark.read.parquet(embeddings)
        eid = getattr(a, "embedding_id_col", None)
        if eid and eid != a.id_col:
            embt = embt.withColumnRenamed(eid, a.id_col)
        if a.id_col not in embt.columns:
            raise SystemExit(
                f"semdedup: --embeddings table has no {a.id_col!r} "
                f"column (columns: {embt.columns}) -- pass "
                "--embedding-id-col to name its id column"
            )
    else:
        embt = df
    emb_col = getattr(a, "embedding_col", "embedding")
    if emb_col not in embt.columns:
        raise SystemExit(
            f"semdedup: column {emb_col!r} not found "
            f"{'in --embeddings' if embeddings else 'on the input'}"
            " -- pass --embedding-col or --embeddings"
        )
    if embeddings:
        # only ids still alive in the pipeline: a semantic rep must never
        # be a doc an earlier stage already removed
        embt = embt.join(df.select(a.id_col), a.id_col, "left_semi")
    sem = S.semantic_dedup(
        embt,
        threshold=getattr(a, "semdedup_threshold", 0.9),
        n_clusters=getattr(a, "semdedup_clusters", 16),
        id_col=a.id_col, vec_col=emb_col,
    )
    keep = sem.where(F.col("rep_id") == F.col(a.id_col))
    cap_n = int(getattr(a, "semdedup_cap", 0) or 0)
    if cap_n > 0:
        # method='exact': the CLI promises AT MOST cap survivors per
        # coarse cell (and a non-empty cell keeps something). The rate
        # form is only ~cap in expectation and can zero out a small cell.
        # Cells are bounded (~n/k by construction), so the per-key window
        # is safe here -- matching the reference composition in
        # test_similarity.
        keep = T.cap_per_stratum(keep, cap=cap_n, stratum_col="cid",
                                 id_col=a.id_col, method="exact")
    return df.join(keep.select(a.id_col), a.id_col)


def _decontam(run, df):
    from pyspark.sql import functions as F

    a = run.args
    flagged = D.decontaminate(
        df, _load_benchmark(run.spark, a),
        min_overlap_frac=getattr(a, "decontam_overlap", 0.3),
        id_col=a.id_col, text_col=a.text_col,
    )
    # the flagged set is small (leaked docs), so the anti-join broadcasts
    # it and the corpus streams map-only
    return df.join(
        F.broadcast(
            flagged.select(F.col("train_id").alias(a.id_col)).distinct()
        ),
        a.id_col, "left_anti",
    )


def _cap_domain(run, df):
    # derive the registered domain row-wise BEFORE the checkpoint (staged
    # projections -- the inlined PSL CASE would blow up the plan); NULL
    # (unparseable) is one stratum -- cap_per_stratum's sentinel handles it
    if getattr(run.args, "cap_by_domain", False):
        return U.with_url_columns(df, run.args.url_col, url_domain="_cap_domain")
    return df


def _cap(run, df):
    # the count aggregate and keep filter share the checkpointed input;
    # cap_per_stratum's own LAZY checkpoint is skipped
    by_domain = getattr(run.args, "cap_by_domain", False)
    out = T.cap_per_stratum(
        df, cap=run.args.cap_per_source,
        stratum_col="_cap_domain" if by_domain else run.args.stratum_col,
        id_col=run.args.id_col, checkpoint=False,
    )
    return out.drop("_cap_domain") if by_domain else out


def _split(run, df):
    return T.stable_split(df, id_col=run.args.id_col)


def _sample(run, df):
    a = run.args
    if getattr(a, "mix_temperature", None) is not None:
        # materialize the pipeline-so-far once: the rate derivation is an
        # eager aggregate over it, and the sample filter reads it again
        df = df.localCheckpoint(eager=True)
        rates = T.temperature_mix_rates(
            df, stratum_col=a.stratum_col, temperature=a.mix_temperature,
            keep_fraction=getattr(a, "mix_keep_frac", 1.0),
        )
    else:
        rates = {k: float(v) for k, _, v in (r.partition("=") for r in a.rate)}
    return T.stratified_sample(
        df, rates=rates, stratum_col=a.stratum_col, id_col=a.id_col,
        default_rate=a.default_rate,
    )


# Stages a resumable run may compose are those whose bucket-local result
# equals the global result: per-document projections and filters, classify
# under FIXED weights, and EXACT dedup, which is bucket-local-safe because
# the resumable path keys the bucket on the dedup fingerprint itself (every
# duplicate group lands whole in one bucket).
_CROSS_BUCKET = "it aggregates across buckets"
STAGE_TABLE = {st.name: st for st in (
    Stage("urlfilter", _urlfilter, drops=True, observe=True,
          pins=lambda a: {"url_col": a.url_col,
                          "blocked_domains": getattr(a, "blocked_domains", None)}),
    Stage("urldedup", _urldedup, drops=True, observe=True, refuse={
        "resumable": f"{_CROSS_BUCKET}: copies of one URL hash to different "
                     "buckets"}),
    Stage("clean", _clean, drops=True, observe=True,
          pins=lambda a: {"min_kept_lines": int(a.min_kept_lines)}),
    Stage("linededup", _linededup, checkpoint=True, observe=True, refuse={
        "resumable": f"{_CROSS_BUCKET}: a line's corpus-first occurrence is "
                     "a corpus-wide aggregate",
        "streaming": "the corpus-first occurrence of a line is a corpus-wide "
                     "aggregate with unbounded streaming state"}),
    Stage("spandedup", _spandedup, checkpoint=True, observe=True,
          state="gh string, span_k int", refuse={
        "resumable": f"{_CROSS_BUCKET}: a span's corpus-first occurrence is "
                     "a corpus-wide aggregate",
        "streaming": "the corpus-first occurrence of a token span is a "
                     "corpus-wide aggregate with unbounded streaming state"}),
    Stage("pii", _pii),
    Stage("gate", _gate, drops=True, observe=True),
    Stage("classify", _classify, drops=True, checkpoint=True, observe=True,
          pins=lambda a: {"clf_weights": a.clf_weights,
                          "clf_threshold": float(getattr(a, "clf_threshold", 0.5))},
          refuse={
        "streaming": "the score is a per-doc aggregate over exploded terms "
                     "followed by a semi-join, neither of which streams in "
                     "append mode; gate streams, classify in the batch pass "
                     "over the stream's output"}),
    Stage("dedup", _dedup, drops=True, state="fingerprint string, fp_key string"),
    Stage("neardup", _neardup, drops=True, checkpoint=True, observe=True,
          state="band int, bucket string, hash_family string, banding string",
          refuse={
        "resumable": f"{_CROSS_BUCKET}: near-duplicate clusters span "
                     "buckets"}),
    Stage("semdedup", _semdedup, drops=True, checkpoint=True, observe=True,
          refuse={
        "resumable": f"{_CROSS_BUCKET}: KMeans cells and semantic groups "
                     "span buckets",
        "streaming": "the KMeans fit and the iterative component labeling "
                     "both need the full corpus"}),
    Stage("decontam", _decontam, drops=True, observe=True, refuse={
        "resumable": "the shingle-overlap join against the benchmark is a "
                     "one-shot pass over the curated output",
        "streaming": "the per-(train,bench) overlap is a shingle-explode "
                     "aggregation with no bounded streaming-state form"}),
    Stage("cap", _cap, drops=True, checkpoint=True, observe=True,
          prepare=_cap_domain, refuse={
        "resumable": f"{_CROSS_BUCKET}: the per-source count spans buckets",
        "streaming": "it needs a corpus-wide per-stratum count, which has no "
                     "bounded streaming-state form"}),
    Stage("split", _split),
    Stage("sample", _sample, drops=True,
          pins=lambda a: {"rates": sorted(getattr(a, "rate", []) or []),
                          "default_rate": float(getattr(a, "default_rate", 1.0)),
                          "stratum_col": a.stratum_col}),
)}
STAGES = tuple(STAGE_TABLE)
RESUMABLE_STAGES = tuple(
    s for s in STAGES if "resumable" not in STAGE_TABLE[s].refuse
)
# resumable runs apply these before the bucket key: the dedup fingerprint
# is taken over the text clean/pii rewrite; the remaining stages run per
# batch on the bucket-filtered rows
_PRE_BUCKET = ("urlfilter", "clean", "pii")


def check_args(args, stages, mode: str) -> None:
    """Every stage/flag composition rule of the job, owned here for the CLI
    and library callers alike: raises SystemExit (ValueError for
    clf_top_frac under --resumable) naming the first violation. ``mode`` is
    one of MODES."""
    def g(name, default=None):
        return getattr(args, name, default)

    batch, resumable, streaming = (mode == m for m in MODES)
    unknown = sorted(set(stages) - set(STAGES))
    if unknown:
        raise SystemExit(f"unknown stages: {unknown}")
    refused = [s for s in STAGES if s in stages and mode in STAGE_TABLE[s].refuse]
    if refused:
        raise SystemExit(
            f"stages not {'resumable' if resumable else 'streamable'}: "
            + "; ".join(f"{s} ({STAGE_TABLE[s].refuse[mode]})" for s in refused)
            + f" -- {mode} runs support "
            + ",".join(s for s in STAGES if mode not in STAGE_TABLE[s].refuse)
            + "; run the others as a one-shot batch pass over this output"
        )
    if "urlfilter" in stages and not g("blocked_domains"):
        raise SystemExit("urlfilter requires --blocked-domains")
    if g("shuffle_output") is not None and (
            g("partition_output_by") or g("output_files")):
        raise SystemExit("--shuffle-output orders the whole output; it is "
                         "exclusive with --partition-output-by/--output-files")
    if g("fps_key", "content") != "content" and not (
            g("state") or g("fps_table")):
        raise SystemExit("--fps-key composes with incremental dedup only "
                         "(--state or --fps-table); for within-shard URL "
                         "dedup use the urldedup stage")
    if g("fps_table") and g("state"):
        raise SystemExit("--fps-table and --state are exclusive: the table "
                         "IS dedup's persisted state, appended in place")
    if g("state") and not any(STAGE_TABLE[s].state for s in stages):
        raise SystemExit("--state holds the state of the "
                         + ", ".join(s for s in STAGES if STAGE_TABLE[s].state)
                         + " stages; none of them is in --stages")
    if "spandedup" in stages and g("span_k", 50) < 2:
        raise SystemExit("--span-k must be >= 2")
    if "semdedup" in stages and g("semdedup_clusters", 16) < 2:
        # MLlib KMeans refuses k < 2 from inside the JVM
        raise SystemExit("--semdedup-clusters must be >= 2")
    # incremental_span_dedup's precondition: every doc-dropping stage must
    # run BEFORE the appendix is derived, or it marks grams of documents
    # that never ship and a later shard's sole copy of a shared span is
    # silently excised (permanent content loss)
    droppers = [s for s in STAGES[STAGES.index("spandedup") + 1:]
                if s in stages and STAGE_TABLE[s].drops]
    if g("state") and "spandedup" in stages and droppers:
        raise SystemExit("incremental spandedup (--state) cannot be combined "
                         "with doc-dropping stages that run after it "
                         f"({', '.join(droppers)}): run them in a prior pass, "
                         "then the incremental spandedup pass on its output")
    if "decontam" in stages and not g("benchmark"):
        raise SystemExit("the decontam stage requires --benchmark")
    if "classify" in stages and not g("clf_weights"):
        raise SystemExit("the classify stage requires --clf-weights (train "
                         "one with jobs/train_clf_job.py)")
    if g("clf_top_frac") is not None:
        if "classify" not in stages:
            raise SystemExit("--clf-top-frac only applies to the classify stage")
        if not 0.0 < g("clf_top_frac") <= 1.0:
            raise SystemExit("--clf-top-frac must be in (0, 1]")
        if resumable:
            raise ValueError("clf_top_frac (--clf-top-frac) conflicts with "
                             "--resumable: a bucket-local score quantile is "
                             "not the corpus quantile -- run it one-shot (the "
                             "fixed --clf-threshold form stays bucket-local)")
    if g("lsh_threshold") is not None:
        if "neardup" not in stages:
            raise SystemExit("--lsh-threshold only applies to the neardup stage")
        if not 0.0 < g("lsh_threshold") < 1.0:
            raise SystemExit("--lsh-threshold must be in (0, 1)")
        if g("state") or streaming:
            raise SystemExit("--lsh-threshold is for the within-corpus batch "
                             "form only: the neardup state is written and "
                             "probed under the 16x4 banding only")
    if g("mix_temperature") is not None:
        if g("rate"):
            raise SystemExit("--mix-temperature and --rate are exclusive")
        if g("mix_temperature") <= 0:
            raise SystemExit("--mix-temperature must be > 0")
        if not batch:
            raise SystemExit("--mix-temperature is batch-only: deriving the "
                             "rates needs a corpus-wide per-source aggregate; "
                             "pass explicit --rate flags")
    if g("mix_keep_frac", 1.0) != 1.0 and g("mix_temperature") is None:
        raise SystemExit("--mix-keep-frac only applies with --mix-temperature")
    # > 1 is allowed: rates clamp to 1, and over-asking is the recovery when
    # a tiny source cannot supply its flattened share
    if g("mix_keep_frac", 1.0) <= 0.0:
        raise SystemExit("--mix-keep-frac must be > 0")
    if batch:
        return
    for flag, on in (("--fps-table", g("fps_table")),
                     ("--state", resumable and g("state")),
                     ("--report", g("report")),
                     ("--shuffle-output", g("shuffle_output") is not None),
                     ("--partition-output-by", g("partition_output_by")),
                     ("--output-files", g("output_files"))):
        if on:
            raise SystemExit(f"{flag} is batch-only (corpus-wide state, "
                             "aggregate or layout); run it as a batch pass "
                             "over this run's output")
    if resumable:
        if g("buckets", 64) < 1:
            raise SystemExit("--buckets must be >= 1")
        return
    if "urldedup" in stages and g("url_keep", "min_id") != "min_id":
        raise SystemExit("--url-keep longest is batch-only: streaming urldedup "
                         "is first-seen (dropDuplicatesWithinWatermark cannot "
                         "compare captures it has already emitted)")
    if "urldedup" in stages and "dedup" in stages:
        raise SystemExit("streaming urldedup and dedup cannot compose in one "
                         "query: each needs its own watermark on the event "
                         "column and Spark disallows redefining a watermark; "
                         "run one of them in a second hop (or batch)")
    if ("neardup" in stages) != bool(g("state")):
        raise SystemExit("streaming neardup requires --state, and only it "
                         "reads --state in a stream: what streams is the "
                         "read-only probe against the committed neardup "
                         "state (within-stream components are batch-only)")
    if not g("checkpoint"):
        raise SystemExit("--streaming requires --checkpoint")


def main() -> None:
    ap = argparse.ArgumentParser(description="Training-corpus curation job")
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="curated output path")
    ap.add_argument("--stages", default="clean,pii,gate,dedup,split",
                    help=f"comma list from {','.join(STAGES)}, applied in the "
                         "canonical order regardless of listing order")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--url-col", default="url",
                    help="urlfilter/urldedup: column holding the document's "
                         "source URL")
    ap.add_argument("--url-keep", default="min_id",
                    choices=("min_id", "longest"),
                    help="urldedup keep policy: min_id (exact_dedup's "
                         "canonical rule) or longest (recrawls: the "
                         "fullest capture of a URL supersedes; ties by "
                         "min id)")
    ap.add_argument("--blocked-domains", default=None, metavar="FILE",
                    help="urlfilter: newline-separated registered domains to "
                         "drop (read driver-side; bounded -- compiled to one "
                         "isin literal, zero joins)")
    ap.add_argument("--min-kept-lines", type=int, default=3)
    ap.add_argument("--line-min-chars", type=int, default=30,
                    help="linededup: only lines this long (trimmed) are "
                         "dedup keys; shorter lines always survive")
    ap.add_argument("--linededup-unit", default="line",
                    choices=("line", "paragraph"),
                    help="linededup granularity: 'line' splits on \\n "
                         "(RefinedWeb/MassiveText), 'paragraph' on \\n\\n "
                         "(Dolma-style paragraph dedup -- single newlines "
                         "inside a paragraph stay intact)")
    ap.add_argument("--span-k", type=int, default=50,
                    help="spandedup: minimum duplicated run length in "
                         "whitespace tokens (Lee et al. 2021 use 50); "
                         "shorter repeats always survive")
    ap.add_argument("--state", default=None, metavar="DIR",
                    help="incremental (CDC) dedup, neardup and spandedup: "
                         "DIR/<stage> holds one version per run (--input, "
                         "--output), committed after its output lands; a "
                         "shard is deduped against every committed version "
                         "(empty DIR: the first shard), and rerunning the "
                         "same --input/--output reproduces its output. "
                         "Streaming neardup probes it read-only")
    ap.add_argument("--cap-by-domain", action="store_true",
                    help="cap: stratify by the registered domain derived "
                         "from --url-col (the RefinedWeb per-domain "
                         "anti-dominance cap) instead of --stratum-col")
    ap.add_argument("--shuffle-output", default=None, metavar="SALT",
                    help="write the curated output in a deterministic "
                         "global shuffle order (rows ordered by "
                         "md5('shuffle:'||salt||':'||id) -- the "
                         "reproducible training-order permutation; a new "
                         "salt is a new epoch order). Exclusive with "
                         "--partition-output-by/--output-files")
    ap.add_argument("--clf-weights", default=None,
                    help="classify: trained model artifact (parquet written "
                         "by jobs/train_clf_job.py / save_classifier); "
                         "required with the classify stage")
    ap.add_argument("--clf-threshold", type=float, default=0.5,
                    help="classify: keep docs with sigmoid score >= this")
    ap.add_argument("--clf-top-frac", type=float, default=None,
                    help="classify: instead of the fixed threshold, keep "
                         "the TOP fraction of docs by classifier score "
                         "(the DCLM selection rule; calibration-free). "
                         "Batch-only: the cutpoint is a GLOBAL quantile")
    ap.add_argument("--fps-table", default=None, metavar="NAME",
                    help="dedup: catalog name of a fingerprint table "
                         "BUCKETED on fingerprint (created on first use with "
                         "the session's shuffle partition count). "
                         "Incremental like --state, but the corpus-sized "
                         "state side of the anti-join is read "
                         "pre-partitioned and the shard's fingerprints are "
                         "appended in place. Enables Hive catalog support "
                         "(locally a derby metastore in the driver's cwd -- "
                         "run shards from one directory). Exclusive with "
                         "--state")
    ap.add_argument("--fps-method", default="join", choices=("join", "probe"),
                    help="incremental dedup cross-corpus strategy: 'join' "
                         "(LeftAnti; pair with --fps-table so the corpus "
                         "side never re-shuffles) or 'probe' (broadcast the "
                         "shard's fingerprints, stream the corpus map-only, "
                         "anti-join the broadcast hit set back -- zero "
                         "corpus shuffle/sort; requires the shard's "
                         "distinct fingerprints to fit a broadcast)")
    ap.add_argument("--fps-key", default="content",
                    choices=("content", "url"),
                    help="incremental dedup key: 'content' (normalized-"
                         "text md5) or 'url' (canonical-URL md5 from "
                         "--url-col; the recrawl case -- one capture per "
                         "URL across the corpus's lifetime; unparseable "
                         "URLs fall back to a salted content hash)")
    ap.add_argument("--rate", action="append", default=[], metavar="SOURCE=RATE",
                    help="sample: per-source keep rate, e.g. --rate web=0.1")
    ap.add_argument("--mix-temperature", type=float, default=None, metavar="T",
                    help="sample: derive per-source rates from "
                         "temperature-flattened source shares (mT5-style "
                         "p^(1/T) mixing; T=1 natural, larger T -> more "
                         "uniform across sources) instead of explicit "
                         "--rate flags; batch-only (needs a corpus-wide "
                         "per-source aggregate)")
    ap.add_argument("--mix-keep-frac", type=float, default=1.0,
                    help="sample: overall keep fraction the temperature "
                         "mix targets (default 1.0)")
    ap.add_argument("--default-rate", type=float, default=1.0)
    ap.add_argument("--stratum-col", default="source")
    ap.add_argument("--cap-per-source", type=int, default=10000,
                    help="cap: max documents kept per --stratum-col value "
                         "(rate method -- approximate, windowless, skew-proof)")
    ap.add_argument("--partition-output-by", default=None, metavar="COL",
                    help="write the curated output partitioned by this "
                         "column (e.g. source): downstream per-domain reads "
                         "become partition-pruned scans instead of full "
                         "corpus reads")
    ap.add_argument("--output-files", type=int, default=0,
                    help="repartition to N output files per partition-dir "
                         "before the write (0 = leave the plan's "
                         "partitioning). At warehouse scale this is the "
                         "small-files control: a 32-task shuffle writing "
                         "per-source dirs otherwise emits up to 32 tiny "
                         "files per source")
    ap.add_argument("--embeddings", default=None,
                    help="semdedup: parquet side table of (<id-col>, "
                         "<embedding-col>) rows; omitted = the input "
                         "table itself carries the embedding column. "
                         "Rows of the corpus without an embedding row "
                         "are DROPPED by the stage (no embedding -> no "
                         "semantic identity)")
    ap.add_argument("--embedding-col", default="embedding",
                    help="semdedup: array<float/double> column name")
    ap.add_argument("--embedding-id-col", default=None,
                    help="semdedup: id column name IN the --embeddings "
                         "side table when it differs from --id-col (e.g. "
                         "vec_id); renamed on read so the join lines up")
    ap.add_argument("--semdedup-threshold", type=float, default=0.9,
                    help="semdedup: within-cell cosine at or above which "
                         "two docs are one semantic group")
    ap.add_argument("--semdedup-clusters", type=int, default=16,
                    help="semdedup: KMeans coarse-cell count; grow with "
                         "corpus size to keep cells bounded (the pair "
                         "join is quadratic IN THE CELL)")
    ap.add_argument("--semdedup-cap", type=int, default=0,
                    help="semdedup: keep at most N survivors per coarse "
                         "cell (cluster-balanced diversity sampling, the "
                         "other half of the SemDeDup recipe; 0 = off)")
    ap.add_argument("--benchmark", default=None,
                    help="decontam: parquet table of benchmark/eval docs "
                         "(small -- eval suites are KB-MB and are "
                         "broadcast); required with the decontam stage")
    ap.add_argument("--benchmark-id-col", default=None,
                    help="decontam: id column name IN --benchmark when it "
                         "differs from --id-col; renamed on read")
    ap.add_argument("--benchmark-text-col", default=None,
                    help="decontam: text column name IN --benchmark when "
                         "it differs from --text-col; renamed on read")
    ap.add_argument("--decontam-overlap", type=float, default=0.3,
                    help="decontam: drop a training doc when its "
                         "distinct-bigram overlap with any one benchmark "
                         "doc covers at least this fraction of the "
                         "TRAINING doc's shingle set")
    ap.add_argument("--lsh-threshold", type=float, default=None,
                    help="neardup (within-corpus batch form only): target "
                         "Jaccard similarity; the LSH banding is derived "
                         "via lsh_tuning instead of the 16x4 default. "
                         "Incompatible with --state/--streaming: the "
                         "committed neardup state is written and probed "
                         "under the 16x4 banding only")
    ap.add_argument("--report", default=None, metavar="PATH",
                    help="after the write, run the one-pass corpus audit "
                         "(corpus_report: totals, language mix, gate keep "
                         "fraction + reject histogram, per-class PII doc "
                         "counts, dup estimate) over the CURATED output and "
                         "write the one-row report as JSON to PATH; also "
                         "embedded in the job's JSON line under 'report'. "
                         "With --benchmark, adds a 'contamination' block "
                         "(doc-level shingle-overlap measurement vs the "
                         "suite, GPT-3 appendix-C style) even when the "
                         "decontam drop stage didn't run. Batch-only "
                         "(corpus-wide aggregate)")
    ap.add_argument("--report-domains", type=int, default=0, metavar="N",
                    help="report: also embed the top-N registered domains "
                         "by doc count (needs --url-col present in the "
                         "output; domain-cardinality-sized aggregate, "
                         "top-N sort is tiny)")
    ap.add_argument("--report-exact-dup", action="store_true",
                    help="report: count distinct fingerprints EXACTLY (one "
                         "extra pass) instead of the one-pass HLL estimate "
                         "-- use at validation scale, where the ~2%% HLL "
                         "error would dwarf a near-zero true dup count")
    ap.add_argument("--resumable", action="store_true",
                    help="checkpoint-resumable batch run: shard the corpus "
                         "into --buckets hash buckets, write "
                         "<output>/data partitioned by bucket, and commit "
                         "an atomic per-bucket lineage record after each "
                         "bucket's data lands; a re-run skips completed "
                         "buckets. Only per-document stages plus exact "
                         "dedup are allowed (see the stage guard)")
    ap.add_argument("--buckets", type=int, default=64,
                    help="resumable: bucket count (the resume granularity "
                         "knob; recomputation after a crash is bounded by "
                         "one batch)")
    ap.add_argument("--bucket-batch", type=int, default=None,
                    help="resumable: write N buckets per pass instead of "
                         "all pending in one pass; each batch costs one "
                         "additional input scan but bounds crash "
                         "recomputation to a batch")
    ap.add_argument("--streaming", action="store_true",
                    help="run as a Structured Streaming job (availableNow) over "
                         "arriving document files; clean/pii/gate/split/sample are "
                         "stateless and stream as-is, dedup becomes the "
                         "watermarked streaming exact dedup (cross-batch state "
                         "bounded by --dedup-horizon), neardup becomes the "
                         "read-only corpus probe against --state "
                         "(stream-static anti-joins, no appendix); --fps-table "
                         "is batch-only")
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    ap.add_argument("--ts-col", default="ts",
                    help="streaming dedup event-time column (must exist on the "
                         "input when --streaming + dedup)")
    ap.add_argument("--dedup-horizon", default="30 minutes")
    args = ap.parse_args()

    stages = [s.strip() for s in args.stages.split(",") if s.strip()]
    if args.resumable and args.streaming:
        ap.error("--resumable and --streaming are exclusive (the streaming "
                 "checkpoint already gives exactly-once over arriving files)")
    mode = ("streaming" if args.streaming
            else "resumable" if args.resumable else "batch")
    try:
        check_args(args, stages, mode)
    except (SystemExit, ValueError) as e:
        ap.error(str(e))

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("corpus-curation")
    if args.fps_table:
        # the bucketed state table must outlive this job: back the catalog
        # with a persistent metastore (locally a derby dir in the driver's
        # cwd; on a cluster the shared Hive/Glue/REST metastore). The
        # default in-memory catalog would forget the table's bucketing
        # metadata at session exit and the next shard's CREATE would
        # collide with the surviving files
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    run = {"batch": run_pipeline, "resumable": run_pipeline_resumable,
           "streaming": run_pipeline_streaming}[mode]
    print(json.dumps(run(spark, args, stages)))
    spark.stop()


def _read_blocked_domains(path: str) -> list[str]:
    """Driver-side read of the blocklist file (one domain per line, ``#``
    comments allowed) -- bounded config cardinality, same class as the
    --rate dict."""
    with open(path) as f:
        return [
            ln.strip().lower()
            for ln in f
            if ln.strip() and not ln.lstrip().startswith("#")
        ]


def _load_benchmark(spark, args):
    """Read the --benchmark table and align its id/text column names with
    the corpus's (--benchmark-id-col / --benchmark-text-col); loud error
    when the expected columns are missing."""
    bench = spark.read.parquet(args.benchmark)
    for have, want in (
        (getattr(args, "benchmark_id_col", None), args.id_col),
        (getattr(args, "benchmark_text_col", None), args.text_col),
    ):
        if have and have != want:
            bench = bench.withColumnRenamed(have, want)
    for col, flag in ((args.id_col, "--benchmark-id-col"),
                      (args.text_col, "--benchmark-text-col")):
        if col not in bench.columns:
            raise SystemExit(
                f"--benchmark table has no {col!r} column "
                f"(columns: {bench.columns}) -- pass {flag}"
            )
    return bench


class _Run:
    """One pipeline invocation: what the stage builders read (session,
    arguments, mode) plus the batch mode's per-stage Observations and the
    state mutations deferred until the curated output commits."""

    def __init__(self, spark, args, stages, mode: str):
        check_args(args, stages, mode)
        self.spark, self.args, self.mode = spark, args, mode
        self.stages = [STAGE_TABLE[s] for s in STAGES if s in stages]
        self.input_columns: list[str] = []
        self.observations: list = []
        # the --state and --fps-table appendices: recording the shard
        # before the output write would, on a crash in between, mark every
        # doc of the shard as seen -- a rerun would emit ZERO rows
        self.post_commit: list = []

    @cached_property
    def classifier(self):
        from action_pdf_accessibility_paddle_docker_spark.operators import (
            quality_clf as QC,
        )

        return QC.load_classifier(self.spark, self.args.clf_weights)

    def store(self, name):
        """Stage ``name``'s store under ``--state``: this run's version in
        batch mode, read-only over every committed version in streaming."""
        from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
            StateStore,
        )

        a = self.args
        return StateStore(
            self.spark, f"{a.state.rstrip('/')}/{name}", STAGE_TABLE[name].state,
            None if self.mode == "streaming" else (a.input, a.output),
        )

    def incremental(self, name, step, partition_by=()):
        """Run ``step(seen) -> (output, appendix)`` against the stage's
        committed state; the appendix commits after the output lands."""
        store = self.store(name)
        out, appendix = step(store.read())
        self.post_commit.append(lambda: store.commit(appendix, partition_by))
        return out

    def apply(self, df, names=None):
        """Run the selected stages (all, or those in ``names``) over ``df``
        in the canonical order."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        batch = self.mode == "batch"
        for st in self.stages:
            if names is not None and st.name not in names:
                continue
            if st.prepare is not None:
                df = st.prepare(self, df)
            if batch and st.checkpoint:
                df = df.localCheckpoint(eager=True)
            df = st.build(self, df)
            if batch and st.observe:
                # counters ride the write pass (a count() per stage would
                # re-execute the chain once per stage)
                obs = Observation(f"after_{st.name}")
                df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                self.observations.append((st.name, obs, df))
        return df


def run_pipeline(spark, args, stages) -> dict:
    """The curation pipeline body; separated from main() so tests can
    drive it on a shared session without the job owning its lifecycle."""
    from pyspark.sql import functions as F

    run = _Run(spark, args, stages, "batch")
    df = spark.read.parquet(args.input)
    counters: dict[str, int] = {"input": df.count()}
    df = run.apply(df)

    writer = df
    part_col = getattr(args, "partition_output_by", None)
    n_files = int(getattr(args, "output_files", 0) or 0)
    if n_files > 0:
        if part_col:
            # salt WITHIN the layout column: repartition(n, part_col)
            # alone would hash each source to exactly one task -- one
            # giant file per dir and the dominant source's write
            # serialized through a single straggler. Hashing (part_col,
            # salt) bounds each dir at <= n_files files (a source spans
            # at most n_files distinct salt combos) while the EXPLICIT
            # partition count keeps the write wide; keys-only
            # repartition would let AQE coalesce the tiny-looking
            # shuffle back into one task.
            salt = F.pmod(
                F.xxhash64(F.col(args.id_col).cast("string")), F.lit(n_files)
            )
            writer = writer.repartition(
                max(64, n_files * 8), F.col(part_col), salt
            )
        else:
            writer = writer.repartition(n_files)
    shuffle_salt = getattr(args, "shuffle_output", None)
    out_path = args.output
    if shuffle_salt is not None:
        # TWO-PHASE write: the global shuffle's repartitionByRange samples
        # its child to pick boundaries, and sampling a lazy pipeline
        # RE-EXECUTES the whole stage chain (and double-fires every
        # Observation -- measured: after_<stage> read 2x on the one-job
        # form). So the curated rows are materialized to a staging dir
        # first (observations fire exactly once), and the shuffle pass
        # reads them back -- boundary sampling then costs one
        # column-pruned parquet scan of the id column, the flagship
        # extraction's order-the-input lesson. Staging lives OUTSIDE
        # args.output: the final overwrite would delete the very files
        # the lazy shuffle plan is still reading.
        out_path = args.output.rstrip("/") + ".shuffle-staging"
    w = writer.write.mode("overwrite")
    if part_col:
        w = w.partitionBy(part_col)
    w.parquet(out_path)
    if shuffle_salt is not None:
        T.shuffled(
            spark.read.parquet(out_path), salt=shuffle_salt,
            id_col=args.id_col,
        ).write.mode("overwrite").parquet(args.output)
        # best-effort cleanup via the same FS API the lineage writer uses
        try:
            jvm = spark._jvm
            jsc = spark._jsc
            path = jvm.org.apache.hadoop.fs.Path(out_path)
            path.getFileSystem(jsc.hadoopConfiguration()).delete(path, True)
        except Exception:  # noqa: BLE001 -- staging leftovers are harmless
            pass
    # the curated output is durable from here on: apply deferred state
    # mutations (--state and --fps-table appendices) -- a crash BEFORE this
    # point reruns cleanly because the state never saw the shard
    for fn in run.post_commit:
        fn()
    for stage, obs, frame in run.observations:
        # When a stage empties the corpus, AQE empty-relation propagation
        # can replace the downstream subtree (incl. the CollectMetrics
        # node) with an empty LocalRelation, so the observation never
        # fires; fall back to a direct count of that stage's frame -- the
        # chain is cheap precisely because it is (nearly) empty.
        try:
            got = int(obs.get["rows"])
            # a LAZY localCheckpoint anywhere downstream completes the
            # observation with rows=0 before data flows; 0 is therefore
            # ambiguous -- re-count (cheap when the frame is truly empty,
            # and the eager-checkpoint policy above makes this rare)
            counters[f"after_{stage}"] = got if got > 0 else frame.count()
        except Exception:  # noqa: BLE001 -- metrics node elided
            counters[f"after_{stage}"] = frame.count()
    counters["output"] = spark.read.parquet(args.output).count()
    result = {"mode": "corpus", "stages": stages, "counters": counters}
    if getattr(args, "report", None):
        # audit the CURATED output (what ships), not the input: diffing
        # reports across runs/stages is the point of the artifact
        out_df = spark.read.parquet(args.output)
        row = T.corpus_report(
            out_df, text_col=args.text_col,
            exact_dup=bool(getattr(args, "report_exact_dup", False)),
        ).collect()[0].asDict()
        n_dom = int(getattr(args, "report_domains", 0) or 0)
        if n_dom > 0:
            from action_pdf_accessibility_paddle_docker_spark.operators import urls as U

            # one map-side-combined aggregate (domain-cardinality-sized);
            # the top-N sort runs on that aggregate, never the corpus
            row["top_domains"] = [
                {"domain": r["url_domain"], "n_docs": r["n_docs"],
                 "n_chars": r["n_chars"]}
                for r in U.domain_stats(out_df, url_col=args.url_col,
                                        text_col=args.text_col)
                .orderBy(F.desc("n_docs"),
                         F.asc_nulls_last("url_domain"))
                .limit(n_dom).collect()
            ]
        if getattr(args, "benchmark", None):
            # contamination block (GPT-3 appendix-C measurement): doc-level
            # fraction of shingles found anywhere in the benchmark suite,
            # folded to one row -- the number a corpus card reports even
            # when the decontam DROP stage didn't run
            # plain getattr default (never `or`): an explicit 0.0 threshold
            # must not be silently replaced -- the report has to agree with
            # what the decontam stage itself gated on
            thr = float(getattr(args, "decontam_overlap", 0.3))
            crow = (
                D.contamination_scores(
                    out_df, _load_benchmark(spark, args),
                    id_col=args.id_col, text_col=args.text_col,
                )
                .agg(
                    F.count(F.lit(1)).alias("n_docs_scored"),
                    F.coalesce(
                        F.sum((F.col("n_contaminated") > 0).cast("bigint")),
                        F.lit(0),
                    ).alias("n_docs_hit"),
                    F.coalesce(
                        F.sum(
                            (F.col("contamination_frac") >= thr).cast("bigint")
                        ),
                        F.lit(0),
                    ).alias("n_docs_over_threshold"),
                    F.round(F.avg("contamination_frac"), 6).alias(
                        "mean_contamination_frac"
                    ),
                    F.max("contamination_frac").alias(
                        "max_contamination_frac"
                    ),
                )
                .collect()[0]
                .asDict()
            )
            crow["threshold"] = thr
            row["contamination"] = crow
        with open(args.report, "w") as f:
            json.dump(row, f, indent=1, sort_keys=True)
        result["report"] = row
    return result

def run_pipeline_resumable(spark, args, stages) -> dict:
    """Checkpoint-resumable batch curation over
    ``plans.lineage.run_bucketed`` -- the exactly-once bucket loop the
    extraction runner shares (north_rule: per-partition lineage + counters
    enabling checkpoint-resumable restarts).

    The corpus is sharded into ``--buckets`` hash buckets; every pending
    bucket is written in ONE ``partitionBy('bucket')`` pass by default
    (one input scan per resume cycle; ``--bucket-batch`` bounds crash
    recomputation at one extra scan per batch), and each bucket's lineage
    record (``counters``: rows, min_id, max_id of its written rows) is
    committed atomically AFTER its data write: a restart lists the lineage
    dir and skips completed buckets.

    Bucket-local processing must equal the one-shot pipeline, hence the
    stage table's resumable refusals. The one subtle case is exact
    dedup: the bucket key is the dedup FINGERPRINT (md5 of the normalized
    post-clean/pii text -- the text dedup itself sees) rather than the
    doc id, so every duplicate group lands whole in one bucket and
    min-id-per-fingerprint inside the bucket IS the global answer.
    clean/pii run BEFORE the bucket split for the same reason (they
    rewrite the text the fingerprint is taken over); both are
    deterministic row-wise projections, so per-batch re-execution over
    the filtered input is value-identical to a global pass. Equality
    with ``run_pipeline`` (including a crash mid-run) is pinned by
    test_corpus_job.

    ``fail_after_batches`` (Namespace attr, test hook): raise after N
    batches to simulate a crash; the next call resumes.
    """
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
        run_bucketed,
    )

    run = _Run(spark, args, stages, "resumable")
    df = run.apply(spark.read.parquet(args.input), _PRE_BUCKET)
    per_batch = [s for s in stages if s not in _PRE_BUCKET]
    n_buckets = int(getattr(args, "buckets", 64))
    key = (F.md5(D.normalized(F.col(args.text_col))) if "dedup" in stages
           else F.col(args.id_col).cast("string"))
    part = df.withColumn(
        "bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    )
    # pin everything a bucket index's MEANING depends on: the count, the
    # key kind, the stage/column set that shapes the key, the input path,
    # and each present stage's row-set-shaping parameters (committed
    # buckets keep the values they ran under). Stages pin in the CANONICAL
    # order so a reordered --stages listing of the same set still resumes.
    config = {
        "kind": "corpus",
        "n_buckets": n_buckets,
        "bucket_key": ("fingerprint" if "dedup" in stages else "id"),
        "stages": [st.name for st in run.stages],
        "id_col": args.id_col,
        "text_col": args.text_col,
        "input": args.input,
    }
    for st in run.stages:
        if st.pins is not None:
            config.update(st.pins(args))
    summary = run_bucketed(
        spark, args.output, config, part, n_buckets,
        lambda rows, batch: (run.apply(rows, per_batch), None),
        {"rows": F.count(F.lit(1)), "min_id": F.min(args.id_col),
         "max_id": F.max(args.id_col)},
        {"rows": 0, "min_id": None, "max_id": None},
        cluster_by=(args.id_col,),
        bucket_batch=getattr(args, "bucket_batch", None) or None,
        fail_after_batches=getattr(args, "fail_after_batches", None),
    )
    result = {"mode": "corpus-resumable", "stages": stages, **summary}
    try:
        result["output"] = spark.read.parquet(
            args.output.rstrip("/") + "/data").count()
    except Exception:  # noqa: BLE001 -- nothing survived any stage
        result["output"] = 0
    return result


def run_pipeline_streaming(spark, args, stages) -> dict:
    """Streaming curation over arriving document files: the streamable
    stages of the table (stateless projections stream unchanged; dedup and
    urldedup become watermarked first-seen dedups bounded by
    --dedup-horizon; neardup the stateless corpus probe). Checkpointed
    availableNow run: re-running drains only new files, exactly once."""
    run = _Run(spark, args, stages, "streaming")
    schema = spark.read.parquet(args.input).schema
    run.input_columns = schema.names
    df = run.apply(spark.readStream.schema(schema).parquet(args.input))
    q = (
        df.writeStream.format("parquet")
        .option("path", args.output)
        .option("checkpointLocation", args.checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_out = spark.read.parquet(args.output).count()
    return {"mode": "corpus-streaming", "stages": stages,
            "counters": {"output": n_out}}


if __name__ == "__main__":
    main()
