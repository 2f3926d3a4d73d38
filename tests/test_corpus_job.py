"""corpus_job: the curation CLI's pipeline body (stage composition and the
incremental-dedup shard loop) on the shared test session. The spark-submit
surface itself is exercised by the verify drive."""

import argparse
import json

import pyarrow as pa
import pyarrow.parquet as pq

from jobs.corpus_job import run_pipeline


def _ns(**kw):
    base = dict(
        id_col="doc_id", text_col="text", min_kept_lines=2,
        rate=[], default_rate=1.0,
        stratum_col="source", cap_per_source=10000,
        line_min_chars=30, url_col="url", span_k=50,
        linededup_unit="line",
    )
    base.update(kw)
    return argparse.Namespace(**base)


def _write_docs(path, rows):
    pq.write_table(pa.Table.from_pylist(rows), str(path))


GOOD = (
    "the quick brown fox jumps over the lazy dog and keeps going today.\n"
    "a second line of perfectly ordinary content follows right behind it.\n"
    "the third line wraps the document up with a clean terminal stop."
)


def test_full_stage_composition(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=GOOD + "\nmail me at a@b.io right away please.",
             source="web"),
        dict(doc_id=1, text=GOOD, source="web"),
        dict(doc_id=2, text=GOOD, source="web"),          # exact dup of 1
        dict(doc_id=3, text="tiny.\nnope", source="web"),  # fails line gate
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out")),
        ["clean", "pii", "gate", "dedup", "split"],
    )
    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert res["counters"] == {
        "input": 4, "after_clean": 3, "after_gate": 3, "output": 2,
    }
    assert set(out) == {0, 1}  # 2 deduped against 1, 3 line-gated
    assert "<EMAIL>" in out[0]["text"] and "a@b.io" not in out[0]["text"]
    assert out[1]["split"] in ("train", "val", "test")


def test_incremental_shard_loop(spark, tmp_path):
    """--state: shard 1 runs on an empty store (no bootstrap), shard 2 is
    deduped against shard 1's committed fingerprints."""
    shard1, shard2 = tmp_path / "s1", tmp_path / "s2"
    shard1.mkdir(), shard2.mkdir()
    _write_docs(shard1 / "p.parquet", [
        dict(doc_id=0, text="first unique document body.", source="web"),
        dict(doc_id=1, text="second unique document body.", source="web"),
    ])
    _write_docs(shard2 / "p.parquet", [
        dict(doc_id=10, text="FIRST   unique document body.", source="web"),  # seen
        dict(doc_id=11, text="a genuinely new document body.", source="web"),
    ])
    state = str(tmp_path / "state")
    r1 = run_pipeline(
        spark,
        _ns(input=str(shard1), output=str(tmp_path / "o1"), state=state),
        ["dedup"],
    )
    r2 = run_pipeline(
        spark,
        _ns(input=str(shard2), output=str(tmp_path / "o2"), state=state),
        ["dedup"],
    )
    assert r1["counters"]["output"] == 2
    assert r2["counters"]["output"] == 1  # normalizer catches the case variant
    survivors2 = spark.read.parquet(str(tmp_path / "o2")).collect()
    assert [r["doc_id"] for r in survivors2] == [11]
    assert "fingerprint" not in spark.read.parquet(str(tmp_path / "o1")).columns


def test_streaming_pipeline_equals_batch(spark, tmp_path):
    """--streaming composition (clean -> pii -> gate -> dedup -> split) on a
    file stream must match the batch pipeline on the same input up to
    dedup's tie-break (batch keeps min doc_id; within one micro-batch the
    stream's surviving duplicate is arbitrary -- the contract is exactly
    ONE survivor per fingerprint)."""
    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=GOOD + "\nmail me at a@b.io right away please.",
             source="web"),
        dict(doc_id=1, text=GOOD, source="web"),
        dict(doc_id=2, text=GOOD, source="web"),
        dict(doc_id=3, text="tiny.\nnope", source="web"),
    ])
    ns = _ns(
        input=str(src), output=str(tmp_path / "out"),
        streaming=True, checkpoint=str(tmp_path / "ck"),
        ts_col="ts", dedup_horizon="30 minutes",
    )
    from jobs.corpus_job import run_pipeline_streaming

    res = run_pipeline_streaming(
        spark, ns, ["clean", "pii", "gate", "dedup", "split"]
    )
    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert res["counters"]["output"] == 2
    survivors = set(out)
    assert 0 in survivors and len(survivors & {1, 2}) == 1  # one dup survivor
    assert 3 not in survivors  # line-gated
    assert "<EMAIL>" in out[0]["text"]
    assert all(r["split"] in ("train", "val", "test") for r in out.values())


def test_cap_stage_bounds_per_source(spark, tmp_path):
    """The cap stage (anti-dominance) keeps at most --cap-per-source docs
    per source; exact form asserted through the operator, the job wires the
    rate form with its counter visible in the JSON line."""
    src = tmp_path / "in_cap"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, text=GOOD + f" extra token {i}.", source=f"s{i % 2}")
        for i in range(40)
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_cap"), cap_per_source=5),
        ["cap"],
    )
    out = spark.read.parquet(str(tmp_path / "out_cap"))
    n_per = {r["source"]: r["n"] for r in
             out.groupBy("source").count().withColumnRenamed("count", "n").collect()}
    # rate form: ceil(5/20 * 1e6) bucket cut -- approximately 5 of 20 each,
    # never everything
    for s_, n in n_per.items():
        assert 1 <= n <= 12, (s_, n)
    assert res["counters"]["after_cap"] == out.count()


def test_neardup_stage_clusters_identical_shingle_sets(spark, tmp_path):
    """The neardup stage (MinHash-LSH connected components, keep min-id
    canonical) driven through the CLI pipeline body. Docs 0/1 normalize to
    the IDENTICAL shingle set (case + whitespace variants), so they must
    signature-match into one cluster -- the deterministic core MinHash
    guarantee -- while the unrelated doc survives."""
    rows = [
        dict(doc_id=0, text=GOOD, source="web"),
        dict(doc_id=1, text=GOOD.upper().replace(" ", "   "), source="web"),
        dict(doc_id=2, text="entirely different words populate this one "
                            "document here and nothing overlaps at all.",
             source="web"),
    ]
    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", rows)
    res = run_pipeline(
        spark, _ns(input=str(src), output=str(tmp_path / "out")), ["neardup"],
    )
    kept = {r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert kept == {0, 2}, kept
    assert res["counters"]["after_neardup"] == 2


def test_partitioned_output_prunes_and_bounds_files(spark, tmp_path):
    """--partition-output-by source writes a hive layout whose per-source
    reads are PARTITION-PRUNED scans (the 100 TB reason to have the flag);
    --output-files bounds the file count per partition dir (the
    small-files control)."""
    src = tmp_path / "in_part"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, text=GOOD + f" tail {i}.", source=f"s{i % 3}")
        for i in range(60)
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_part"),
            partition_output_by="source", output_files=2),
        ["split"],
    )
    assert res["counters"]["output"] == 60
    out = tmp_path / "out_part"
    dirs = sorted(p.name for p in out.iterdir() if p.name.startswith("source="))
    assert dirs == ["source=s0", "source=s1", "source=s2"]
    n_per_dir = []
    for d in dirs:
        files = [p for p in (out / d).iterdir() if p.suffix == ".parquet"]
        # the salted repartition bounds every dir at <= --output-files
        # files (a source spans at most that many salt combos)...
        assert 1 <= len(files) <= 2, (d, files)
        n_per_dir.append(len(files))
    # ...and actually spreads the write: most sources' two salt combos
    # land in different tasks (repartitioning on the layout column alone
    # would serialize each source through one task = one file per dir)
    assert sum(n_per_dir) >= len(dirs) + 1, n_per_dir
    from pyspark.sql import functions as F

    pruned = spark.read.parquet(str(out)).where(F.col("source") == "s1")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "source" in plan.split("PartitionFilters")[1][:120]
    assert pruned.count() == 20


def test_semdedup_stage_with_side_embeddings_table(spark, tmp_path):
    """The semdedup stage end-to-end through the pipeline body: a side
    --embeddings table keyed by doc_id, near-identical embedding groups
    collapse to their min-id representative, a doc WITHOUT an embedding
    row is dropped (documented contract), and --semdedup-cap bounds
    survivors per coarse cell."""
    import numpy as np

    src = tmp_path / "in_sd"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, text=GOOD + f" tail {i}.", source="web")
        for i in range(9)                      # 8 has no embedding row
    ])
    rng = np.random.default_rng(5)
    e = np.eye(8)
    vecs = {}
    for i in range(3):                         # group A -> rep 0
        vecs[i] = (e[0] + 0.01 * rng.standard_normal(8)).tolist()
    for i in (3, 4):                           # group B -> rep 3
        vecs[i] = (e[1] + 0.01 * rng.standard_normal(8)).tolist()
    for j, i in enumerate((5, 6, 7)):          # distant singletons
        vecs[i] = e[2 + j].tolist()
    embp = tmp_path / "emb_sd"
    embp.mkdir()
    pq.write_table(pa.Table.from_pylist(
        [dict(doc_id=i, embedding=v) for i, v in vecs.items()]
    ), str(embp / "p.parquet"))

    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_sd"),
            embeddings=str(embp), embedding_col="embedding",
            semdedup_threshold=0.95, semdedup_clusters=3, semdedup_cap=0),
        ["semdedup"],
    )
    kept = {r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "out_sd")).collect()}
    assert kept == {0, 3, 5, 6, 7}, kept       # groups collapse; 8 dropped
    assert res["counters"]["after_semdedup"] == 5

    # cluster-balanced cap: at most 1 survivor per coarse cell
    res2 = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_sd2"),
            embeddings=str(embp), embedding_col="embedding",
            semdedup_threshold=0.95, semdedup_clusters=3, semdedup_cap=1),
        ["semdedup"],
    )
    kept2 = {r["doc_id"]
             for r in spark.read.parquet(str(tmp_path / "out_sd2")).collect()}
    assert kept2 <= kept and 1 <= len(kept2) <= 3, kept2
    assert res2["counters"]["after_semdedup"] == len(kept2)


def test_semdedup_after_stages_that_leave_one_doc(spark, tmp_path):
    """gate -> classify -> neardup -> semdedup where the earlier stages
    leave a single document: semdedup keeps it instead of failing inside
    the KMeans fit."""
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        quality_clf as C,
    )

    spam = (
        "buy now and get the cheap pills at a discount for the best price.\n"
        "click here to claim the free offer and the bonus prize in an hour.\n"
        "the cash deal is waiting for you so act on the offer and buy it now."
    )
    labeled = spark.createDataFrame(
        [(i, GOOD + f" extra word {i}", 1.0) for i in range(4)]
        + [(100 + i, spam + f" extra word {i}", 0.0) for i in range(4)],
        "doc_id long, text string, label double",
    )
    model = tmp_path / "model"
    C.save_classifier(*C.train_quality_classifier(
        labeled, vocab_size=512, reg_param=1e-3, max_iter=100), str(model))

    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=GOOD, source="web"),
        dict(doc_id=1, text=GOOD.upper().replace(" ", "   "),  # neardup of 0
             source="web"),
        dict(doc_id=2, text=spam, source="web"),           # classified out
        dict(doc_id=3, text="tiny.\nnope", source="web"),  # fails the gate
    ])
    embp = tmp_path / "emb"
    embp.mkdir()
    pq.write_table(pa.Table.from_pylist(
        [dict(doc_id=i, embedding=[float(i), 1.0, 0.0]) for i in range(4)]
    ), str(embp / "p.parquet"))

    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out"),
            clf_weights=str(model), clf_threshold=0.5,
            embeddings=str(embp), embedding_col="embedding",
            semdedup_threshold=0.95, semdedup_clusters=2, semdedup_cap=0),
        ["gate", "classify", "neardup", "semdedup"],
    )
    assert res["counters"] == {
        "input": 4, "after_gate": 3, "after_classify": 2, "after_neardup": 1,
        "after_semdedup": 1, "output": 1,
    }
    assert [r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out")).collect()] == [0]


def test_streaming_neardup_corpus_probe(spark, tmp_path):
    """--streaming + neardup + --state: the read-only stream-static corpus
    probe drops arriving docs near committed corpus content while fresh docs
    flow through, and ignores an uncommitted version; driven through the
    streaming pipeline body."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        minhash_band_buckets,
    )
    from jobs.corpus_job import run_pipeline_streaming

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fresh = "one two three four five six seven eight nine ten"
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    _write_docs(corpus / "p.parquet", [dict(doc_id=1, text=base, source="web")])
    state = tmp_path / "state"
    run_pipeline(spark, _ns(input=str(corpus), output=str(tmp_path / "o0"),
                            state=str(state)), ["neardup"])
    # a dead run's appendix (no commit record) covering the fresh doc
    minhash_band_buckets(
        spark.createDataFrame([(2, fresh)], "doc_id long, text string")
    ).write.partitionBy("band").parquet(str(state / "neardup" / "v=1"))

    src = tmp_path / "in_snd"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=10, text=base.upper(), source="web"),          # corpus hit
        dict(doc_id=11, text=fresh, source="web"),                 # fresh
    ])
    ns = _ns(
        input=str(src), output=str(tmp_path / "out_snd"),
        streaming=True, checkpoint=str(tmp_path / "ck_snd"),
        ts_col="ts", dedup_horizon="30 minutes", state=str(state),
    )
    res = run_pipeline_streaming(spark, ns, ["neardup"])
    kept = {r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "out_snd")).collect()}
    assert kept == {11}
    assert res["counters"]["output"] == 1


def test_decontam_stage_drops_benchmark_leaks(spark, tmp_path):
    """The decontam stage drops training docs whose bigram overlap with a
    benchmark doc covers >= --decontam-overlap of the training doc's
    shingles; clean docs and sub-threshold overlaps survive. The benchmark
    side may name its columns differently (--benchmark-id/text-col)."""
    src, bench = tmp_path / "in", tmp_path / "bench"
    src.mkdir(), bench.mkdir()
    leak = "the capital of france is paris and the capital of spain is madrid"
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=leak, source="web"),                 # full leak
        dict(doc_id=1, text=GOOD, source="web"),                 # clean
        dict(doc_id=2, text=leak + " " + GOOD * 3, source="web"),  # diluted
    ])
    _write_docs(bench / "b.parquet", [
        dict(qid=100, question=leak),
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out"),
            benchmark=str(bench), benchmark_id_col="qid",
            benchmark_text_col="question", decontam_overlap=0.5),
        ["decontam"],
    )
    kept = {r["doc_id"] for r in
            spark.read.parquet(str(tmp_path / "out")).collect()}
    assert kept == {1, 2}, kept          # 0 dropped; 2's overlap is diluted
    assert res["counters"]["after_decontam"] == 2

    # tightening the threshold to near-zero also catches the diluted doc
    res2 = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out2"),
            benchmark=str(bench), benchmark_id_col="qid",
            benchmark_text_col="question", decontam_overlap=0.05),
        ["decontam"],
    )
    kept2 = {r["doc_id"] for r in
             spark.read.parquet(str(tmp_path / "out2")).collect()}
    assert kept2 == {1}, kept2
    assert res2["counters"]["after_decontam"] == 1


def test_resumable_crash_resume_equals_one_shot(spark, tmp_path):
    """--resumable: crash after one bucket batch, resume, and the final
    output equals the one-shot pipeline exactly -- including exact dedup,
    which is bucket-local-safe because the bucket key is the dedup
    fingerprint (duplicate groups land whole in one bucket even when
    their doc_ids are far apart)."""
    import pytest

    from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
        completed_buckets,
    )
    from jobs.corpus_job import run_pipeline_resumable

    src = tmp_path / "in"
    src.mkdir()
    rows = [
        dict(doc_id=i, text=GOOD + f"\nunique tail number {i} ends cleanly here.",
             source="web")
        for i in range(12)
    ]
    # exact dups under DISTANT ids: id-keyed buckets would split these
    # groups; fingerprint-keyed buckets must collapse them
    rows += [dict(doc_id=j, text=rows[3]["text"], source="web")
             for j in (120, 121, 122)]
    rows += [dict(doc_id=130, text=rows[5]["text"], source="web")]
    _write_docs(src / "p.parquet", rows)

    stages = ["clean", "pii", "gate", "dedup", "split", "sample"]
    kw = dict(input=str(src), rate=["web=0.8"], buckets=6)
    one = run_pipeline(
        spark, _ns(output=str(tmp_path / "oneshot"), **kw), stages
    )
    want = {tuple(sorted(r.asDict().items())) for r in
            spark.read.parquet(str(tmp_path / "oneshot")).collect()}

    root = tmp_path / "resumable"
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline_resumable(
            spark,
            _ns(output=str(root), bucket_batch=2, fail_after_batches=1, **kw),
            stages,
        )
    assert completed_buckets(str(root), spark) == {0, 1}  # first batch only
    res = run_pipeline_resumable(
        spark, _ns(output=str(root), bucket_batch=2, **kw), stages
    )
    assert res["resumed_buckets"] == 2 and res["ran_buckets"] == 4
    got = {tuple(sorted((k, v) for k, v in r.asDict().items() if k != "bucket"))
           for r in spark.read.parquet(str(root / "data")).collect()}
    assert got == want
    assert res["output"] == one["counters"]["output"]
    # a third run has nothing to do but reports the same output
    res2 = run_pipeline_resumable(
        spark, _ns(output=str(root), **kw), stages
    )
    assert res2["ran_buckets"] == 0 and res2["resumed_buckets"] == 6
    assert res2["output"] == one["counters"]["output"]


def test_resumable_all_rows_dropped_still_commits_lineage(spark, tmp_path):
    """When a stage empties the whole corpus (no data dirs are ever
    written), the zero-row lineage records must still commit so a rerun
    skips instead of re-scanning forever."""
    from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
        completed_buckets,
    )
    from jobs.corpus_job import run_pipeline_resumable

    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text="no terminal punctuation anywhere", source="web"),
        dict(doc_id=1, text="tiny", source="web"),
    ])
    kw = dict(input=str(src), rate=[], buckets=3)
    root = tmp_path / "res"
    res = run_pipeline_resumable(
        spark, _ns(output=str(root), **kw), ["clean", "dedup"]
    )
    assert res["output"] == 0 and res["ran_buckets"] == 3
    assert completed_buckets(str(root), spark) == {0, 1, 2}
    res2 = run_pipeline_resumable(
        spark, _ns(output=str(root), **kw), ["clean", "dedup"]
    )
    assert res2["ran_buckets"] == 0 and res2["output"] == 0


def test_classify_stage_filters_by_model_score(spark, tmp_path):
    """--stages classify: docs scoring under the trained model below
    --clf-threshold are dropped (binding both ways), the counter line
    carries the stage, and the resumable path (classify is per-document
    under fixed weights) produces the identical survivor set."""
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        quality_clf as C,
    )
    from jobs.corpus_job import run_pipeline_resumable

    prose = ("the committee met on tuesday and approved the annual budget "
             "after a long discussion of the library expansion plans")
    spam = ("buy now cheap pills discount click here free offer wow bonus "
            "prize claim now spam click offer cash discount deal deal")
    labeled = spark.createDataFrame(
        [(i, prose + f" extra word {i}", 1.0) for i in range(4)]
        + [(100 + i, spam + f" extra word {i}", 0.0) for i in range(4)],
        "doc_id long, text string, label double",
    )
    weights, bias = C.train_quality_classifier(
        labeled, vocab_size=512, reg_param=1e-3, max_iter=100
    )
    model = tmp_path / "model"
    C.save_classifier(weights, bias, str(model))

    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=prose + " fresh tail one", source="web"),
        dict(doc_id=1, text=spam + " fresh tail two", source="web"),
        dict(doc_id=2, text=prose + " fresh tail three", source="web"),
    ])
    kw = dict(input=str(src), clf_weights=str(model), clf_threshold=0.5)
    res = run_pipeline(
        spark, _ns(output=str(tmp_path / "out"), **kw), ["classify", "split"]
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["doc_id"] for r in out.collect()) == [0, 2]
    assert res["counters"]["after_classify"] == 2

    root = tmp_path / "res"
    res2 = run_pipeline_resumable(
        spark, _ns(output=str(root), buckets=3, **kw), ["classify", "split"]
    )
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(root / "data")).collect()
    )
    assert got == [0, 2] and res2["output"] == 2

    # --clf-top-frac: DCLM top-fraction selection keeps FEWER than the
    # threshold form here (top ~1/3 of 3 docs = the single best-scoring
    # prose doc + ties) -- binding against both the threshold verdict and
    # keep-everything
    res3 = run_pipeline(
        spark,
        _ns(output=str(tmp_path / "out_tf"), clf_top_frac=0.34, **kw),
        ["classify"],
    )
    assert 1 <= res3["counters"]["after_classify"] < 3


def test_fps_table_incremental_loop(spark, tmp_path):
    """--fps-table: shard 1 creates the bucketed fingerprint table, shard 2
    is deduped against it with the appendix landing IN PLACE (no --new-fps
    path juggling), and re-running shard 2 drains to 0."""
    table = "fps_cli_" + tmp_path.name.replace("-", "_")
    s1, s2 = tmp_path / "s1", tmp_path / "s2"
    s1.mkdir(), s2.mkdir()
    _write_docs(s1 / "p.parquet", [
        dict(doc_id=0, text="alpha beta gamma", source="web"),
        dict(doc_id=1, text="delta epsilon zeta", source="web"),
    ])
    _write_docs(s2 / "p.parquet", [
        dict(doc_id=10, text="ALPHA   beta gamma", source="web"),  # seen
        dict(doc_id=11, text="fresh new content here", source="web"),
        dict(doc_id=12, text="fresh  NEW content here", source="web"),  # in-shard dup
    ])
    kw = dict(fps_table=table)
    try:
        r1 = run_pipeline(
            spark, _ns(input=str(s1), output=str(tmp_path / "o1"), **kw),
            ["dedup"],
        )
        assert r1["counters"]["output"] == 2
        r2 = run_pipeline(
            spark, _ns(input=str(s2), output=str(tmp_path / "o2"), **kw),
            ["dedup"],
        )
        out2 = sorted(
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "o2")).collect()
        )
        assert out2 == [11]
        # the appendix landed in place: a rerun of shard 2 drains to 0
        r3 = run_pipeline(
            spark, _ns(input=str(s2), output=str(tmp_path / "o3"), **kw),
            ["dedup"],
        )
        assert r3["counters"]["output"] == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_fps_table_appendix_is_post_commit(spark, tmp_path):
    """The --fps-table appendix must land AFTER the curated output commits:
    when the output write fails, the state table must NOT have recorded the
    shard (otherwise a retry of the same shard emits zero rows -- silent
    data loss), and the retry must then produce the full output."""
    import pytest

    table = "fps_pc_" + tmp_path.name.replace("-", "_")
    src = tmp_path / "s1"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text="alpha beta gamma", source="web"),
        dict(doc_id=1, text="delta epsilon zeta", source="web"),
    ])
    # sabotage the output: its parent is a plain FILE, so the parquet
    # write fails after the dedup stage built (and checkpointed) survivors
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    kw = dict(fps_table=table)
    try:
        with pytest.raises(Exception):
            run_pipeline(
                spark,
                _ns(input=str(src), output=str(blocker / "out"), **kw),
                ["dedup"],
            )
        # the crash happened BEFORE the appendix: no state recorded
        assert not spark.catalog.tableExists(table)
        # retry of the SAME shard with a healthy output emits everything
        r = run_pipeline(
            spark, _ns(input=str(src), output=str(tmp_path / "o1"), **kw),
            ["dedup"],
        )
        assert r["counters"]["output"] == 2
        assert spark.table(table).count() == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_fps_table_append_keeps_the_table_bucket_count(spark, tmp_path):
    """Shard 1 asks for 8 buckets, shard 2 does not: shard 2's appendix must
    still land (it appends with the bucket count the table already has), so
    a rerun of shard 2 drains. Before, the default 256 clashed with the
    table's 8 after shard 2's output was written, and its fingerprints were
    never recorded."""
    table = "fps_nb_" + tmp_path.name.replace("-", "_")
    s1, s2 = tmp_path / "s1", tmp_path / "s2"
    s1.mkdir(), s2.mkdir()
    _write_docs(s1 / "p.parquet", [dict(doc_id=0, text="alpha beta", source="web")])
    _write_docs(s2 / "p.parquet", [dict(doc_id=1, text="gamma delta", source="web")])
    try:
        run_pipeline(spark, _ns(input=str(s1), output=str(tmp_path / "o1"),
                                fps_table=table, fps_buckets=8), ["dedup"])
        r2 = run_pipeline(spark, _ns(input=str(s2), output=str(tmp_path / "o2"),
                                     fps_table=table), ["dedup"])
        assert r2["counters"]["output"] == 1
        assert spark.table(table).count() == 2
        r3 = run_pipeline(spark, _ns(input=str(s2), output=str(tmp_path / "o3"),
                                     fps_table=table), ["dedup"])
        assert r3["counters"]["output"] == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_resumable_refuses_config_switch(spark, tmp_path):
    """Resuming with a different --buckets or stage set must fail loudly:
    lineage records carry only bucket indices, so a silent resume under a
    different keying would skip wrong buckets and leave stale partitions."""
    import pytest

    from jobs.corpus_job import run_pipeline_resumable

    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, text=GOOD + f"\nunique tail {i} ends here.",
             source="web")
        for i in range(6)
    ])
    root = tmp_path / "res"
    kw = dict(input=str(src), rate=[])
    run_pipeline_resumable(
        spark, _ns(output=str(root), buckets=4, **kw), ["gate", "dedup"]
    )
    with pytest.raises(ValueError, match="resume configuration mismatch"):
        run_pipeline_resumable(
            spark, _ns(output=str(root), buckets=8, **kw), ["gate", "dedup"]
        )
    with pytest.raises(ValueError, match="resume configuration mismatch"):
        run_pipeline_resumable(
            spark, _ns(output=str(root), buckets=4, **kw), ["gate"]
        )
    # the original parameters still resume cleanly (no-op second pass)
    res = run_pipeline_resumable(
        spark, _ns(output=str(root), buckets=4, **kw), ["gate", "dedup"]
    )
    assert res["ran_buckets"] == 0 and res["resumed_buckets"] == 4
    # bucket records WITHOUT a pinned config (pre-pinning output, or the
    # pin was deleted): adopting the current invocation's config would
    # bless exactly the mis-keyed resume the pin exists to block -- refuse
    import os

    os.remove(root / "_lineage" / "run_config.json")
    with pytest.raises(ValueError, match="no run_config.json"):
        run_pipeline_resumable(
            spark, _ns(output=str(root), buckets=8, **kw), ["gate", "dedup"]
        )


def test_resumable_rejects_top_frac_in_library(spark, tmp_path):
    """The --clf-top-frac/--resumable conflict is owned by the function
    that scores bucket-locally, not just the argparse layer: a programmatic
    caller must get a loud error, never a silent fixed-threshold filter."""
    import pytest

    from jobs.corpus_job import run_pipeline_resumable

    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, text=GOOD + f"\ntail {i}.", source="web")
        for i in range(3)
    ])
    with pytest.raises(ValueError, match="clf_top_frac"):
        run_pipeline_resumable(
            spark,
            _ns(input=str(src), output=str(tmp_path / "o"), buckets=2,
                rate=[], clf_weights="unused", clf_top_frac=0.5),
            ["classify"],
        )


def test_url_stages_compose(spark, tmp_path):
    """urlfilter (blocklist) then urldedup (canonical-URL dedup) run FIRST
    in the canonical order, before any text pass."""
    src = tmp_path / "in_url"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, url="https://www.a.com/x?utm_source=s", text=GOOD,
             source="web"),
        dict(doc_id=1, url="https://A.com/x", text=GOOD, source="web"),
        dict(doc_id=2, url="https://a.com/y", text=GOOD, source="web"),
        dict(doc_id=3, url="not a url", text=GOOD, source="web"),
        dict(doc_id=4, url="https://spam.bad.co.uk/z", text=GOOD,
             source="web"),
    ])
    bl = tmp_path / "blocked.txt"
    bl.write_text("# adult/spam list\nbad.co.uk\nother.com\n")
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_url"),
            url_col="url", blocked_domains=str(bl)),
        ["urlfilter", "urldedup"],
    )
    out = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out_url")).collect()
    )
    # 4 blocked; 1 url-dup of 0 (min id survives); 3 unparseable passes
    assert out == [0, 2, 3]
    assert res["counters"] == {
        "input": 5, "after_urlfilter": 4, "after_urldedup": 3, "output": 3,
    }


def test_streaming_urldedup(spark, tmp_path):
    """Streaming urldedup: ONE survivor per canonical URL (first-seen, not
    min-id), unparseable URLs all pass through (NULL keys must not merge)."""
    src = tmp_path / "in_surl"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, url="https://www.a.com/x?utm_source=s", text=GOOD),
        dict(doc_id=1, url="https://A.com/x", text=GOOD),      # url-dup of 0
        dict(doc_id=2, url="https://a.com/y", text=GOOD),
        dict(doc_id=3, url="not a url", text=GOOD),
        dict(doc_id=4, url="still not a url", text=GOOD),
    ])
    ns = _ns(
        input=str(src), output=str(tmp_path / "out_surl"),
        streaming=True, checkpoint=str(tmp_path / "ck_surl"),
        ts_col="ts", dedup_horizon="30 minutes", url_col="url",
    )
    from jobs.corpus_job import run_pipeline_streaming

    res = run_pipeline_streaming(spark, ns, ["urldedup"])
    out = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out_surl")).collect()
    )
    assert res["counters"]["output"] == 4
    assert len({0, 1} & set(out)) == 1  # exactly one canonical-URL survivor
    assert {2, 3, 4} <= set(out)


def test_resumable_urlfilter_equals_one_shot(spark, tmp_path):
    """urlfilter is a per-document projection, so bucket-local == global:
    the resumable run equals the one-shot on the same blocklist."""
    from jobs.corpus_job import run_pipeline_resumable

    src = tmp_path / "in_rurl"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i,
             url=f"https://{'bad' if i % 3 == 0 else 'ok'}{i % 4}.com/p{i}",
             text=GOOD + f"\nunique tail {i} ends with a clean stop.",
             source="web")
        for i in range(12)
    ])
    bl = tmp_path / "bl.txt"
    bl.write_text("\n".join(f"bad{k}.com" for k in range(4)))
    kw = dict(input=str(src), url_col="url", blocked_domains=str(bl), buckets=4)
    run_pipeline(
        spark, _ns(output=str(tmp_path / "one_rurl"), **kw),
        ["urlfilter", "clean"],
    )
    want = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "one_rurl")).collect()
    )
    res = run_pipeline_resumable(
        spark, _ns(output=str(tmp_path / "res_rurl"), **kw),
        ["urlfilter", "clean"],
    )
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "res_rurl") + "/data").collect()
    )
    assert got == want and 0 not in got and res["input_scans"] == 1


def test_linededup_stage(spark, tmp_path):
    """linededup: the corpus-first occurrence of a long line survives,
    later copies are stripped from their documents."""
    boiler = "this cookie banner line repeats across every page of the site."
    src = tmp_path / "in_ld"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=boiler + "\n" + GOOD, source="web"),
        dict(doc_id=1, text=boiler + "\nunique body line that is long enough to stay.", source="web"),
        dict(doc_id=2, text="ok\n" + boiler, source="web"),
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_ld"),
            line_min_chars=30),
        ["linededup"],
    )
    out = {r["doc_id"]: r["text"] for r in
           spark.read.parquet(str(tmp_path / "out_ld")).collect()}
    assert out[0].startswith(boiler)          # corpus-first keeps it
    assert out[1] == "unique body line that is long enough to stay."
    assert out[2] == "ok"                     # short line survives
    assert res["counters"]["after_linededup"] == 3  # rewrite, not drop


def test_linededup_paragraph_unit(spark, tmp_path):
    """--linededup-unit paragraph: the dedup key is the \\n\\n-delimited
    paragraph; single newlines inside a kept paragraph survive."""
    para = ("a two line syndicated paragraph that repeats here\n"
            "with its second physical line attached to the first")
    src = tmp_path / "in_pu"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=f"{para}\n\nunique zero paragraph with plenty of words", source="web"),
        dict(doc_id=1, text=f"unique one paragraph with plenty of words\n\n{para}", source="web"),
    ])
    run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_pu"),
            linededup_unit="paragraph"),
        ["linededup"],
    )
    out = {r["doc_id"]: r["text"] for r in
           spark.read.parquet(str(tmp_path / "out_pu")).collect()}
    assert out[0].startswith(para)          # corpus-first keeps both lines
    assert out[1] == "unique one paragraph with plenty of words"


def test_spandedup_stage(spark, tmp_path):
    """spandedup: a duplicated >=k-token run is removed everywhere but its
    corpus-first occurrence; untouched docs pass through byte-exact; the
    counter reflects rewrite-not-drop."""
    span = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    src = tmp_path / "in_sp"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=f"{span} plus a unique zero tail", source="web"),
        dict(doc_id=1, text=f"one starts differently then {span}", source="web"),
        dict(doc_id=2, text=GOOD, source="web"),
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_sp"), span_k=8),
        ["spandedup"],
    )
    out = {r["doc_id"]: r["text"] for r in
           spark.read.parquet(str(tmp_path / "out_sp")).collect()}
    assert out[0] == f"{span} plus a unique zero tail"  # corpus-first keeps
    assert out[1] == "one starts differently then"
    assert out[2] == GOOD                               # byte-exact
    assert res["counters"]["after_spandedup"] == 3      # rewrite, not drop


def test_spandedup_incremental_loop(spark, tmp_path):
    """spandedup CDC mode over --state: shard 1 runs on the empty store,
    shard 2 loses the span shard 1 owns, and re-running shard 2 to a new
    output reproduces its text (the appendix claims only rewritten text)."""
    span = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    state = str(tmp_path / "state")
    s1 = tmp_path / "in_s1"
    s1.mkdir()
    _write_docs(s1 / "p.parquet", [
        dict(doc_id=0, text=f"{span} owner document tail", source="web"),
    ])
    run_pipeline(spark, _ns(input=str(s1), output=str(tmp_path / "out_s1"),
                            span_k=8, state=state), ["spandedup"])

    s2 = tmp_path / "in_s2"
    s2.mkdir()
    _write_docs(s2 / "p.parquet", [
        dict(doc_id=10, text=f"later shard repeats {span}", source="web"),
        dict(doc_id=11, text="a fully original second document", source="web"),
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(s2), output=str(tmp_path / "out_s2"), span_k=8,
            state=state),
        ["spandedup"],
    )
    out = {r["doc_id"]: r["text"] for r in
           spark.read.parquet(str(tmp_path / "out_s2")).collect()}
    assert out[10] == "later shard repeats"  # corpus-seen span excised
    assert out[11] == "a fully original second document"
    assert res["counters"]["after_spandedup"] == 2
    # re-run shard 2 to a new output: every gram is now seen
    run_pipeline(
        spark,
        _ns(input=str(s2), output=str(tmp_path / "out_s2b"), span_k=8,
            state=state),
        ["spandedup"],
    )
    out2 = {r["doc_id"]: r["text"] for r in
            spark.read.parquet(str(tmp_path / "out_s2b")).collect()}
    # the appendix claims only REWRITTEN text: doc 10's surviving 3-token
    # stub contributed no grams, so the rerun reproduces the same output
    # (idempotent); doc 11 (< k tokens) never has grams
    assert out2[10] == "later shard repeats"
    assert out2[11] == "a fully original second document"
    with open(tmp_path / "state" / "spandedup" / "_commits" / "2.json") as f:
        assert json.load(f)["rows"] == 0


def test_incremental_spandedup_refuses_later_doc_droppers(spark, tmp_path):
    """--state + spandedup + any doc-dropping stage that the fixed order
    runs AFTER spandedup must error: the appendix would mark grams of
    documents that never ship, and a later shard's sole copy of a shared
    span would be silently excised (round-7 advice item)."""
    import pytest

    src = tmp_path / "in"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text="alpha bravo charlie delta echo foxtrot golf "
                            "hotel tail", source="web"),
    ])
    with pytest.raises(SystemExit, match="doc-dropping"):
        run_pipeline(
            spark,
            _ns(input=str(src), output=str(tmp_path / "out"), span_k=8,
                state=str(tmp_path / "state")),
            ["spandedup", "gate"],
        )
    assert not (tmp_path / "state").exists()


def test_report_contamination_block(spark, tmp_path):
    """--report + --benchmark embeds the doc-level contamination
    measurement: docs hit, docs over the decontam threshold, mean/max
    fractions -- even when the decontam drop stage didn't run."""
    src = tmp_path / "in_rc"
    src.mkdir()
    # doc 0: 8 shingles, 6 contaminated (3 from each bench doc) -> 0.75;
    # doc 1: clean
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text="aa bb cc dd ee ff gg hh ii", source="web"),
        dict(doc_id=1, text="zz yy xx ww vv uu tt ss rr", source="web"),
    ])
    bench = tmp_path / "bench"
    bench.mkdir()
    _write_docs(bench / "b.parquet", [
        dict(doc_id=100, text="aa bb cc dd"),
        dict(doc_id=101, text="ff gg hh ii"),
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_rc"),
            report=str(tmp_path / "rep_rc.json"), report_domains=0,
            report_exact_dup=False, benchmark=str(bench),
            benchmark_id_col=None, benchmark_text_col=None,
            decontam_overlap=0.5),
        [],
    )
    c = res["report"]["contamination"]
    assert c["n_docs_scored"] == 2
    assert c["n_docs_hit"] == 1
    assert c["n_docs_over_threshold"] == 1  # 0.75 >= 0.5
    assert c["mean_contamination_frac"] == 0.375
    assert c["max_contamination_frac"] == 0.75
    assert c["threshold"] == 0.5


def test_empty_input_runs_every_stage_clean(spark, tmp_path):
    """A zero-row input (full schema, no data) must flow through the whole
    batch stage chain without crashing and produce an empty output -- the
    shape every sharded production run hits on its first empty shard.
    (Verified stage-by-stage once in-session; the composed run pins the
    union of the code paths at suite cost.)"""
    import pyarrow as pa

    src = tmp_path / "in_empty"
    src.mkdir()
    pq.write_table(
        pa.Table.from_pylist([], schema=pa.schema(
            [("doc_id", pa.int64()), ("text", pa.string()),
             ("source", pa.string()), ("url", pa.string())])),
        str(src / "p.parquet"),
    )
    bench = tmp_path / "bench_empty"
    bench.mkdir()
    _write_docs(bench / "b.parquet", [dict(doc_id=1, text="aa bb cc dd")])
    blocked = tmp_path / "bl.txt"
    blocked.write_text("example.org\n")
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_empty"),
            blocked_domains=str(blocked), benchmark=str(bench),
            benchmark_id_col=None, benchmark_text_col=None,
            decontam_overlap=0.3, span_k=8),
        ["urlfilter", "urldedup", "clean", "linededup", "spandedup", "pii",
         "gate", "dedup", "neardup", "decontam", "cap", "split", "sample"],
    )
    assert res["counters"]["input"] == 0
    assert res["counters"]["output"] == 0


def test_resumable_clears_stale_pending_partitions(spark, tmp_path):
    """A crashed attempt's partition dir must not survive a re-run whose
    recomputation yields ZERO rows for that bucket: dynamic overwrite only
    replaces partitions it writes rows to, so pending bucket dirs are
    cleared before the batch write."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.corpus_job import run_pipeline_resumable

    src = tmp_path / "in_st"
    src.mkdir()
    # every doc fails the gate -> the whole run writes zero rows
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, text="tiny.\nnope", source="web") for i in range(6)
    ])
    out = tmp_path / "out_st"
    data_root = out / "data"
    # stale debris from a "crashed attempt": rows in a pending bucket dir
    stale = data_root / "bucket=0"
    stale.mkdir(parents=True)
    pq.write_table(
        pa.Table.from_pylist([dict(doc_id=999, text="stale row",
                                   source="web", bucket=0)]),
        str(stale / "junk.parquet"),
    )
    run_pipeline_resumable(
        spark,
        _ns(input=str(src), output=str(out), buckets=2, bucket_batch=None,
            fail_after_batches=None),
        ["gate"],
    )
    import os

    dirs = [d for d in os.listdir(data_root)] if data_root.exists() else []
    assert not any(d.startswith("bucket=0") and
                   any(f.endswith(".parquet") for f in os.listdir(data_root / d))
                   for d in dirs), "stale partition survived the rewrite"


def test_resumable_rejects_cross_bucket_stage_in_library(spark, tmp_path):
    """The bucket-local == global invariant is owned by
    run_pipeline_resumable itself, not just argparse: a programmatic caller
    passing a cross-bucket stage (spandedup) must get a loud error, never an
    output stamped with a stage that silently never ran."""
    import pytest

    from jobs.corpus_job import run_pipeline_resumable

    src = tmp_path / "in_rg"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=GOOD, source="web"),
    ])
    with pytest.raises(SystemExit, match="not resumable.*spandedup"):
        run_pipeline_resumable(
            spark,
            _ns(input=str(src), output=str(tmp_path / "out_rg"), buckets=2,
                bucket_batch=None, fail_after_batches=None),
            ["spandedup", "gate"],
        )


def test_shuffle_output_order(spark, tmp_path):
    """--shuffle-output: the written corpus reads back in the deterministic
    md5(salt, id) order (file order x within-file order)."""
    import hashlib

    src = tmp_path / "in_sh"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, text=GOOD + f" tail {i}.", source="web")
        for i in range(200)
    ])
    run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_sh"),
            shuffle_output="epoch1"),
        [],
    )
    got = [
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out_sh")).collect()
    ]
    want = sorted(
        range(200),
        key=lambda i: hashlib.md5(f"shuffle:epoch1:{i}".encode()).hexdigest(),
    )
    assert got == want


def test_counters_survive_checkpointing_stages(spark, tmp_path):
    """A lazy localCheckpoint anywhere downstream completes upstream
    Observations with rows=0 (measured); the CLI's eager-checkpoint policy
    must keep the per-stage counters truthful when a checkpointing stage
    (linededup here) follows observed stages."""
    src = tmp_path / "in_ck"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=GOOD, source="web"),
        dict(doc_id=1, text=GOOD, source="web"),
        dict(doc_id=2, text="tiny.\nnope", source="web"),  # fails clean
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_ck")),
        ["clean", "linededup"],
    )
    assert res["counters"]["after_clean"] == 2
    assert res["counters"]["after_linededup"] == 2
    assert res["counters"]["output"] == 2


def test_streaming_urldedup_plus_dedup_guarded():
    """main() must reject the streaming urldedup+dedup combination upfront
    (each needs its own watermark; Spark fails the query at runtime)."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "jobs/corpus_job.py", "--input", "/tmp/x",
         "--output", "/tmp/y", "--streaming", "--checkpoint", "/tmp/c",
         "--stages", "urldedup,dedup"],
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2
    assert "watermark" in r.stderr.lower()


def test_cap_by_domain(spark, tmp_path):
    """--cap-by-domain: the RefinedWeb per-domain anti-dominance cap,
    stratified by the registered domain derived from --url-col."""
    src = tmp_path / "in_cbd"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, url=f"https://www.hot.com/p{i}",
             text=GOOD + f" tail {i}.", source=f"s{i % 3}")
        for i in range(40)
    ] + [
        dict(doc_id=100 + i, url=f"https://cold{i}.org/",
             text=GOOD + f" cold {i}.", source="s0")
        for i in range(5)
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_cbd"),
            cap_per_source=5, cap_by_domain=True, url_col="url"),
        ["cap"],
    )
    out = spark.read.parquet(str(tmp_path / "out_cbd"))
    per = {
        r["d"]: r["n"]
        for r in out.selectExpr(
            "regexp_extract(url, 'https://(?:www\\\\.)?([^/]+)/', 1) AS d"
        ).groupBy("d").count().withColumnRenamed("count", "n").collect()
    }
    # rate form keeps ~5 of 40 for the hot domain; every cold domain
    # (1 doc, rate clamps to 1.0) survives intact
    assert per["hot.com"] < 40
    assert sum(per[d] for d in per if d.startswith("cold")) == 5
    assert "_cap_domain" not in out.columns
    assert res["counters"]["output"] < 45


def test_streaming_urlfilter(spark, tmp_path):
    """urlfilter is a stateless projection, so it streams: blocked domains
    are dropped from the arriving files."""
    src = tmp_path / "in_surlf"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, url="https://ok.com/a", text=GOOD),
        dict(doc_id=1, url="https://spam.bad.org/b", text=GOOD),
        dict(doc_id=2, url="not a url", text=GOOD),
    ])
    bl = tmp_path / "bl_s.txt"
    bl.write_text("bad.org\n")
    ns = _ns(
        input=str(src), output=str(tmp_path / "out_surlf"),
        streaming=True, checkpoint=str(tmp_path / "ck_surlf"),
        ts_col="ts", dedup_horizon="30 minutes",
        url_col="url", blocked_domains=str(bl),
    )
    from jobs.corpus_job import run_pipeline_streaming

    res = run_pipeline_streaming(spark, ns, ["urlfilter"])
    out = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out_surlf")).collect()
    )
    assert out == [0, 2] and res["counters"]["output"] == 2


def test_report_domains(spark, tmp_path):
    """--report-domains N embeds the top-N registered domains in the audit
    report (doc count desc, domain asc tiebreak; NULL domains last)."""
    src = tmp_path / "in_rd"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=i, url=f"https://www.big.com/p{i}", text=GOOD + f" t{i}.",
             source="web")
        for i in range(6)
    ] + [
        dict(doc_id=10, url="https://small.org/", text=GOOD, source="web"),
        dict(doc_id=11, url="not a url", text=GOOD, source="web"),
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_rd"),
            report=str(tmp_path / "rep.json"), report_domains=2,
            report_exact_dup=False, url_col="url"),
        [],
    )
    top = res["report"]["top_domains"]
    assert [d["domain"] for d in top] == ["big.com", "small.org"]
    assert top[0]["n_docs"] == 6
    import json as _json

    with open(tmp_path / "rep.json") as f:
        assert _json.load(f)["top_domains"] == top


def test_url_keep_and_fps_key_guards():
    """main() rejects --url-keep longest in streaming (first-seen only),
    --fps-key without an incremental mode (it would be silently ignored by
    plain exact dedup) and --semdedup-clusters below MLlib's k >= 2."""
    import subprocess
    import sys

    checks = [
        (["--streaming", "--checkpoint", "/tmp/c", "--stages", "urldedup",
          "--url-keep", "longest"], "batch-only"),
        (["--stages", "dedup", "--fps-key", "url"], "incremental"),
        (["--stages", "semdedup", "--embeddings", "/tmp/e",
          "--semdedup-clusters", "1"], "--semdedup-clusters must be >= 2"),
    ]
    for argv, frag in checks:
        r = subprocess.run(
            [sys.executable, "jobs/corpus_job.py", "--input", "/tmp/x",
             "--output", "/tmp/y"] + argv,
            capture_output=True, text=True, timeout=60,
        )
        assert r.returncode == 2 and frag in r.stderr, (argv, r.stderr[-200:])


def test_lsh_threshold_knob(spark, tmp_path):
    """--lsh-threshold: the neardup stage under a derived banding. A very
    loose target (0.2 -> more, shorter bands) must still collapse the
    identical-shingle pair and keep the unrelated doc; the guards reject
    out-of-range values, non-neardup stages, and the incremental mode."""
    import subprocess
    import sys

    src = tmp_path / "in_lsh"
    src.mkdir()
    _write_docs(src / "p.parquet", [
        dict(doc_id=0, text=GOOD, source="web"),
        dict(doc_id=1, text=GOOD.upper(), source="web"),
        dict(doc_id=2, text="entirely different words populate this one "
                            "document and nothing overlaps at all today.",
             source="web"),
    ])
    res = run_pipeline(
        spark,
        _ns(input=str(src), output=str(tmp_path / "out_lsh"),
            lsh_threshold=0.2),
        ["neardup"],
    )
    kept = {r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "out_lsh")).collect()}
    assert kept == {0, 2} and res["counters"]["after_neardup"] == 2

    checks = [
        (["--stages", "gate", "--lsh-threshold", "0.5"], "neardup stage"),
        (["--stages", "neardup", "--lsh-threshold", "1.5"], "(0, 1)"),
        (["--stages", "neardup", "--lsh-threshold", "0.5",
          "--state", "/tmp/state"], "batch form"),
    ]
    for argv, frag in checks:
        r = subprocess.run(
            [sys.executable, "jobs/corpus_job.py", "--input", "/tmp/x",
             "--output", "/tmp/y"] + argv,
            capture_output=True, text=True, timeout=60,
        )
        assert r.returncode == 2 and frag in r.stderr, (argv, r.stderr[-300:])
