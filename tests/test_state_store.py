"""corpus_job --state: the one incremental-state store of dedup, neardup and
spandedup. A three-shard chain through ``run_pipeline(..., state=S)`` equals
the library ``incremental_*`` chain with a manual union of each appendix;
the store commits a shard's appendix only after its output lands, a retry
of a committed (input, output) reproduces its output, a store built under
a foreign stamp is refused before any output, and the CLI refuses the
compositions the store cannot serve."""

import argparse
import json
import os
import pathlib
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import jobs.corpus_job as CJ
from action_pdf_accessibility_paddle_docker_spark.operators import dedup as D
from action_pdf_accessibility_paddle_docker_spark.plans import lineage as LIN

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPAN = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
A = f"{SPAN} opens the first document and then it wanders off somewhere"
B = "a second document talks about rivers mountains valleys lakes and sky"
C = f"the third text quotes {SPAN} in its middle and ends quietly"
SHARDS = [
    [dict(doc_id=0, text=A, url="https://a.org/x"),
     dict(doc_id=1, text=B, url="https://b.org/y"),
     dict(doc_id=2, text=A.upper(), url="https://a.org/x?utm_source=z")],
    [dict(doc_id=10, text="  " + A, url="https://c.org/new"),
     dict(doc_id=11, text=C, url="https://b.org/y"),
     dict(doc_id=12, text=B + " today", url="https://d.org/")],
    [dict(doc_id=20, text=C, url="https://e.org/"),
     dict(doc_id=21, text="fresh words nobody has written before in this "
                          "corpus at all", url="https://a.org/x#frag"),
     dict(doc_id=22, text=f"{SPAN} {SPAN} twice over", url=None)],
]
# (stage, extra args, library step: (shard, seen) -> (output, appendix))
CHAINS = {
    "dedup-content": ("dedup", {}, lambda df, seen: _fps(
        D.incremental_dedup(df, seen, key="content"), "content")),
    "dedup-url": ("dedup", {"fps_key": "url"}, lambda df, seen: _fps(
        D.incremental_dedup(df, seen, key="url"), "url")),
    "neardup-cluster": ("neardup", {}, lambda df, seen: D.incremental_near_dedup(
        df, seen)),
    "spandedup": ("spandedup", {}, lambda df, seen: D.incremental_span_dedup(
        df, seen, k=8)),
}


def _fps(pair, key):
    from pyspark.sql import functions as F

    survivors, new_fps = pair
    return (survivors.drop("fingerprint"),
            new_fps.select("fingerprint", F.lit(key).alias("fp_key")))


def _ns(**kw):
    base = dict(id_col="doc_id", text_col="text", url_col="url",
                span_k=8, rate=[], default_rate=1.0)
    base.update(kw)
    return argparse.Namespace(**base)


def _shard(tmp_path, i):
    d = tmp_path / f"s{i}"
    if not d.exists():
        d.mkdir()
        pq.write_table(pa.Table.from_pylist(SHARDS[i]), str(d / "p.parquet"))
    return str(d)


def _rows(df):
    return sorted(tuple(r) for r in df.select("doc_id", "text").collect())


def _commits(state, stage):
    d = pathlib.Path(state, stage, "_commits")
    return {int(f.stem): json.loads(f.read_text()) for f in d.glob("[0-9]*.json")}


def _state_rows(spark, state, stage, cols):
    """Every row of the committed versions, all columns."""
    from pyspark.sql import functions as F

    return sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(state, stage))
        .where(F.col("v").isin(list(_commits(state, stage))))
        .select(*cols).collect()
    )


@pytest.mark.parametrize("chain", CHAINS)
def test_state_chain_equals_library_chain(spark, tmp_path, chain):
    from pyspark.sql import functions as F

    stage, extra, step = CHAINS[chain]
    state = str(tmp_path / "state")
    seen = spark.createDataFrame([], CJ.STAGE_TABLE[stage].state)
    union, changed = None, False
    for i in range(3):
        out = str(tmp_path / f"o{i}")
        CJ.run_pipeline(
            spark, _ns(input=_shard(tmp_path, i), output=out, state=state,
                       **extra), [stage])
        df = spark.read.parquet(_shard(tmp_path, i))
        want, appendix = step(df, seen)
        assert _rows(spark.read.parquet(out)) == _rows(want), i
        changed |= _rows(want) != _rows(df)
        appendix = appendix.localCheckpoint()
        union = appendix if union is None else union.unionByName(appendix)
        seen = seen.unionByName(appendix.select(*seen.columns))
        if i == 0:
            stateless = {
                "dedup": lambda: df.join(D.exact_dedup(df).select(
                    F.col("canonical_id").alias("doc_id")), "doc_id"),
                "neardup": lambda: df.join(
                    D.dedup_clusters(df).where("doc_id = cluster_id")
                    .select("doc_id"), "doc_id"),
                "spandedup": lambda: D.remove_duplicate_spans(df, k=8),
            }[stage]()
            assert _rows(spark.read.parquet(out)) == _rows(stateless)
    assert sorted(_commits(state, stage)) == [0, 1, 2]
    assert _state_rows(spark, state, stage, union.columns) == sorted(
        tuple(r) for r in union.collect())
    assert changed  # the chain removed something: the equality is not vacuous


def test_output_write_failure_commits_nothing(spark, tmp_path):
    """The blocker pattern: the output's parent is a plain file, so the
    write fails after dedup built its survivors -- no commit record, and the
    retry to a healthy output emits every row."""
    state = str(tmp_path / "state")
    blocker = tmp_path / "blocker"
    blocker.write_text("not a directory")
    with pytest.raises(Exception):
        CJ.run_pipeline(spark, _ns(input=_shard(tmp_path, 0),
                                   output=str(blocker / "out"), state=state),
                        ["dedup"])
    assert not os.path.exists(os.path.join(state, "dedup", "_commits"))
    r = CJ.run_pipeline(spark, _ns(input=_shard(tmp_path, 0),
                                   output=str(tmp_path / "o0"), state=state),
                        ["dedup"])
    assert r["counters"]["output"] == 2
    assert [c["rows"] for c in _commits(state, "dedup").values()] == [2]


def test_crash_before_commit_record_retries_same_version(
        spark, tmp_path, monkeypatch):
    """A crash after the output and the appendix data landed but before the
    commit record: the retry of the same (input, output) reproduces the
    output and leaves exactly one committed version with the same rows."""
    state = str(tmp_path / "state")
    ns = _ns(input=_shard(tmp_path, 1), output=str(tmp_path / "o1"),
             state=state)
    real = LIN._write_json

    def crash(spark_, path, record, sort_keys=False):
        if "/_commits/" in path:
            raise RuntimeError("injected crash before the commit record")
        real(spark_, path, record, sort_keys)

    monkeypatch.setattr(LIN, "_write_json", crash)
    with pytest.raises(RuntimeError, match="injected"):
        CJ.run_pipeline(spark, ns, ["dedup"])
    first = _rows(spark.read.parquet(ns.output))
    assert os.path.isdir(os.path.join(state, "dedup", "v=0"))  # debris
    monkeypatch.setattr(LIN, "_write_json", real)
    CJ.run_pipeline(spark, ns, ["dedup"])
    assert _rows(spark.read.parquet(ns.output)) == first
    commits = _commits(state, "dedup")
    assert list(commits) == [0] and commits[0]["rows"] == len(first) == 3
    assert commits[0]["input"] == ns.input and commits[0]["output"] == ns.output


def test_rerun_reproduces_and_new_output_drains(spark, tmp_path):
    """Rerunning a committed (input, output) re-derives that version against
    the versions below it: same output, same state row count. The same input
    sent to a NEW output is a new shard and drains to zero rows."""
    state = str(tmp_path / "state")
    runs = [(_shard(tmp_path, i), str(tmp_path / f"o{i}")) for i in (0, 1)]
    outs = []
    for inp, out in runs:
        CJ.run_pipeline(spark, _ns(input=inp, output=out, state=state),
                        ["dedup"])
        outs.append(_rows(spark.read.parquet(out)))
    before = {n: c["rows"] for n, c in _commits(state, "dedup").items()}
    inp, out = runs[0]
    CJ.run_pipeline(spark, _ns(input=inp, output=out, state=state), ["dedup"])
    assert _rows(spark.read.parquet(out)) == outs[0]
    assert {n: c["rows"] for n, c in _commits(state, "dedup").items()} == before
    r = CJ.run_pipeline(spark, _ns(input=inp, output=str(tmp_path / "o_new"),
                                   state=state), ["dedup"])
    assert r["counters"]["output"] == 0
    assert _commits(state, "dedup")[2]["rows"] == 0


def test_span_k_mismatch_fails_before_any_output(spark, tmp_path):
    state = str(tmp_path / "state")
    CJ.run_pipeline(spark, _ns(input=_shard(tmp_path, 0),
                               output=str(tmp_path / "o0"), state=state),
                    ["spandedup"])
    out = tmp_path / "o1"
    with pytest.raises(ValueError, match="span_k"):
        CJ.run_pipeline(spark, _ns(input=_shard(tmp_path, 1), output=str(out),
                                   state=state, span_k=12), ["spandedup"])
    assert not out.exists()
    assert list(_commits(state, "spandedup")) == [0]


@pytest.mark.parametrize("col,value", [
    ("hash_family", "md5"), ("hash_family", "xxhash64"), ("banding", "16x8"),
])
def test_foreign_neardup_stamp_is_refused(spark, tmp_path, col, value):
    """A bucket table stamped with a MinHash family or a banding the
    probes do not compute (a store written under the removed --hash-family
    md5|xxhash64, or under a tuned banding) is refused by the batch probe,
    the streaming probe and a --state run -- the last before its output
    path exists."""
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
        streaming_near_dedup_against_corpus,
    )

    df = spark.read.parquet(_shard(tmp_path, 0))
    if col == "banding":
        seen = D.minhash_band_buckets(df, bands=8)
    else:
        seen = D.minhash_band_buckets(df).withColumn(col, F.lit(value))
    assert {r[col] for r in seen.collect()} == {value}
    with pytest.raises(ValueError, match=col):
        D.incremental_near_dedup(df, seen)
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        _shard(tmp_path, 1))
    with pytest.raises(ValueError, match=col):
        streaming_near_dedup_against_corpus(stream, seen)
    state = str(tmp_path / "state")
    LIN.StateStore(spark, f"{state}/neardup", CJ.STAGE_TABLE["neardup"].state,
                   run=("legacy", "legacy")).commit(seen, partition_by=("band",))
    out = tmp_path / "o1"
    with pytest.raises(ValueError, match=col):
        CJ.run_pipeline(spark, _ns(input=_shard(tmp_path, 1), output=str(out),
                                   state=state), ["neardup"])
    assert not out.exists()
    assert list(_commits(state, "neardup")) == [0]


def test_unstamped_neardup_table_is_probed_under_module_banding(spark, tmp_path):
    """A bucket table written before the stamps existed (no ``banding``
    column) is probed as 16x4: the shard it was built from drains."""
    df = spark.read.parquet(_shard(tmp_path, 0))
    legacy = D.minhash_band_buckets(df).drop("banding")
    survivors, appendix = D.incremental_near_dedup(df, legacy)
    assert survivors.count() == 0 and appendix.count() == 0


@pytest.mark.parametrize("argv,frag", [
    (["--stages", "dedup", "--state", "/tmp/s", "--resumable"],
     "--state is batch-only"),
    (["--stages", "gate,split", "--state", "/tmp/s"], "none of them"),
    (["--stages", "spandedup,gate", "--state", "/tmp/s"], "doc-dropping"),
    (["--stages", "neardup", "--lsh-threshold", "0.5", "--state", "/tmp/s"],
     "batch form"),
    (["--stages", "neardup", "--streaming", "--checkpoint", "/tmp/c"],
     "requires --state"),
])
def test_cli_refuses_state_compositions(argv, frag):
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "corpus_job.py"),
         "--input", "/tmp/x", "--output", "/tmp/y"] + argv,
        capture_output=True, text=True, timeout=60,
    )
    assert r.returncode == 2 and frag in r.stderr, (argv, r.stderr[-300:])
