"""corpus_job's stage table: every stage x mode combination either runs or
is refused by the library entry point itself (not only by argparse), the
module docstring states the table's modes, and a crashed-then-resumed
resumable run's committed lineage reconciles with its output."""

import argparse
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import jobs.corpus_job as CJ

GOOD = (
    "the quick brown fox jumps over the lazy dog and keeps going today.\n"
    "a second line of perfectly ordinary content follows right behind it.\n"
    "the third line wraps the document up with a clean terminal stop."
)
RUNNERS = {
    "batch": CJ.run_pipeline,
    "resumable": CJ.run_pipeline_resumable,
    "streaming": CJ.run_pipeline_streaming,
}


@pytest.fixture(scope="module")
def fx(spark, tmp_path_factory):
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        dedup as D,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        quality_clf as QC,
    )
    from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
        StateStore,
    )

    root = tmp_path_factory.mktemp("stage_table")
    rows = [
        dict(doc_id=i, text=GOOD + f"\nunique tail number {i} ends cleanly.",
             source=f"s{i % 2}", url=f"https://site{i % 3}.org/p{i}",
             embedding=[float(i % 2), 1.0])
        for i in range(6)
    ]
    rows.append(dict(doc_id=6, text=rows[1]["text"], source="s0",
                     url="https://blocked.com/x", embedding=[1.0, 1.0]))
    (root / "in").mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(root / "in" / "p.parquet"))
    (root / "blocked.txt").write_text("blocked.com\n")
    pq.write_table(
        pa.Table.from_pylist([dict(doc_id=900, text="unique tail number 4 ends cleanly")]),
        str(root / "bench.parquet"),
    )
    QC.save_classifier(
        spark.createDataFrame([("unique", 2.0)], "term string, weight double"),
        -0.5, str(root / "clf"),
    )
    # committed neardup state for the streaming probe
    StateStore(
        spark, str(root / "state" / "neardup"), CJ.STAGE_TABLE["neardup"].state,
        ("fixture", "fixture"),
    ).commit(D.minhash_band_buckets(
        spark.createDataFrame([(1, rows[2]["text"])], "doc_id long, text string")
    ), partition_by=("band",))
    return root


def _ns(fx, out, **kw):
    base = dict(
        input=str(fx / "in"), output=str(out), id_col="doc_id",
        text_col="text", url_col="url", min_kept_lines=2, line_min_chars=30,
        linededup_unit="line", span_k=8, rate=["s1=0.5"], default_rate=1.0,
        stratum_col="source", cap_per_source=2,
        blocked_domains=str(fx / "blocked.txt"), clf_weights=str(fx / "clf"),
        clf_threshold=0.5, benchmark=str(fx / "bench.parquet"),
        semdedup_clusters=2, buckets=3, ts_col="ts",
        dedup_horizon="30 minutes", checkpoint=str(out) + "_ck",
    )
    base.update(kw)
    return argparse.Namespace(**base)


@pytest.mark.parametrize("mode", CJ.MODES)
@pytest.mark.parametrize("stage", CJ.STAGES)
def test_stage_mode_runs_or_is_refused(spark, fx, tmp_path, stage, mode):
    kw = {}
    if stage == "neardup" and mode == "streaming":
        kw["state"] = str(fx / "state")  # the read-only corpus probe
    ns = _ns(fx, tmp_path / "out", **kw)
    if mode in CJ.STAGE_TABLE[stage].refuse:
        with pytest.raises(SystemExit, match=rf"not \w+: {stage} \("):
            RUNNERS[mode](spark, ns, [stage])
        return
    res = RUNNERS[mode](spark, ns, [stage])
    assert res["stages"] == [stage]
    data = tmp_path / "out" / ("data" if mode == "resumable" else "")
    n_out = res["output"] if mode == "resumable" else res["counters"]["output"]
    assert spark.read.parquet(str(data)).count() == n_out
    if mode == "batch" and CJ.STAGE_TABLE[stage].observe:
        assert res["counters"][f"after_{stage}"] == n_out


def test_resumable_stages_follow_the_table():
    assert CJ.RESUMABLE_STAGES == (
        "urlfilter", "clean", "pii", "gate", "classify", "dedup", "split",
        "sample",
    )


def test_docstring_states_the_table_modes():
    stated = dict(re.findall(
        r"^  (\w+) .*?^ +modes: ([\w, ]+)$", CJ.__doc__, re.M | re.S
    ))
    assert list(stated) == list(CJ.STAGES)
    for name, modes in stated.items():
        want = [m for m in CJ.MODES if m not in CJ.STAGE_TABLE[name].refuse]
        assert modes.split(", ") == want, name


def test_resumable_lineage_reconciles_after_crash(spark, tmp_path):
    """Crash a resumable run, resume it: the committed per-bucket row
    counters sum to the output row count (never a silent 0), and a bucket
    whose rows were all dropped commits a record with 0 rows."""
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
        completed_buckets,
        read_lineage,
    )

    n_buckets = 4
    ids = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(n_buckets))
        .cast("int").alias("b"),
    ).collect()
    # every doc of bucket 0 fails the gate; the others pass it
    rows = [
        dict(doc_id=r["doc_id"], source="web",
             text=("tiny.\nnope" if r["b"] == 0
                   else GOOD + f"\nunique tail {r['doc_id']} ends here."))
        for r in ids
    ]
    assert {r["b"] for r in ids} == set(range(n_buckets))
    src = tmp_path / "in"
    src.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), str(src / "p.parquet"))
    root = tmp_path / "res"
    ns = argparse.Namespace(
        input=str(src), output=str(root), id_col="doc_id", text_col="text",
        buckets=n_buckets, bucket_batch=1, fail_after_batches=2,
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        CJ.run_pipeline_resumable(spark, ns, ["gate", "split"])
    assert completed_buckets(str(root), spark) == {0, 1}
    ns.fail_after_batches = None
    res = CJ.run_pipeline_resumable(spark, ns, ["gate", "split"])
    assert res["resumed_buckets"] == 2 and res["ran_buckets"] == 2
    recs = read_lineage(str(root), spark)
    assert set(recs) == set(range(n_buckets))
    assert recs[0]["counters"] == {"rows": 0, "min_id": None, "max_id": None}
    n_in = {b: sum(r["b"] == b for r in ids) for b in range(n_buckets)}
    for b in range(1, n_buckets):
        assert recs[b]["counters"]["rows"] == n_in[b]
    assert sum(r["counters"]["rows"] for r in recs.values()) == res["output"]
    assert res["output"] == len(ids) - n_in[0] > 0
