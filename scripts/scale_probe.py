#!/usr/bin/env python
"""Scale probe: time one operator family on a small input and on the same
input grown N-fold, in one session, and check its answers at both sizes.

    python scripts/scale_probe.py --target {queries,dupline,spandedup,semdedup} [--replicate N]

Each case of the target runs at 1x and at Nx (default 10x). Each size is one
warm pass, then the minimum of two timed passes. Both sizes share the session,
so a contended window inflates both walls of a ratio together. The script
prints one JSON line (per case: both walls, their ratio and the checked
values) and exits 1 if a check fails.

Targets:
  queries    registry queries over SPARK_GRAFT_SF_DIR (default: the committed
             sf0.01 tables) and over N salted replicas of its documents and
             orders. Every token of replica k becomes r<k>_<token>, so the
             n-gram and vocabulary key space grows N-fold, not only the
             per-key counts; order and customer keys are offset per replica.
             Checks: the Nx plans of q_quality_gate and q_decontaminate keep
             their broadcast joins and hash aggregates.
  dupline    duplicate_line_stats over 20k docs with three boilerplate lines
             at 95% incidence. Checks: removed lines and documents.
  spandedup  duplicate_span_stats (k=8) over 10k docs with one 16-token span
             at 95% incidence. Checks: removed tokens.
  semdedup   semantic_dedup, KMeans fit included, over 2k 64-d vectors with
             5% planted near-duplicates; k scaled to ~125-vector cells, and k
             fixed at 16 (the per-cell quadratic term). Checks: one verdict
             per row, and no row but a planted one collapses.

Spark runs on perfbench's session: local[nproc], driver heap at most 1 GiB.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.session import SessionFactory, machine  # noqa: E402

SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(REPO, "perfbench", "data", "sf0.01")
)

QUERIES = (
    "q_sketch_accuracy", "q_chunk_dedup", "q_dup_ngrams", "q_lm_quality",
    "q_minhash_lsh", "q_training_mix", "q_quality_gate", "q_decontaminate",
)

#: queries whose Nx plan must keep its shape: (must contain, must not)
PLAN_CHECKS = {
    # the weights join stays a broadcast (its vocabulary is bounded by
    # training) and the per-doc reduce stays a map-side-combined
    # HashAggregate
    "q_quality_gate": (("BroadcastHashJoin",), ("SortAggregate",)),
    # the benchmark side stays a broadcast however large the corpus grows
    "q_decontaminate": (("BroadcastHashJoin",), ("CartesianProduct",)),
}


def timed(run):
    """One warm pass, then the minimum wall of two timed passes; returns the
    wall and the last pass's result."""
    run()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        result = run()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2), result


def _materialize(df, name):
    """Write a generated input to parquet and read it back: the timed passes
    then measure the operator, not the generator, and the planner sizes the
    input from its files as it would a real corpus. A checkpointed generator
    keeps the generator's estimate of a few bytes per string, and the planner
    then broadcasts a 10x gram table of several hundred MB."""
    path = os.path.join(REPO, "_bench_data", "scale_probe", name)
    df.repartition(df.sparkSession.sparkContext.defaultParallelism).write.mode(
        "overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def replicate_tables(spark, n: int) -> str:
    """Write n salted replicas of SF_DIR's documents and orders once."""
    from pyspark.sql import functions as F

    out = os.path.join(REPO, "_bench_data", "scale_probe",
                       f"{os.path.basename(SF_DIR.rstrip('/'))}_x{n}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    # (table, column to salt, key columns to offset by k * step; a step of
    # None is the table's row count)
    for table, key, offsets in (
        ("documents", "text", {"doc_id": None}),
        ("orders", None, {"o_orderkey": None, "o_custkey": 1_000_000}),
    ):
        src = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        rows = src.count()
        parts = []
        for k in range(n):
            cols = {c: F.col(c) + k * (step or rows) for c, step in offsets.items()}
            if key is not None:
                cols[key] = F.regexp_replace(F.col(key), r"(^|\s)(\S)", rf"$1r{k}_$2")
            parts.append(src.select(
                *[cols[c].alias(c) if c in cols else F.col(c) for c in src.columns]))
        big = parts[0]
        for p in parts[1:]:
            big = big.unionByName(p)
        big.repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite").parquet(f"{out}/{table}.parquet")
    with open(marker, "w") as f:
        f.write("ok")
    return out


def target_queries(spark):
    from action_pdf_accessibility_paddle_docker_spark.plans.queries import (
        REGISTRY,
        _quality_gate_scored,
    )

    def tables(scale):
        return SF_DIR if scale == 1 else replicate_tables(spark, scale)

    # q_quality_gate's registry row localCheckpoints its scoring frame, and a
    # checkpoint hides the subplan from executedPlan(); check the scoring
    # frame itself, string carry columns included, because their GROUP BY
    # membership is what could demote the aggregate
    plan_frames = {"q_quality_gate": _quality_gate_scored}

    def case(name):
        fn, _sql = REGISTRY[name]

        def prepare(scale):
            return lambda: fn(spark, tables(scale)).write.format("noop").mode(
                "overwrite").save()

        def check(scale, _result):
            if name not in PLAN_CHECKS or scale == 1:
                return {}
            must, must_not = PLAN_CHECKS[name]
            plan = (plan_frames.get(name, fn)(spark, tables(scale))
                    ._jdf.queryExecution().executedPlan().toString())
            ok = all(m in plan for m in must) and not any(m in plan for m in must_not)
            return {"plan_ok": (ok, ok)}

        return name, prepare, check

    return [case(name) for name in QUERIES]


def target_dupline(spark):
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        duplicate_line_stats,
    )

    def prepare(scale):
        d = F.col("id")
        # three hot boilerplate lines, line k missing from docs with d % 20 == k
        boilers = [
            F.when(d % 20 != k, F.lit(
                f"hot boilerplate banner number {k} repeats across almost every page\n"
            )).otherwise(F.lit(""))
            for k in range(3)
        ]
        text = F.concat(
            *boilers,
            F.lit("unique body line for document number "), d.cast("string"),
            F.lit(" with a calm steady tone.\nsecond unique line for document "),
            d.cast("string"), F.lit(" wraps it up cleanly."),
        )
        docs = _materialize(spark.range(20_000 * scale).select(
            d.alias("doc_id"), text.alias("text")), f"dupline_{scale}x")
        return lambda: duplicate_line_stats(docs).agg(
            F.sum("n_dup_removed").alias("removed"),
            F.count(F.lit(1)).alias("docs"),
        ).first()

    def check(scale, row):
        n = 20_000 * scale
        removed, docs = row["removed"], row["docs"]
        # every holder of a boilerplate line but its first loses it
        return {"removed": (removed, removed == 3 * (n - n // 20 - 1)),
                "docs": (docs, docs == n)}

    return [("duplicate_line_stats", prepare, check)]


def target_spandedup(spark):
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        duplicate_span_stats,
    )

    hot = ("the shared press release paragraph that nearly every mirror site "
           "republishes verbatim in full each week")  # 16 tokens

    def prepare(scale):
        d = F.col("id")
        # 44 doc-unique tokens whose grams never collide; 95% of docs lead
        # with the hot span
        uniq = F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(44)),
            lambda j: F.concat(F.lit("w"), d.cast("string"), F.lit("x"),
                               j.cast("string")),
        ))
        text = F.when(d % 20 != 0, F.concat_ws(" ", F.lit(hot), uniq)).otherwise(uniq)
        docs = _materialize(spark.range(10_000 * scale).select(
            d.alias("doc_id"), text.alias("text")), f"spandedup_{scale}x")
        return lambda: duplicate_span_stats(docs, k=8).agg(
            F.sum("n_removed_tokens").alias("removed"),
            F.count(F.lit(1)).alias("docs"),
        ).first()

    def check(scale, row):
        n, removed = 10_000 * scale, row["removed"]
        # every hot-span holder but the corpus-first one loses 16 tokens
        return {"removed": (removed, removed == (n - n // 20 - 1) * 16)}

    return [("duplicate_span_stats", prepare, check)]


def target_semdedup(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators.similarity import (
        semantic_dedup,
    )

    def embeddings(n):
        """Gaussian 64-d vectors; every 20th row after the first is a tiny
        perturbation of an earlier row."""
        rng = np.random.default_rng(11)
        base = rng.standard_normal((n, 64))
        for i in range(20, n, 20):
            base[i] = base[int(rng.integers(0, i))] + 0.01 * rng.standard_normal(64)
        return _materialize(spark.createDataFrame(
            [(i, base[i].tolist()) for i in range(n)],
            "vec_id long, embedding array<double>"), f"semdedup_{n}")

    def case(name, clusters):
        def prepare(scale):
            vecs = embeddings(2_000 * scale)
            k = clusters(2_000 * scale)
            return lambda: semantic_dedup(vecs, threshold=0.9, n_clusters=k).agg(
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(F.col("rep_id") != F.col("vec_id"), 1)).alias("collapsed"),
            ).first()

        def check(scale, row):
            n, rows, collapsed = 2_000 * scale, row["rows"], row["collapsed"]
            # only planted rows may collapse; a planted pair split across two
            # cells is the documented recall miss, so fewer is not a failure
            return {"rows": (rows, rows == n),
                    "collapsed": (collapsed, collapsed <= (n - 1) // 20)}

        return name, prepare, check

    return [case("scaled_k", lambda n: max(8, n // 125)),
            case("fixed_k", lambda n: 16)]


TARGETS = {
    "queries": target_queries,
    "dupline": target_dupline,
    "spandedup": target_spandedup,
    "semdedup": target_semdedup,
}


def probe(cases, replicate: int) -> tuple[dict, list[str]]:
    out, failed = {}, []
    for name, prepare, check in cases:
        walls, checks = {}, {}
        for scale in (1, replicate):
            walls[scale], result = timed(prepare(scale))
            for key, (value, ok) in check(scale, result).items():
                checks[f"{key}@{scale}x"] = value
                if not ok:
                    failed.append(f"{name} {key}@{scale}x = {value}")
        out[name] = {"small_s": walls[1], "large_s": walls[replicate],
                     "ratio": round(walls[replicate] / walls[1], 2),
                     "checks": checks}
    return out, failed


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--target", required=True, choices=sorted(TARGETS))
    ap.add_argument("--replicate", type=int, default=10,
                    help="growth factor of the large input (default 10)")
    args = ap.parse_args()
    if args.replicate < 2:
        ap.error("--replicate must be >= 2")

    m = machine()
    factory = SessionFactory(REPO, m["nproc"], m["mem_mb"])
    spark = factory.start()
    try:
        cases, failed = probe(TARGETS[args.target](spark), args.replicate)
    finally:
        spark.stop()
    print(json.dumps({
        "target": args.target, "replicate": args.replicate,
        "cpus": m["nproc"], "driver_memory": factory.conf()["spark.driver.memory"],
        "cases": cases, "failed": failed,
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
