"""The north-rule correctness gate: Spark pipeline output must equal the
pure-Python oracle PER TURN (text, regions, mathml), under stable
(conv_id, turn_idx) ordering, identically at different parallelism."""

from collections import Counter

import pytest

from action_pdf_accessibility_paddle_docker_spark.oracle.compare import (
    engine_view,
    oracle_view,
)
from action_pdf_accessibility_paddle_docker_spark.oracle.extract import extract_turn
from action_pdf_accessibility_paddle_docker_spark.plans.extraction import (
    build_extraction,
)
from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import iter_rows

N_CONVS = 40
MEDIAN_TURNS = 6


@pytest.fixture(scope="module")
def transcripts(spark):
    rows = list(iter_rows(N_CONVS, MEDIAN_TURNS, seed=42))
    return spark.createDataFrame(rows).cache(), rows


def test_per_turn_text_equality_vs_oracle(spark, transcripts):
    df, rows = transcripts
    out = build_extraction(df).collect()
    assert len(out) == len(rows)

    oracle = {(r["conv_id"], r["turn_idx"]): extract_turn(r["text"]) for r in rows}
    # stable total ordering
    keys = [(r["conv_id"], r["turn_idx"]) for r in out]
    assert keys == sorted(keys)

    for row in out:
        key = (row["conv_id"], row["turn_idx"])
        assert engine_view(row) == oracle_view(oracle[key]), key
    # the fixture mix must actually exercise both branches
    kinds = Counter(row["payload_kind"] for row in out)
    assert kinds["pdf"] > 50 and kinds["html"] > 50


def test_output_identical_under_different_parallelism(spark, transcripts):
    df, _ = transcripts
    a = build_extraction(df.repartition(2)).collect()
    b = build_extraction(df.repartition(17), salt=8).collect()

    def key(rows):
        return [(r["conv_id"], r["turn_idx"], engine_view(r)) for r in rows]

    assert key(a) == key(b)


def test_entry_contract_schema(spark, transcripts):
    df, _ = transcripts
    out = build_extraction(df)
    names = out.schema.fieldNames()
    for col in ("conv_id", "turn_idx", "extracted_text", "regions", "mathml",
                "payload_kind", "n_regions", "part_id"):
        assert col in names


def test_observe_counters(spark, transcripts):
    from pyspark.sql import Observation

    df, rows = transcripts
    obs = Observation("extract")
    out = build_extraction(df, observation=obs, order_output=False)
    out.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["turns"] == len(rows)
    assert got["errors"] == 0
    assert got["regions"] > 0


def test_plan_is_single_map_stage_plus_range_sort(spark, transcripts):
    """The map phase must not shuffle: physical plan has exactly one exchange
    (the final range repartition) when salt is off."""
    df, _ = transcripts
    plan = build_extraction(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
