"""Property-based tests (SURVEY.md section 5.2 item 3): the scalar oracle and
the vectorized numpy kernels must agree on random inputs, and NMS/grid
invariants must hold."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from action_pdf_accessibility_paddle_docker_spark.oracle import kernels as OK
from action_pdf_accessibility_paddle_docker_spark.operators import kernels as VK

coord_st = st.tuples(
    st.floats(0, 1200), st.floats(0, 1500), st.floats(0, 1200), st.floats(0, 1500)
).map(lambda t: [min(t[0], t[2]), min(t[1], t[3]), max(t[0], t[2]) + 1, max(t[1], t[3]) + 1])

box_st = st.builds(
    lambda c, s, l: {"label": l, "score": round(s, 4), "coordinate": c},
    coord_st,
    st.floats(0.05, 0.99),
    st.sampled_from(["text", "image", "table", "formula", "chart"]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(box_st, max_size=12))
def test_nms_oracle_equals_vectorized(boxes):
    kept_oracle = OK.process_bboxes(boxes)
    coords = np.array([b["coordinate"] for b in boxes], dtype=float).reshape(len(boxes), 4)
    scores = np.array([b["score"] for b in boxes], dtype=float)
    keep = VK.nms_keep_mask(coords, scores) if len(boxes) else np.ones(0, bool)
    kept_vec = [b for b, k in zip(boxes, keep) if k]
    assert kept_oracle == kept_vec


@settings(max_examples=200, deadline=None)
@given(st.lists(box_st, min_size=2, max_size=10))
def test_nms_output_overlap_free_modulo_special_cases(boxes):
    kept = OK.process_bboxes(boxes)
    # surviving direct-overlap pairs must all be special-cased overlaps
    for i in range(len(kept)):
        for j in range(i + 1, len(kept)):
            c1, c2 = kept[i]["coordinate"], kept[j]["coordinate"]
            if OK.bboxes_overlap(c1, c2):
                assert OK.is_special_case_of_overlap(c1, c2)


cell_st = st.builds(
    lambda c, t: {"coordinate": c, "text": t},
    coord_st.map(lambda c: [c[0] % 400, c[1] % 300, c[0] % 400 + 20, c[1] % 300 + 15]),
    st.text(alphabet="abc ", max_size=6),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(cell_st, max_size=10))
def test_table_grid_oracle_equals_vectorized(cells):
    table_coord = [100.0, 200.0, 600.0, 700.0]
    got_o = OK.table_grid(cells, table_coord)
    got_v = VK.table_grid_np(
        np.array([c["coordinate"] for c in cells], dtype=float).reshape(len(cells), 4),
        [c["text"] for c in cells],
        np.array(table_coord),
    )
    assert got_o["rows"] == got_v["rows"]
    assert got_o["columns"] == got_v["columns"]

    def norm(cs):
        return [
            (c.get("row"), c.get("column"), c.get("row_span"), c.get("column_span"),
             c.get("box"), c.get("bbox"), c.get("text", ""))
            for c in cs
        ]

    assert norm(got_o["cells"]) == norm(got_v["cells"])


@settings(max_examples=150, deadline=None)
@given(st.lists(cell_st, min_size=1, max_size=10))
def test_table_grid_dense(cells):
    got = OK.table_grid(cells, [0.0, 0.0, 600.0, 700.0])
    assert len(got["cells"]) == got["rows"] * got["columns"]
    # row-major order
    rc = [(c["row"], c["column"]) for c in got["cells"]]
    assert rc == sorted(rc)


@settings(max_examples=200, deadline=None)
@given(st.lists(coord_st, max_size=12))
def test_reading_order_is_permutation_and_matches(coords):
    els = [{"bbox": c, "i": i} for i, c in enumerate(coords)]
    got = OK.sort_reading_order(els)
    assert sorted(e["i"] for e in got) == list(range(len(coords)))
    idx = VK.reading_order_np(np.array(coords, dtype=float).reshape(len(coords), 4))
    assert [e["i"] for e in got] == idx.tolist()


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=30))
def test_fnv_impls_agree(s):
    h = 0x811C9DC5
    for ch in s:
        h = ((h ^ ord(ch)) * 0x1000193) & 0xFFFFFFFF
    assert VK.fnv1a32(s) == h


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)).filter(lambda p: p[0] != p[1]),
        max_size=30,
    )
)
def test_connected_component_labels_match_union_find(spark, edges):
    """Distributed min-label propagation == scalar union-find on random
    graphs (nodes 0..24, arbitrary edge sets incl. empty). Session-scoped
    spark fixture is safe with hypothesis (only function-scoped fixtures
    are rejected)."""
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        connected_component_labels,
    )

    n = 25

    # scalar union-find oracle
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min = {}
    for x in range(n):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    expected = {x: comp_min[find(x)] for x in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [],
        "id_a bigint, id_b bigint",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_component_labels(nodes, pairs).collect()
    }
    assert got == expected


def _cc(spark, n, edges):
    from action_pdf_accessibility_paddle_docker_spark.operators.dedup import (
        connected_component_labels,
    )

    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    return {r["doc_id"]: r["cluster_id"]
            for r in connected_component_labels(nodes, pairs).collect()}


def test_connected_components_job_count_per_round(spark):
    """Each propagation round is one Spark action: an 8-node path takes 8
    rounds (7 that move a label, 1 that observes none moving), and the
    whole call runs at most 6 jobs per round. A round that also runs a
    convergence join + count() takes ~10 (83 jobs on this graph)."""
    sc = spark.sparkContext
    sc.setJobGroup("cc-path8", "cc-path8")
    try:
        got = _cc(spark, 8, [(i, i + 1) for i in range(7)])
    finally:
        sc.setJobGroup("cc-path8-done", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("cc-path8"))
    assert got == {i: 0 for i in range(8)}
    assert jobs <= 6 * 8, jobs


def test_connected_components_empty_graph_and_isolated_nodes(spark):
    assert _cc(spark, 0, []) == {}
    assert _cc(spark, 5, []) == {i: i for i in range(5)}


def test_connected_components_reads_each_round_after_its_job(spark):
    """Labels move in round 1 (1 -> 0, 2 -> 1, 4 -> 3) and settle in round
    2 (2 -> 0). A moved-count read before its round's job ran (0) would
    stop after round 1 and leave doc 2 labeled 1."""
    assert _cc(spark, 5, [(0, 1), (1, 2), (3, 4)]) == {
        0: 0, 1: 0, 2: 0, 3: 3, 4: 3}


def test_connected_components_non_convergence_raises(spark, monkeypatch):
    """Exiting the round bound with labels still moving would split one
    component into several cluster ids: it raises instead."""
    import pytest

    from action_pdf_accessibility_paddle_docker_spark.operators import dedup

    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        _cc(spark, 5, [(i, i + 1) for i in range(4)])
