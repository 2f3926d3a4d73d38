"""P3 stage gating (process_table / process_formula) and mega-payload
robustness."""

import json
from datetime import datetime

import pytest

from action_pdf_accessibility_paddle_docker_spark.config import PDF_PAYLOAD_SENTINEL
from action_pdf_accessibility_paddle_docker_spark.oracle.compare import (
    engine_view,
    oracle_view,
)
from action_pdf_accessibility_paddle_docker_spark.oracle.extract import extract_turn
from action_pdf_accessibility_paddle_docker_spark.plans.extraction import build_extraction

PAYLOAD = PDF_PAYLOAD_SENTINEL + json.dumps({
    "kind": "pdf", "zoom": 2.0, "page_w": 1224, "page_h": 1584,
    "pages": [{"page": 1, "boxes": [
        {"label": "table", "score": 0.9, "coordinate": [100, 100, 600, 400],
         "cells": [{"coordinate": [0, 0, 250, 150], "text": "a"},
                   {"coordinate": [250, 0, 500, 150], "text": "b"},
                   {"coordinate": [0, 150, 500, 300], "text": "c"}]},
        {"label": "formula", "score": 0.8, "coordinate": [100, 500, 600, 600],
         "latex": "a+b"},
    ]}],
})


def test_process_table_gate_off():
    on = extract_turn(PAYLOAD, process_table=True)
    off = extract_turn(PAYLOAD, process_table=False)
    assert any(r["label"] == "cell" or (r["cells"] or []) for r in on["regions"])
    tbl_off = [r for r in off["regions"] if r["label"] == "table"]
    assert tbl_off and tbl_off[0]["cells"] is None
    assert "a\tb" in on["extracted_text"]
    assert "a\tb" not in off["extracted_text"]


def test_process_formula_gate_off():
    on = extract_turn(PAYLOAD, process_formula=True)
    off = extract_turn(PAYLOAD, process_formula=False)
    assert len(on["mathml"]) == 1
    assert off["mathml"] == []


def test_gates_match_between_oracle_and_spark(spark):
    from action_pdf_accessibility_paddle_docker_spark.operators.payload import extract_series
    import pandas as pd

    for pt in (True, False):
        for pf in (True, False):
            exp = extract_turn(PAYLOAD, process_table=pt, process_formula=pf)
            got = next(iter(extract_series(pd.Series([PAYLOAD]), None, pt, pf)))
            assert engine_view(got) == oracle_view(exp), (pt, pf)


def test_mega_payload_survives(spark):
    # one turn with a ~6 MB payload (600 pages): must extract, not OOM,
    # and match the oracle
    pages = []
    for p in range(1, 601):
        pages.append({"page": p, "boxes": [
            {"label": "doc_title", "score": 0.9, "coordinate": [100, 40, 1100, 110],
             "text": f"title {p}"},
            {"label": "text", "score": 0.8, "coordinate": [100, 140, 1100, 400],
             "text": ("word " * 120).strip()},
            {"label": "header", "score": 0.7, "coordinate": [100, 5, 1100, 30],
             "text": "hdr"},
        ]})
    payload = PDF_PAYLOAD_SENTINEL + json.dumps(
        {"kind": "pdf", "zoom": 2.0, "page_w": 1224, "page_h": 1584, "pages": pages})
    assert len(payload) > 500_000

    ts = datetime(2026, 1, 1)
    df = spark.createDataFrame(
        [("c1", 0, "user", payload, "", ts), ("c1", 1, "user", "tiny turn", "", ts)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = {r["turn_idx"]: r for r in build_extraction(df).collect()}
    assert engine_view(rows[0]) == oracle_view(extract_turn(payload))
    assert rows[0]["n_pages"] == 600
    assert rows[1]["extracted_text"] == "tiny turn"


def test_raw_pdf_bytes_yield_explicit_error(spark):
    """Real PDF bytes (no structured payload) must surface
    error='pdf-bytes-unsupported-without-paddlex', not silently pass
    through as plain text (classify_payload routes on the %PDF- magic)."""
    from action_pdf_accessibility_paddle_docker_spark.config import (
        PAYLOAD_KIND_PDF_BYTES,
        classify_payload,
    )
    from action_pdf_accessibility_paddle_docker_spark.plans.extraction import (
        build_extraction,
    )

    assert classify_payload("%PDF-1.7\nxref...") == PAYLOAD_KIND_PDF_BYTES
    assert classify_payload("plain text") == "text"

    import datetime

    df = spark.createDataFrame(
        [("c", 0, "user", "%PDF-1.7 binary soup", "", datetime.datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    row = build_extraction(df, order_output=False).collect()[0]
    assert row["payload_kind"] == PAYLOAD_KIND_PDF_BYTES
    assert row["error"] == "pdf-bytes-unsupported-without-paddlex"
    assert row["extracted_text"] == ""


def test_planner_chunking_is_value_neutral(monkeypatch):
    """extract_series plans structured pages in PLAN_CHUNK_PAGES batches to
    bound worker memory (round-4 advice item); chunk boundaries must not
    change a single output value or the input order. Force a tiny chunk so
    several flushes fire mid-batch, interleaved with non-PDF rows, and
    compare against the unchunked pass."""
    import pandas as pd

    from action_pdf_accessibility_paddle_docker_spark.operators import payload as P
    from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import (
        iter_rows,
    )

    texts = pd.Series([row["text"] for row in iter_rows(8, 5, seed=11)])
    # sanity: the mix really interleaves pdf / html / text payloads
    kinds = {P.classify_payload(t) for t in texts}
    assert "pdf" in kinds and len(kinds) >= 2

    unchunked = list(P.extract_series(texts))
    monkeypatch.setattr(P, "PLAN_CHUNK_PAGES", 2)
    chunked = list(P.extract_series(texts))
    assert len(chunked) == len(texts)
    for a, b in zip(unchunked, chunked):
        assert a == b


def test_planner_chunking_bounds_pinned_pages():
    """The PLAN_CHUNK_PAGES memory claim itself (round-4 verdict item 6 --
    the value-neutrality test above proves chunking changes nothing, this
    one proves it actually BOUNDS what is pinned): an instrumented
    detector records the page count of every detect_pages call, which is
    exactly the set of pages (and, on the production path, their rasters
    and inference results) alive in the planner at that moment. With
    chunk=C and payloads of at most P pages each, every call must carry
    <= C + P - 1 pages (the planner flushes after the turn that crosses
    C; a single turn's pages are indivisible), the calls must partition
    the batch (no page planned or pinned twice), and a multi-payload
    batch must actually split into several chunks."""
    import json

    import pandas as pd

    from action_pdf_accessibility_paddle_docker_spark.config import (
        PDF_PAYLOAD_SENTINEL,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators import payload as P
    from action_pdf_accessibility_paddle_docker_spark.operators.detector import (
        StubDetector,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators.payload import (
        effective_thresholds,
    )

    class RecordingDetector(StubDetector):
        def __init__(self, th):
            super().__init__(th)
            self.page_calls: list[int] = []

        def detect_pages(self, pages):
            self.page_calls.append(len(pages))
            return super().detect_pages(pages)

    def payload(n_pages):
        return PDF_PAYLOAD_SENTINEL + json.dumps({
            "pages": [
                {"width": 1200, "height": 1600, "boxes": [
                    {"label": "text", "score": 0.9,
                     "coordinate": [100, 100, 800, 200],
                     "text": f"page {p} body"},
                ]}
                for p in range(n_pages)
            ]
        })

    P_MAX = 3
    # interleave 1..3-page payloads with non-PDF rows (never flushed, never
    # pinned) -- 24 structured pages total
    texts = pd.Series([
        payload(1), "plain text row", payload(3), payload(2), "<html><body>"
        "<p>html row</p></body></html>", payload(3), payload(1), payload(3),
        payload(2), "another plain row", payload(3), payload(3), payload(3),
    ])
    total_pages = 1 + 3 + 2 + 3 + 1 + 3 + 2 + 3 + 3 + 3
    chunk = 4
    old = P.PLAN_CHUNK_PAGES
    P.PLAN_CHUNK_PAGES = chunk
    try:
        det = RecordingDetector(effective_thresholds())
        rows = list(P.extract_series(texts, detector=det))
    finally:
        P.PLAN_CHUNK_PAGES = old
    assert len(rows) == len(texts)
    assert len(det.page_calls) >= 3  # genuinely chunked, not one big plan
    assert sum(det.page_calls) == total_pages  # partition: nothing pinned twice
    assert max(det.page_calls) <= chunk + P_MAX - 1, det.page_calls


def test_failed_chunk_plan_retries_each_turn():
    """When planning a chunk raises (a malformed turn's box has no score or
    no label), every PDF turn of that chunk plans its own pages: the
    well-formed turns still equal the oracle, and each malformed turn is
    one error row."""
    import pandas as pd

    from action_pdf_accessibility_paddle_docker_spark.config import (
        PAYLOAD_KIND_PDF,
        classify_payload,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators import payload as P
    from action_pdf_accessibility_paddle_docker_spark.operators.detector import (
        StubDetector,
    )
    from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import (
        iter_rows,
    )

    good = [r["text"] for r in iter_rows(12, 5, seed=5)
            if classify_payload(r["text"]) == PAYLOAD_KIND_PDF][:6]
    assert len(good) == 6

    def bad(box):
        return PDF_PAYLOAD_SENTINEL + json.dumps(
            {"pages": [{"page": 1, "boxes": [box]}]})

    malformed = [
        bad({"label": "text", "score": None, "coordinate": [0, 0, 9, 9]}),
        bad({"score": 0.9, "coordinate": [0, 0, 9, 9]}),
    ]
    texts = [good[0], malformed[0], good[1], good[2], malformed[1]] + good[3:]
    det = StubDetector(P.effective_thresholds())
    page_lists = [json.loads(t[len(PDF_PAYLOAD_SENTINEL):])["pages"] for t in texts]
    assert sum(len(pl) for pl in page_lists) < P.PLAN_CHUNK_PAGES  # one chunk
    with pytest.raises((TypeError, KeyError)):
        P.plan_pages(det, page_lists, True, True)

    rows = list(P.extract_series(pd.Series(texts), detector=det))
    assert len(rows) == len(texts)
    for text, row in zip(texts, rows):
        if text in malformed:
            assert row["error"].startswith("pdf-payload-parse:"), row["error"]
            continue
        exp = extract_turn(text)
        assert row.get("error") is None
        assert engine_view(row) == oracle_view(exp)
        assert row["n_pages"] == exp["n_pages"]
