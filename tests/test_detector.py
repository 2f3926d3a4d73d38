"""Detector seam: stub threshold pushdown + production path contract."""

import pytest

from action_pdf_accessibility_paddle_docker_spark.config import effective_thresholds
from action_pdf_accessibility_paddle_docker_spark.operators.detector import (
    PaddleXDetector,
    StubDetector,
    get_detector,
)


def test_stub_applies_per_class_thresholds():
    det = StubDetector(effective_thresholds())
    page = {"boxes": [
        {"label": "paragraph_title", "score": 0.31, "coordinate": [0, 0, 1, 1]},  # th 0.3
        {"label": "paragraph_title", "score": 0.29, "coordinate": [0, 0, 1, 1]},
        {"label": "text", "score": 0.49, "coordinate": [0, 0, 1, 1]},             # th 0.5
        {"label": "text", "score": 0.50, "coordinate": [0, 0, 1, 1]},
        {"label": "never_heard_of", "score": 0.45, "coordinate": [0, 0, 1, 1]},   # 0.5 fallback
    ]}
    got = det.detect_page(page)
    assert [round(b["score"], 2) for b in got] == [0.31, 0.5]


def test_stub_respects_17cls_pruning():
    th = effective_thresholds(model="RT-DETR-H_layout_17cls")
    det = StubDetector(th)
    # class 18 (chart) threshold removed -> box admitted regardless of score
    page = {"boxes": [{"label": "chart", "score": 0.01, "coordinate": [0, 0, 1, 1]}]}
    assert len(det.detect_page(page)) == 1


def test_paddlex_detector_unavailable_raises_cleanly():
    with pytest.raises(NotImplementedError, match="paddlex runtime"):
        PaddleXDetector("PP-DocLayout-L", effective_thresholds(), "/models/x")


def test_stub_table_and_formula_hooks_read_payload():
    det = StubDetector(effective_thresholds())
    page = {"boxes": []}
    tbl = {"label": "table", "score": 0.9, "coordinate": [0, 0, 10, 10],
           "cells": [{"coordinate": [0, 0, 5, 5], "text": "a"}]}
    frm = {"label": "formula", "score": 0.9, "coordinate": [0, 0, 4, 4],
           "latex": r"x^{2}"}
    bare = {"label": "table", "score": 0.9, "coordinate": [0, 0, 10, 10]}
    assert det.table_cells(page, tbl) == tbl["cells"]
    assert det.formula_latex(page, frm) == r"x^{2}"
    assert det.table_cells(page, bare) is None
    assert det.formula_latex(page, bare) is None


def test_crop_region_clamps_negative_start():
    import numpy as np

    from action_pdf_accessibility_paddle_docker_spark.operators.detector import crop_region

    img = np.arange(100).reshape(10, 10)
    # bbox at the page edge: offset must clamp to 0, not wrap around
    got = crop_region(img, [0.0, 0.0, 3.0, 3.0], offset=1)
    assert got.shape == (4, 4)
    assert got[0, 0] == 0


_paddlex_missing = True
try:  # pragma: no cover - exercised only where paddlex is installed
    import paddlex  # noqa: F401

    _paddlex_missing = False
except ImportError:
    pass


@pytest.mark.skipif(_paddlex_missing, reason="paddlex runtime not installed")
def test_paddlex_detector_integration():  # pragma: no cover
    """Production-path integration: the full M1-M4 seam on a real raster.
    Runs only where the paddlex runtime + model weights are present."""
    import numpy as np
    import os

    model_root = os.environ.get("PADDLEX_MODEL_DIR", "/models")
    det = PaddleXDetector.get("PP-DocLayout-L", effective_thresholds(), model_root)
    image = np.full((320, 240, 3), 255, dtype=np.uint8)
    page = {"page": 1, "image": image}
    [boxes] = det.detect_pages([page])
    assert isinstance(boxes, list)
    tables = [(page, b) for b in boxes if b["label"] == "table"]
    formulas = [(page, b) for b in boxes if b["label"] == "formula"]
    for cells in det.table_cells_many(tables):
        assert cells is None or all("coordinate" in c for c in cells)
    for latex in det.formula_latex_many(formulas):
        assert latex is None or isinstance(latex, str)


def test_get_detector_dispatch():
    assert isinstance(get_detector(effective_thresholds(), "stub"), StubDetector)
    with pytest.raises(ValueError):
        get_detector(effective_thresholds(), "nope")
