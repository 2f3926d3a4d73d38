"""Per-batch extraction kernel: the vectorized Spark-side implementation of
the reference's page pipeline (stub detector -> threshold filter -> table /
formula sub-pipelines -> NMS -> element conversion + formula nesting ->
reading order -> artifact strip -> text assembly).

This module is called from ``plans/extraction.py`` inside ``mapInArrow``:
Arrow batches in, Arrow batches out; geometry is numpy-vectorized per page
(operators/kernels.py). It must not import pyspark (runs in Python workers).

Reference dataflow: /root/reference/src/create_template.py:99-189 (page loop)
-> src/ai.py:51-157 -> src/process_bboxes.py -> src/process_table.py ->
src/template_json.py:75-98,146-196.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator

try:  # orjson parses the layout payloads ~2.4x faster than stdlib json
    import orjson as _orjson

    def _loads(s: str):
        try:
            return _orjson.loads(s)
        except _orjson.JSONDecodeError:
            # orjson rejects NaN/Infinity literals that stdlib accepts;
            # retry so parse semantics stay EXACTLY stdlib's (the retry only
            # costs on malformed/exotic payloads, which are rare by contract)
            return json.loads(s)

except ImportError:  # pragma: no cover - orjson is present in this image
    _loads = json.loads

import numpy as np
import pandas as pd

from ..config import (
    DEFAULT_ELEMENT_MAP,
    LABEL_ELEMENT_MAP,
    PAYLOAD_KIND_HTML,
    PAYLOAD_KIND_PDF,
    PAYLOAD_KIND_PDF_BYTES,
    PAYLOAD_KIND_TEXT,
    PDE_CELL,
    PDE_TABLE,
    PDE_TEXT,
    PDE_TYPE_CODE,
    PDF_PAYLOAD_SENTINEL,
    classify_payload,
    effective_thresholds,
)
from ..functions.mathml import latex_to_mathml
from . import kernels as VK
from .detector import StubDetector
from .html_extract import extract_html

# Region row layout (tuple order must match REGION_DDL in plans/extraction.py).
# Regions travel as PLAIN TUPLES in this order, not dicts: pyarrow converts
# tuples into struct arrays positionally, and at ~10 region rows per turn the
# dict-per-region representation dominated kernel allocation (17 keys hashed
# and stored per region, per turn, per batch -- measurable memory-bandwidth
# pressure in the 32-thread regime).
REGION_COLUMNS = (
    "page", "ordinal", "label", "score", "bbox", "tag", "flags", "rtype",
    "heading", "text", "reading_rank", "region_id", "parent_region_id",
    "row_num", "col_num", "row_span", "col_span",
)


def _region(
    page: int, ordinal: int, label: str, score: float, bbox: list[float],
    tag: str | None, flags: str, rtype: str, heading: str | None, text: str,
    reading_rank: int, region_id: int, parent_region_id: int | None,
    row_num: int | None, col_num: int | None,
    row_span: int | None = None, col_span: int | None = None,
) -> tuple:
    return (
        page, ordinal, label, score, bbox, tag, flags, rtype, heading, text,
        reading_rank, region_id, parent_region_id, row_num, col_num,
        row_span, col_span,
    )


def region_as_dict(region: tuple) -> dict[str, Any]:
    """Named view of a region tuple (template builder / tests)."""
    return dict(zip(REGION_COLUMNS, region))


def _convert_box(
    idx: int,
    page_number: int,
    labels: list[str],
    scores: np.ndarray,
    coords: np.ndarray,
    page_bboxes: np.ndarray,
    texts: list[str],
    customs: list[Any],
    page_h_px: float,
    zoom: float,
    formulas: list[tuple[int, str]],
) -> dict[str, Any]:
    """Element conversion for one surviving box (src/template_json.py:219-382)."""
    label = labels[idx]
    spec = LABEL_ELEMENT_MAP.get(label, DEFAULT_ELEMENT_MAP)
    pb = page_bboxes[idx].tolist()
    flag = spec["flag"] or ""
    if label == "number":
        hf = "footer" if pb[3] < page_h_px / 2 else "header"
        flag = flag.replace("{hf}", hf)
    rtype = spec["type"] or PDE_TEXT
    rid = VK.region_id(page_number, PDE_TYPE_CODE[rtype], coords[idx])
    el: dict[str, Any] = {
        "label": label,
        "score": float(scores[idx]),
        "bbox": pb,
        "tag": spec["tag"],
        "flags": flag,
        "rtype": rtype,
        "heading": spec["heading"],
        "text": texts[idx] or "",
        "region_id": rid,
        "row_num": None,
        "col_num": None,
        "cells": None,
        "nested": [],
    }
    custom = customs[idx]
    if label == "formula" and custom is not None:
        formulas.append((rid, custom))
    if label == "table" and custom is not None:
        el["cells"] = custom["cells"]
        el["row_num"] = custom["rows"]
        el["col_num"] = custom["columns"]
    return el


def extract_pdf_turn(
    text: str,
    thresholds: dict[int, float],
    process_table: bool = True,
    process_formula: bool = True,
    detector=None,
    payload: dict | None = None,
    planned: list | None = None,
) -> dict[str, Any]:
    """Extract one PDF-shaped turn with vectorized kernels.

    detector: a Detector (operators/detector.py); defaults to the
    deterministic StubDetector. Production injects the per-worker PaddleX
    singleton via make_extraction_kernel.
    payload: pre-parsed payload dict; planned: its pages' plan from
    plan_pages (extract_series parses and plans a whole chunk and passes
    both through). Without a plan the turn plans its own pages; with one
    the detector is not called."""
    if payload is None:
        payload = _loads(text[len(PDF_PAYLOAD_SENTINEL):])
    zoom = float(payload.get("zoom", 2.0))
    page_h_px = float(payload.get("page_h", 1584))
    pages = payload.get("pages", [])
    if planned is None:
        det = detector if detector is not None else StubDetector(thresholds)
        planned = plan_pages(det, [pages], process_table, process_formula)[0]
    return extract_pages(pages, planned, zoom, page_h_px)


def extract_pages(
    pages,
    planned: list,
    zoom: float,
    page_h_px: float,
) -> dict[str, Any]:
    """The page pipeline over a list of page dicts and their plan (see
    plan_pages: per page, its boxes and per box the raw cells or LaTeX) --
    the shared core behind BOTH entry points: structured %LAYOUT1% payloads
    (extract_pdf_turn) and rasterized raw-PDF pages
    (PaddleXDetector.detect_pdf_bytes, where each page dict carries an
    ``image`` ndarray and a per-page ``page_h``). Calls no detector."""
    all_regions: list[tuple] = []
    formulas: list[tuple[int, str]] = []
    page_texts: list[str] = []
    n_artifacts = 0
    ordinal = 0

    for page_idx, page in enumerate(pages):
        page_number = int(page["page"])
        ph = float(page.get("page_h", page_h_px))
        # detected boxes (threshold pushdown happened detector-side, P1)
        boxes, raws = planned[page_idx]
        if not boxes:
            page_texts.append("")
            continue
        labels = [str(b["label"]).lower() for b in boxes]
        scores = np.array([float(b["score"]) for b in boxes], dtype=np.float64)
        coords = np.array([b["coordinate"] for b in boxes], dtype=np.float64)
        texts = [b.get("text", "") or "" for b in boxes]

        # table / formula sub-pipelines -> "custom" payloads from the
        # planned M2-M4 answers (the stub reads cells/latex from the payload,
        # PaddleXDetector runs table-cls -> cell-det / PP-FormulaNet on
        # region crops; reference: src/ai.py:108-148, custom computed BEFORE
        # NMS). A raw is set only on table/formula boxes that were asked for.
        customs: list[Any] = [None] * len(boxes)
        for k, raw in enumerate(raws):
            if raw is None:
                continue
            if labels[k] == "table":
                cc = np.array([c["coordinate"] for c in raw], dtype=np.float64)
                ct = [c.get("text", "") or "" for c in raw]
                customs[k] = VK.table_grid_np(cc, ct, coords[k])
            else:
                mathml = latex_to_mathml(raw)
                if mathml != "":
                    customs[k] = mathml

        # NMS (J1/J2/A2/A3)
        if len(coords):
            nms_keep = VK.nms_keep_mask(coords, scores)
            sel = np.nonzero(nms_keep)[0]
            labels = [labels[i] for i in sel]
            scores = scores[sel]
            coords = coords[sel]
            texts = [texts[i] for i in sel]
            customs = [customs[i] for i in sel]

        n = len(labels)
        page_bboxes = VK.element_bboxes_to_page(coords, ph, zoom)

        # nesting overlap pass on survivors (src/template_json.py:165-191);
        # the reference skips "self" by full-content dict equality, so
        # identical-content duplicates are mutually skipped
        elements: list[dict[str, Any]] = []
        if n:
            ov = VK.overlap_matrix(coords)

            def same_content(i: int, j: int) -> bool:
                return (
                    labels[i] == labels[j]
                    and scores[i] == scores[j]
                    and bool(np.all(coords[i] == coords[j]))
                    and texts[i] == texts[j]
                    and customs[i] == customs[j]
                )

            is_text = np.array([lbl == "text" for lbl in labels])
            is_formula = np.array([lbl == "formula" for lbl in labels])
            for i in range(n):
                neigh = np.nonzero(ov[i])[0]
                neigh = [j for j in neigh if j != i and not same_content(i, j)]
                if is_formula[i] and any(is_text[j] for j in neigh):
                    continue  # re-emitted nested under the text element
                el = _convert_box(
                    i, page_number, labels, scores, coords, page_bboxes,
                    texts, customs, ph, zoom, formulas,
                )
                if is_text[i]:
                    f_over = [j for j in neigh if is_formula[j]]
                    el["nested"] = [
                        _convert_box(
                            j, page_number, labels, scores, coords, page_bboxes,
                            texts, customs, ph, zoom, formulas,
                        )
                        for j in f_over
                    ]
                elements.append(el)

        # W1 reading order (stable)
        if elements:
            eb = np.array([e["bbox"] for e in elements], dtype=np.float64)
            elements = [elements[i] for i in VK.reading_order_np(eb)]
        for rank, el in enumerate(elements, start=1):
            el["reading_rank"] = rank

        # text assembly + region flattening
        contributions: list[str] = []
        for el in elements:
            is_artifact = "artifact" in el["flags"]
            if is_artifact:
                n_artifacts += 1
            elif el["rtype"] == PDE_TEXT:
                if el["text"]:
                    contributions.append(el["text"])
            elif el["rtype"] == PDE_TABLE and el["cells"] is not None:
                ncols = el["col_num"] or 0
                if ncols > 0:
                    cells = el["cells"]
                    rows = [
                        "\t".join(c.get("text", "") or "" for c in cells[r0:r0 + ncols])
                        for r0 in range(0, len(cells), ncols)
                    ]
                    tbl_text = "\n".join(rows)
                    if tbl_text.strip():
                        contributions.append(tbl_text)

            all_regions.append(
                _region(
                    page_number, ordinal, el["label"], el["score"], el["bbox"],
                    el["tag"], el["flags"], el["rtype"], el["heading"], el["text"],
                    el["reading_rank"], el["region_id"], None,
                    el["row_num"], el["col_num"],
                )
            )
            ordinal += 1
            for nested in el["nested"]:
                all_regions.append(
                    _region(
                        page_number, ordinal, nested["label"], nested["score"],
                        nested["bbox"], nested["tag"], nested["flags"], nested["rtype"],
                        nested["heading"], nested["text"], 0, nested["region_id"],
                        el["region_id"], None, None,
                    )
                )
                ordinal += 1
            if el["rtype"] == PDE_TABLE and el["cells"]:
                for c in el["cells"]:
                    cell_bbox = (
                        VK.cell_bbox_to_page_np(c["bbox"], ph, zoom)
                        if "bbox" in c
                        else [0.0, 0.0, 0.0, 0.0]
                    )
                    all_regions.append(
                        _region(
                            page_number, ordinal, "cell", el["score"], cell_bbox,
                            None, "", PDE_CELL, None, c.get("text", "") or "", 0,
                            VK.region_id(page_number, PDE_TYPE_CODE[PDE_CELL],
                                         c.get("bbox", [0, 0, 0, 0])),
                            el["region_id"], c["row"], c["column"],
                            c.get("row_span", 0), c.get("column_span", 0),
                        )
                    )
                    ordinal += 1

        page_texts.append("\n".join(contributions))

    return {
        "payload_kind": PAYLOAD_KIND_PDF,
        "zoom": zoom,
        "extracted_text": "\n".join(t for t in page_texts if t),
        "regions": all_regions,
        "mathml": formulas,  # (region_id, mathml) tuples, struct-encoded positionally
        "n_artifacts": n_artifacts,
        "n_pages": len(pages),
    }


def extract_html_turn(text: str) -> dict[str, Any]:
    extracted, blocks = extract_html(text)
    regions = []
    for b in blocks:
        flags = b["flags"]
        regions.append(
            _region(
                1, b["ordinal"], b["label"], 1.0, [0.0, 0.0, 0.0, 0.0],
                None, flags, PDE_TEXT, b["heading"], b["text"],
                0, VK.region_id(1, PDE_TYPE_CODE[PDE_TEXT], [b["ordinal"], 0, 0, 0]),
                None, None, None,
            )
        )
    return {
        "payload_kind": PAYLOAD_KIND_HTML,
        "zoom": 2.0,
        "extracted_text": extracted,
        "regions": regions,
        "mathml": [],
        "n_artifacts": sum(1 for b in blocks if not b["kept"]),
        "n_pages": 1,
    }


def extract_text_value(text: str | None) -> dict[str, Any]:
    return {
        "payload_kind": PAYLOAD_KIND_TEXT,
        "zoom": 2.0,
        "extracted_text": (text or "").strip(),
        "regions": [],
        "mathml": [],
        "n_artifacts": 0,
        "n_pages": 0,
    }


def plan_pages(
    det, page_lists: list, process_table: bool, process_formula: bool,
) -> list[list]:
    """Batch-level inference planning over ``page_lists`` (the ``pages``
    list of each PDF turn): M1 over EVERY dict page in one ``detect_pages``
    call, then M2-M3 over every table box and M4 over every formula box in
    one call each. For the stub this reorganizes the same cheap dict reads;
    for PaddleXDetector it is the difference between ``batch_size=1``
    page-at-a-time and one model invocation per batch -- inference is ~80%
    of the reference's wall time (src/constants.py:7-9).

    Returns one plan per page list, matched by position: per page,
    ``(boxes, raws)`` with ``raws[k]`` the raw cells (table) or LaTeX
    (formula) of ``boxes[k]``, None when not asked for or not found; a
    non-dict page plans to None (extract_pages rejects it before reading
    its plan)."""
    pages = [p for pl in page_lists for p in pl if isinstance(p, dict)]
    boxes_per_page = det.detect_pages(pages) if pages else []
    raws_per_page = [[None] * len(boxes) for boxes in boxes_per_page]
    tables: list[tuple] = []
    formulas: list[tuple] = []
    for page, boxes, raws in zip(pages, boxes_per_page, raws_per_page):
        for k, b in enumerate(boxes):
            lbl = str(b["label"]).lower()
            if lbl == "table" and process_table:
                tables.append((page, b, raws, k))
            elif lbl == "formula" and process_formula:
                formulas.append((page, b, raws, k))
    for reqs, hook in ((tables, det.table_cells_many),
                       (formulas, det.formula_latex_many)):
        if reqs:
            answers = hook([(page, b) for page, b, _, _ in reqs])
            for (_, _, raws, k), raw in zip(reqs, answers):
                raws[k] = raw
    planned = iter(zip(boxes_per_page, raws_per_page))
    return [
        [next(planned) if isinstance(p, dict) else None for p in pl]
        for pl in page_lists
    ]


def extract_series(
    texts: pd.Series,
    thresholds: dict[int, float] | None = None,
    process_table: bool = True,
    process_formula: bool = True,
    detector=None,
) -> Iterator[dict[str, Any]]:
    """Extract a pandas Series of turn payloads (one Arrow batch column).

    Two-phase: (1) parse the structured-PDF payloads of a CHUNK of the
    batch and run BATCHED inference over all its pages/regions
    (plan_pages); (2) run the per-turn geometry pipeline (extract_pages)
    on each turn's slice of that plan, then drop the chunk before planning
    the next one. Stub and production detectors share this path; only the
    batch hooks differ. If planning a chunk raises, each PDF turn of the
    chunk plans its own pages inside its own try, so one malformed turn is
    one error row.

    Chunking bounds worker memory: planning the WHOLE Arrow batch at once
    pins every parsed page (incl. decoded page rasters on the production
    path) for up to arrow maxRecordsPerBatch rows simultaneously; with
    MB-scale rasters that OOMs a Python worker. PLAN_CHUNK_PAGES caps the
    pages pinned at any moment while keeping inference batched (one predict
    per model per chunk, not per turn); paddlex deployments with very large
    page rasters can lower it via SPARK_GRAFT_PLAN_CHUNK_PAGES."""
    th = thresholds if thresholds is not None else effective_thresholds()
    det = detector if detector is not None else StubDetector(th)

    items: list[tuple] = []
    page_lists: list[list] = []
    n_pages = 0
    for text in texts:
        if text is not None and text.startswith(PDF_PAYLOAD_SENTINEL):
            # Malformed payload -> error column, never a task failure: a
            # structurally bad payload (3-element coordinate -> IndexError,
            # non-list pages -> AttributeError, ...) must degrade to an
            # error row, so catch Exception, not a narrow tuple.
            try:
                payload = _loads(text[len(PDF_PAYLOAD_SENTINEL):])
            except Exception as e:  # noqa: BLE001
                items.append((PDF_ERR, text, e))
            else:
                items.append((PDF, text, payload))
                pl = payload.get("pages", []) if isinstance(payload, dict) else []
                pl = pl if isinstance(pl, list) else []
                page_lists.append(pl)
                n_pages += sum(1 for p in pl if isinstance(p, dict))
        else:
            items.append((OTHER, text, None))
        if n_pages >= PLAN_CHUNK_PAGES:
            yield from _extract_chunk(
                items, page_lists, det, th, process_table, process_formula,
            )
            items, page_lists, n_pages = [], [], 0

    yield from _extract_chunk(
        items, page_lists, det, th, process_table, process_formula,
    )


PDF, PDF_ERR, OTHER = 0, 1, 2

# Max structured-PDF pages planned (and therefore pinned in memory,
# together with their inference results) per planner pass.
PLAN_CHUNK_PAGES = int(os.environ.get("SPARK_GRAFT_PLAN_CHUNK_PAGES", "512"))


def _extract_chunk(
    items: list[tuple],
    page_lists: list[list],
    det,
    th: dict[int, float],
    process_table: bool,
    process_formula: bool,
) -> Iterator[dict[str, Any]]:
    """Plan one chunk's pages, then emit its turns in input order."""
    try:
        plans = iter(plan_pages(det, page_lists, process_table, process_formula))
    except Exception:  # noqa: BLE001 -- each PDF turn then plans its own pages
        plans = None

    for tag, text, data in items:
        if tag == PDF:
            planned = next(plans) if plans is not None else None
            try:
                yield extract_pdf_turn(
                    text, th, process_table, process_formula, det,
                    payload=data, planned=planned,
                )
            except Exception as e:  # noqa: BLE001 -- per-turn error contract
                bad = extract_text_value(text)
                bad["error"] = f"pdf-payload-parse: {type(e).__name__}: {e}"
                yield bad
            continue
        if tag == PDF_ERR:
            bad = extract_text_value(text)
            bad["error"] = f"pdf-payload-parse: {type(data).__name__}: {data}"
            yield bad
            continue
        kind = classify_payload(text)
        if kind == PAYLOAD_KIND_HTML:
            yield extract_html_turn(text)
        elif kind == PAYLOAD_KIND_PDF_BYTES:
            # Real PDF bytes need the production rasterize + layout-model
            # path; without it, surface an explicit error instead of
            # passing raw bytes through as "extracted text".
            if hasattr(det, "detect_pdf_bytes"):
                try:
                    yield det.detect_pdf_bytes(  # production seam
                        text, process_table=process_table,
                        process_formula=process_formula,
                    )
                except Exception as e:  # noqa: BLE001
                    bad = extract_text_value("")
                    bad["payload_kind"] = PAYLOAD_KIND_PDF_BYTES
                    bad["error"] = f"pdf-bytes-decode: {type(e).__name__}: {e}"
                    yield bad
            else:
                bad = extract_text_value("")
                bad["payload_kind"] = PAYLOAD_KIND_PDF_BYTES
                bad["error"] = "pdf-bytes-unsupported-without-paddlex"
                yield bad
        else:
            yield extract_text_value(text)
