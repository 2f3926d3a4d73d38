"""Vectorized (numpy) per-page geometry kernels for the Spark extraction
stage. Independent implementation of the same semantics as
``oracle/kernels.py`` (scalar); tests assert equality between the two.

Reference citations (/root/reference):
  * overlap predicate: src/process_bboxes.py:1-20 (strict inequalities)
  * overlap percentages + NMS special cases: src/process_bboxes.py:94-176
  * connected components + greedy max-score NMS: src/process_bboxes.py:225-368
  * table grid lines / 2px clustering / nearest-line snap / span math:
    src/process_table.py:124-221
  * dense grid fill, row-major: src/process_table.py:85-122
  * element vs cell rounding asymmetry: src/template_json.py:233-237 vs 416-420
  * reading order sort: src/template_json.py:194
  * FNV-1a 32-bit region id: src/template_json.py:116-144
"""

from __future__ import annotations

import functools

import numpy as np

from ..config import (
    NMS_CONTAIN_HI_PCT,
    NMS_CONTAIN_LO_PCT,
    NMS_SMALL_OVERLAP_PCT,
    READING_ORDER_X_CAP,
)

# ---------------------------------------------------------------------------
# Pairwise geometry (vectorized all-pairs; page cardinality is tiny so the
# O(n^2) matrix is the idiomatic in-UDF replacement for the reference's
# nested pair loops, SURVEY.md J1/J2)
# ---------------------------------------------------------------------------


def overlap_matrix(coords: np.ndarray) -> np.ndarray:
    """Boolean (n, n) strict-inequality overlap; diag True (self-overlap)."""
    x0, y0, x1, y1 = coords[:, 0], coords[:, 1], coords[:, 2], coords[:, 3]
    sep = (
        (x1[:, None] < x0[None, :])
        | (x0[:, None] > x1[None, :])
        | (y1[:, None] < y0[None, :])
        | (y0[:, None] > y1[None, :])
    )
    return ~sep


def overlap_pct_matrix(coords: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(pct_i, pct_j): intersection area as % of box i's (row) area and of
    box j's (col) area. Zero-area boxes yield 0."""
    x0, y0, x1, y1 = coords[:, 0], coords[:, 1], coords[:, 2], coords[:, 3]
    ix = np.maximum(
        0.0, np.minimum(x1[:, None], x1[None, :]) - np.maximum(x0[:, None], x0[None, :])
    )
    iy = np.maximum(
        0.0, np.minimum(y1[:, None], y1[None, :]) - np.maximum(y0[:, None], y0[None, :])
    )
    inter = ix * iy
    area = np.maximum(0.0, x1 - x0) * np.maximum(0.0, y1 - y0)
    with np.errstate(divide="ignore", invalid="ignore"):
        pct_row = np.where(area[:, None] > 0, inter / area[:, None] * 100.0, 0.0)
    pct_col = pct_row.T
    return pct_row, pct_col


def nms_adjacency(coords: np.ndarray) -> np.ndarray:
    """Adjacency for NMS: overlapping and NOT a special case.

    Special cases (ignored overlaps): both fractions < 50. The containment
    (>95 / <75) branch only ignores for formula-inside-text, which the
    reference disables (returns False unconditionally, src/process_bboxes.py:
    189-190) -- so containment never ignores and needs no term here.
    """
    n = len(coords)
    if n == 0:
        return np.zeros((0, 0), dtype=bool)
    ov = overlap_matrix(coords)
    pr, pc = overlap_pct_matrix(coords)
    small = (pr < NMS_SMALL_OVERLAP_PCT) & (pc < NMS_SMALL_OVERLAP_PCT)
    adj = ov & ~small
    np.fill_diagonal(adj, False)
    # document the dead branch so the constants stay greppable:
    assert NMS_CONTAIN_HI_PCT > NMS_CONTAIN_LO_PCT
    return adj


def reference_groups(adj: np.ndarray) -> list[np.ndarray]:
    """Overlap groups with the reference's exact (quirky) semantics
    (src/process_bboxes.py:225-282): per-member direct-neighbour growth in
    ascending index order, then ONE forward merge pass with no fixpoint --
    so the returned boolean masks may be NON-disjoint (a later merge that
    enlarges a group does not re-check earlier-scanned groups). True
    connected components would differ on some graphs (pinned by the 6-box
    counterexample in tests/test_kernels.py)."""
    n = adj.shape[0]
    groups: list[np.ndarray] = []
    for box in np.flatnonzero(adj.any(axis=1)):
        gi = next((k for k, g in enumerate(groups) if g[box]), -1)
        mask = groups[gi] if gi >= 0 else np.zeros(n, dtype=bool)
        mask |= adj[box]
        if gi < 0:
            groups.append(mask)
    dropped = np.zeros(len(groups), dtype=bool)
    unique: list[np.ndarray] = []
    for i1 in range(len(groups)):
        if dropped[i1]:
            continue
        g1 = groups[i1].copy()
        for i2 in range(i1 + 1, len(groups)):
            if not dropped[i2] and (g1 & groups[i2]).any():
                g1 |= groups[i2]
                dropped[i2] = True
        unique.append(g1)
    return unique


def nms_keep_mask(coords: np.ndarray, scores: np.ndarray) -> np.ndarray:
    """Greedy max-score NMS per overlap group; ties break to the smallest
    index (matches the reference's set-iteration argmax in practice).
    Groups come from ``reference_groups`` and may be non-disjoint, so
    removals union across groups (a box kept in one group can be removed via
    another -- reference behavior, src/process_bboxes.py:304-333).
    Returns a boolean keep mask preserving input order."""
    n = len(coords)
    if n < 2:
        return np.ones(n, dtype=bool)
    adj = nms_adjacency(coords)
    scores = np.asarray(scores, dtype=np.float64)
    removed = np.zeros(n, dtype=bool)
    for gmask in reference_groups(adj):
        pending = gmask.copy()
        while pending.any():
            masked = np.where(pending, scores, -np.inf)
            best = int(np.argmax(masked))  # first max -> smallest index
            pending[best] = False
            neighbours = adj[best] & pending
            removed |= neighbours
            pending &= ~neighbours
    return ~removed


# ---------------------------------------------------------------------------
# Table grid (vectorized)
# ---------------------------------------------------------------------------


def _grid_lines(edges: np.ndarray) -> np.ndarray:
    """Round -> dedup -> sort -> drop lines within 2px of their sorted
    predecessor (predecessor advances even when dropped, matching
    src/process_table.py:166-186; with deduped input the two formulations
    coincide)."""
    lines = np.unique(np.round(edges).astype(np.int64))
    if lines.size == 0:
        return lines
    keep = np.empty(lines.size, dtype=bool)
    keep[0] = (lines[0] - (-10)) > 2
    keep[1:] = np.diff(lines) > 2
    return lines[keep]


def _nearest_index(targets: np.ndarray, lines: np.ndarray) -> np.ndarray:
    """argmin |lines - t| per target, first win on ties
    (src/process_table.py:210-221)."""
    return np.abs(lines[None, :] - targets[:, None]).argmin(axis=1)


def table_grid_np(
    cell_coords: np.ndarray, cell_texts: list[str], table_coordinate: np.ndarray
) -> dict:
    """Vectorized equivalent of the oracle's ``table_grid``; returns the same
    dict shape {rows, columns, cells:[...]}, dense row-major."""
    m = len(cell_coords)
    if m == 0:
        return {"rows": 0, "columns": 0, "cells": []}
    cc = np.asarray(cell_coords, dtype=np.float64)
    row_lines = _grid_lines(np.concatenate([cc[:, 1], cc[:, 3]]))
    col_lines = _grid_lines(np.concatenate([cc[:, 0], cc[:, 2]]))
    n_rows = int(row_lines.size) - 1
    n_cols = int(col_lines.size) - 1

    # int() truncates toward zero (reference src/process_table.py:52-57)
    r_min = _nearest_index(np.trunc(cc[:, 1]).astype(np.int64), row_lines)
    r_max = _nearest_index(np.trunc(cc[:, 3]).astype(np.int64), row_lines)
    c_min = _nearest_index(np.trunc(cc[:, 0]).astype(np.int64), col_lines)
    c_max = _nearest_index(np.trunc(cc[:, 2]).astype(np.int64), col_lines)

    tx, ty = float(table_coordinate[0]), float(table_coordinate[1])
    boxes = np.stack(
        [col_lines[c_min], row_lines[r_min], col_lines[c_max], row_lines[r_max]], axis=1
    ).astype(np.float64)
    bboxes = boxes + np.array([tx, ty, tx, ty])

    rows = (r_min + 1).astype(int)
    cols = (c_min + 1).astype(int)
    row_spans = (r_max - r_min).astype(int)
    col_spans = (c_max - c_min).astype(int)

    # dense grid, last-writer-wins on collisions (src/process_table.py:115-119)
    grid: dict[tuple[int, int], int] = {}
    for i in range(m):
        if 1 <= rows[i] <= n_rows and 1 <= cols[i] <= n_cols:
            grid[(int(rows[i]), int(cols[i]))] = i

    cells: list[dict] = []
    for r in range(1, n_rows + 1):
        for c in range(1, n_cols + 1):
            i = grid.get((r, c))
            if i is None:
                cells.append({"row": r, "column": c, "row_span": 0, "column_span": 0})
            else:
                cells.append(
                    {
                        "row": int(rows[i]),
                        "column": int(cols[i]),
                        "row_span": int(row_spans[i]),
                        "column_span": int(col_spans[i]),
                        "box": boxes[i].tolist(),
                        "bbox": bboxes[i].tolist(),
                        "text": cell_texts[i] if cell_texts else "",
                    }
                )
    return {"rows": n_rows, "columns": n_cols, "cells": cells}


# ---------------------------------------------------------------------------
# Coordinate transforms (vectorized)
# ---------------------------------------------------------------------------


def element_bboxes_to_page(coords: np.ndarray, page_h_px: float, zoom: float) -> np.ndarray:
    """Outward rounding (floor mins / ceil maxes) then device->page with
    y-flip; returns (n, 4) [left, bottom, right, top] page points."""
    if len(coords) == 0:
        return np.zeros((0, 4), dtype=np.float64)
    left = np.floor(coords[:, 0])
    top = np.floor(coords[:, 1])
    right = np.ceil(coords[:, 2])
    bottom = np.ceil(coords[:, 3])
    return np.stack(
        [left / zoom, (page_h_px - bottom) / zoom, right / zoom, (page_h_px - top) / zoom],
        axis=1,
    )


def cell_bbox_to_page_np(bbox: list[float], page_h_px: float, zoom: float) -> list[float]:
    """Inward rounding (ceil mins / floor maxes) then device->page."""
    left = np.ceil(bbox[0])
    top = np.ceil(bbox[1])
    right = np.floor(bbox[2])
    bottom = np.floor(bbox[3])
    return [
        float(left / zoom),
        float((page_h_px - bottom) / zoom),
        float(right / zoom),
        float((page_h_px - top) / zoom),
    ]


# ---------------------------------------------------------------------------
# Reading order (vectorized, stable)
# ---------------------------------------------------------------------------


def reading_order_np(page_bboxes: np.ndarray) -> np.ndarray:
    """Stable sort indices: DESC by (top, 1000.0 - left); equivalent to the
    reference's ``sorted(key=(top, 1000 - left), reverse=True)`` which is
    stable for fully-equal keys."""
    if len(page_bboxes) == 0:
        return np.zeros(0, dtype=np.int64)
    top = page_bboxes[:, 3].astype(np.float64)
    left = page_bboxes[:, 0].astype(np.float64)
    return np.lexsort((-(READING_ORDER_X_CAP - left), -top))


# ---------------------------------------------------------------------------
# FNV-1a 32-bit (byte-loop; id strings are ~15 chars so this is not hot)
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=131072)
def fnv1a32(s: str) -> int:
    """Pure byte-loop hash; id strings repeat heavily (HTML ordinals, shared
    layout coordinates), so a bounded per-worker cache skips ~half the
    loops at zero semantic risk."""
    h = 0x811C9DC5
    for ch in s.encode("ascii"):
        h = ((h ^ ch) * 0x1000193) & 0xFFFFFFFF
    return h


def region_id(page_number: int, type_code: int, coordinate) -> int:
    c = coordinate
    # single %-format: ~1.16x over building the id string incrementally
    # (hot: one call per surviving box per page)
    return fnv1a32(
        "%d%d%d%d%d%d"
        % (page_number, type_code, int(c[0]), int(c[1]), int(c[2]), int(c[3]))
    )
