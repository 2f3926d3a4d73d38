"""Deterministic synthetic transcripts table (FIXTURES.md section 1-2).

Schema (authoritative, BASELINE.json input_hint):
    conv_id string, turn_idx int32, role string, text string, tool string,
    ts timestamp

Payload mix in ``text``:
  * plain text (pass-through extraction),
  * PDF-shaped layout payloads: ``%LAYOUT1%`` + JSON with pages/boxes in the
    exact shape PaddleX emits (label/score/coordinate,
    /root/reference/src/ai.py:79-153), engineered to hit the NMS 50/95/75
    rules (/root/reference/src/process_bboxes.py:107-119), transitive overlap
    chains, tables with merged + missing cells, and formula-over-text nesting,
  * HTML documents with header/nav/footer/aside boilerplate and an
    <article> main content block.

Every row is generated independently from a stable per-(seed, conv, turn)
CRC32-derived substream so generation parallelizes and is reproducible with
no wall-clock dependence. Conversation lengths are zipf-ish skewed: conv
ordinal 0 owns ~50x the median turns (exercises salting).
"""

from __future__ import annotations

import json
import random
import zlib
from datetime import datetime, timedelta, timezone

from ..config import PDF_PAYLOAD_SENTINEL

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)

_VOCAB = (
    "data spark table row column value batch stream filter join window group "
    "order sort hash merge scan query plan shuffle partition skew salt arrow "
    "vector kernel page region layout title caption figure formula cell span "
    "header footer body article content extract text document turn agent tool"
).split()

_ROLES = ("user", "assistant", "tool", "system")
_TOOLS = ("search", "browser", "python", "bash", "")

PAGE_W, PAGE_H, ZOOM = 1224, 1584, 2.0


def _rng(seed: int, conv: int, turn: int) -> random.Random:
    key = f"{seed}:{conv}:{turn}".encode()
    return random.Random(zlib.crc32(key) ^ (seed << 17) ^ (conv * 1_000_003 + turn))


def _words(r: random.Random, n: int) -> str:
    return " ".join(r.choice(_VOCAB) for _ in range(n))


def turns_for_conv(conv: int, n_convs: int, median_turns: int) -> int:
    """Zipf-ish skew: conv 0 gets ~50x median, next few get ~8x, rest 1-2x."""
    if conv == 0:
        return median_turns * 75  # ~50x the realized median (uniform 0.5-2x)
    if conv < max(2, n_convs // 100):
        return median_turns * 8
    r = random.Random(zlib.crc32(f"len:{conv}".encode()))
    return max(1, int(median_turns * (0.5 + 1.5 * r.random())))


# ---------------------------------------------------------------------------
# PDF-shaped payload
# ---------------------------------------------------------------------------

def _box(label: str, score: float, coord: list[float], text: str | None = None, **extra) -> dict:
    b: dict = {"label": label, "score": round(score, 4), "coordinate": [round(c, 2) for c in coord]}
    if text is not None:
        b["text"] = text
    b.update(extra)
    return b


def _make_table_cells(r: random.Random, tw: float, th: float) -> list[dict]:
    """Cell boxes in crop-local coordinates (the cell detector runs on the
    cropped table image, /root/reference/src/ai.py:114). Includes a merged
    (spanning) cell and a missing cell; +-1px jitter on shared edges
    exercises the 2px line clustering (/root/reference/src/process_table.py:
    166-186)."""
    nrows = r.randint(2, 4)
    ncols = r.randint(2, 4)
    row_edges = [round(i * th / nrows) for i in range(nrows + 1)]
    col_edges = [round(j * tw / ncols) for j in range(ncols + 1)]
    cells: list[dict] = []
    merged = (r.randrange(nrows), r.randrange(max(1, ncols - 1)))  # spans 2 cols
    missing = (r.randrange(nrows), r.randrange(ncols))
    for i in range(nrows):
        j = 0
        while j < ncols:
            if (i, j) == merged and j + 1 < ncols:
                span = 2
            else:
                span = 1
            if (i, j) == missing and (i, j) != merged:
                j += span
                continue
            jit = lambda: r.choice((-1, 0, 0, 1))  # noqa: E731
            x0 = col_edges[j] + jit()
            x1 = col_edges[min(j + span, ncols)] + jit()
            y0 = row_edges[i] + jit()
            y1 = row_edges[i + 1] + jit()
            cells.append(
                {
                    "coordinate": [float(x0), float(y0), float(x1), float(y1)],
                    "text": _words(r, r.randint(1, 3)),
                }
            )
            j += span
    return cells


def _pdf_payload(r: random.Random) -> str:
    n_pages = 1 if r.random() < 0.8 else 2
    pages = []
    for p in range(1, n_pages + 1):
        boxes: list[dict] = []
        y = 40.0

        # header artifact (score straddles the 0.3 threshold)
        if r.random() < 0.7:
            boxes.append(_box("header", r.uniform(0.2, 0.6), [100, 5, 1100, 30], _words(r, 3)))

        # doc title
        boxes.append(_box("doc_title", r.uniform(0.55, 0.98), [100, y, 1100, y + 60], _words(r, 4)))
        y += 100

        # body rows
        for _ in range(r.randint(2, 5)):
            h = r.uniform(60, 180)
            label = r.choice(("text", "text", "text", "paragraph_title", "abstract", "reference", "footnote"))
            boxes.append(_box(label, r.uniform(0.35, 0.99), [100, y, r.uniform(700, 1150), y + h], _words(r, r.randint(6, 20))))
            y += h + r.uniform(10, 40)

        case = r.random()
        if case < 0.30:
            # duplicate-detection pair: >50% overlap -> NMS removes lower score
            boxes.append(_box("text", 0.9, [100, y, 600, y + 100], _words(r, 8)))
            boxes.append(_box("image", 0.7, [120, y + 10, 580, y + 90], None))
            y += 130
        elif case < 0.45:
            # small mutual overlap (<50% both) -> both kept
            boxes.append(_box("text", 0.8, [100, y, 500, y + 100], _words(r, 8)))
            boxes.append(_box("image", 0.75, [450, y + 60, 900, y + 260], None))
            y += 290
        elif case < 0.60:
            # transitive chain A-B-C, greedy NMS keeps A (0.95) and C
            boxes.append(_box("text", 0.95, [100, y, 500, y + 100], _words(r, 8)))
            boxes.append(_box("image", 0.6, [150, y + 10, 550, y + 90], None))
            boxes.append(_box("chart", 0.8, [420, y + 5, 900, y + 95], None))
            y += 130
        elif case < 0.75:
            # formula fully inside text (containment >95% / <75%): quirk 1 --
            # the disabled special case means NMS removes the formula when the
            # text scores higher
            boxes.append(_box("text", 0.9, [100, y, 900, y + 200], _words(r, 15)))
            boxes.append(_box("formula", 0.6, [300, y + 50, 700, y + 120], None, latex=r"E=mc^2"))
            y += 230
        else:
            # formula/text small mutual overlap -> both survive NMS -> nesting
            boxes.append(_box("text", 0.9, [100, y, 900, y + 120], _words(r, 12)))
            boxes.append(
                _box("formula", 0.75, [820, y + 100, 1100, y + 260], None,
                     latex=r.choice((r"\frac{a}{b}+c", r"x^{2}+y_{1}", r"\sqrt{z}=\alpha"))))
            y += 290

        # table
        if r.random() < 0.5:
            tw, tp_h = r.uniform(500, 880), r.uniform(200, 420)
            x0 = r.uniform(100, 200)
            boxes.append(
                _box("table", r.uniform(0.55, 0.97), [x0, y, x0 + tw, y + tp_h],
                     None, cells=_make_table_cells(r, tw, tp_h)))
            y += tp_h + 30

        # page number -> header/footer rule; occasionally x>1000 tiebreak case
        if r.random() < 0.6:
            ny = r.choice((10.0, PAGE_H - 40.0))
            boxes.append(_box("number", r.uniform(0.4, 0.9), [1050.0, ny, 1150.0, ny + 25], str(p)))
        if r.random() < 0.15:
            boxes.append(_box("text", 0.8, [1010.0, 40.0, 1200.0, 100.0], _words(r, 4)))

        # sub-threshold boxes that the stub detector must drop
        for _ in range(r.randint(0, 2)):
            lbl = r.choice(("text", "image", "seal", "chart"))
            boxes.append(_box(lbl, r.uniform(0.05, 0.28), [900, 1400, 1100, 1500], _words(r, 2)))

        r.shuffle(boxes)  # input order must not matter for final output text
        pages.append({"page": p, "boxes": boxes})

    payload = {"kind": "pdf", "zoom": ZOOM, "page_w": PAGE_W, "page_h": PAGE_H, "pages": pages}
    return PDF_PAYLOAD_SENTINEL + json.dumps(payload, separators=(",", ":"))


# ---------------------------------------------------------------------------
# HTML payload
# ---------------------------------------------------------------------------

def _html_payload(r: random.Random) -> str:
    title = _words(r, 4)
    nav_links = "".join(f'<a href="/{w}">{w}</a> ' for w in r.sample(_VOCAB, 6))
    paras = "".join(
        f"<p>{_words(r, r.randint(8, 30))}.</p>" for _ in range(r.randint(2, 6))
    )
    heading = _words(r, 3)
    aside = _words(r, 10)
    footer = f"copyright 2026 {_words(r, 2)}"
    related = "".join(f'<li><a href="/{w}">{w} {w}</a></li>' for w in r.sample(_VOCAB, 4))
    return (
        "<!DOCTYPE html><html><head><title>"
        + title
        + "</title></head><body>"
        + f"<header><div>{_words(r, 3)}</div></header>"
        + f"<nav><div>{nav_links}</div></nav>"
        + f"<article><h1>{heading}</h1>{paras}</article>"
        + f"<div><ul>{related}</ul></div>"
        + f"<aside><p>{aside}</p></aside>"
        + f"<footer><p>{footer}</p></footer>"
        + "</body></html>"
    )


# ---------------------------------------------------------------------------
# Row + table synthesis
# ---------------------------------------------------------------------------

def make_turn_text(seed: int, conv: int, turn: int) -> str:
    r = _rng(seed, conv, turn)
    p = r.random()
    if p < 0.50:
        return _words(r, r.randint(3, 40)) + ("  " if r.random() < 0.2 else "")
    if p < 0.80:
        return _pdf_payload(r)
    return _html_payload(r)


def make_row(seed: int, conv: int, turn: int) -> dict:
    r = _rng(seed, conv, turn)
    role = _ROLES[turn % 4] if r.random() < 0.5 else r.choice(_ROLES)
    tool = r.choice(_TOOLS) if role == "tool" else ""
    return {
        "conv_id": f"conv-{conv:06d}",
        "turn_idx": turn,
        "role": role,
        "text": make_turn_text(seed, conv, turn),
        "tool": tool,
        "ts": BASE_TS + timedelta(seconds=conv * 3600 + turn * 7),
    }


def iter_rows(n_convs: int, median_turns: int = 8, seed: int = 42):
    for conv in range(n_convs):
        for turn in range(turns_for_conv(conv, n_convs, median_turns)):
            yield make_row(seed, conv, turn)


def total_turns(n_convs: int, median_turns: int = 8) -> int:
    return sum(turns_for_conv(c, n_convs, median_turns) for c in range(n_convs))


def distributed_transcripts(spark, n_convs: int, median_turns: int = 8, seed: int = 42):
    """Generate the synthetic transcripts table ON THE EXECUTORS: one
    spark.range row per conversation fans out to its turn rows inside a
    mapInPandas batch. No driver-side materialization -- the generation
    parallelizes exactly like a real table scan would (each (seed, conv,
    turn) substream is independent)."""
    import pandas as pd  # noqa: F401  (executor-side import)

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for conv in pdf["id"].tolist():
                conv = int(conv)
                for turn in range(turns_for_conv(conv, n_convs, median_turns)):
                    rows.append(make_row(seed, conv, turn))
            yield pd.DataFrame(rows, columns=cols)

    par = max(1, min(spark.sparkContext.defaultParallelism, n_convs))
    return spark.range(n_convs).repartition(par).mapInPandas(gen, schema)


def write_transcripts_parquet(
    path: str, n_convs: int, median_turns: int = 8, seed: int = 42,
    rows_per_file: int = 65536, row_group_size: int = 4096,
) -> int:
    """Write the synthetic transcripts as a multi-file parquet dataset with
    small row groups so Spark gets parallel splits even from one file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    os.makedirs(path, exist_ok=True)
    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    buf: list[dict] = []
    file_idx = 0
    n = 0

    def flush() -> None:
        nonlocal buf, file_idx
        if not buf:
            return
        tbl = pa.Table.from_pylist(buf, schema=schema)
        pq.write_table(
            tbl, os.path.join(path, f"part-{file_idx:05d}.parquet"),
            row_group_size=row_group_size,
        )
        file_idx += 1
        buf = []

    for row in iter_rows(n_convs, median_turns, seed):
        buf.append(row)
        n += 1
        if len(buf) >= rows_per_file:
            flush()
    flush()
    return n
