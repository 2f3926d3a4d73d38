"""What "equal to the oracle" means, decided once for the DuckDB-checked
queries and for per-turn extraction.

Queries: a Spark result equals its DuckDB SQL when both have the same column
names (any case, any order) and the same rows as a multiset after
``normalize``, so a missing row and a duplicated row both count.

Extraction: ``engine_view`` (a Spark output Row or a kernel dict from
``operators.payload``) and ``oracle_view`` (an ``extract.extract_turn``
result) reduce one turn to ``(payload_kind, extracted_text, n_artifacts,
mathml, regions)``; the turn is correct when the two views are equal.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Any

from ..operators.payload import region_as_dict
from .extract import flatten_regions

# the test tables every registered query reads (``<sf_dir>/<table>.parquet``)
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def connect(sf_dir: str):
    """A DuckDB connection with one view per ``TABLES`` entry over ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(v: Any) -> Any:
    """One result value, as compared: floats to 6 places (NaN as "nan"),
    dates and timestamps as full ISO strings, lists as tuples of normalized
    elements; everything else, ints included, as it is."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def row_multiset(cols: list[str], rows: list) -> Counter:
    """Rows as a multiset of normalized tuples, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return Counter(tuple(normalize(r[i]) for i in order) for r in rows)


def rows_diff(got_cols: list[str], got_rows: list,
              want_cols: list[str], want_rows: list) -> str | None:
    """None when the two results are equal, else what differs."""
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    got, want = row_multiset(got_cols, got_rows), row_multiset(want_cols, want_rows)
    if got == want:
        return None
    missing, extra = want - got, got - want
    return (f"{sum(missing.values())} rows missing, first {list(missing)[:3]}; "
            f"{sum(extra.values())} extra, first {list(extra)[:3]}")


def _region_key(d: dict[str, Any]) -> tuple:
    # every region column but ordinal and the cell spans; score to 9
    # places, bbox to 6
    return (d["page"], d["label"], round(float(d["score"]), 9),
            tuple(round(float(b), 6) for b in d["bbox"]), d["tag"], d["flags"],
            d["rtype"], d["heading"], d["text"], d["reading_rank"],
            d["region_id"], d["parent_region_id"], d["row_num"], d["col_num"])


def flatten_region_rows(regions) -> list[tuple]:
    """Engine region rows (Spark Rows, kernel tuples or dicts) as compared."""
    return [_region_key(r.asDict() if hasattr(r, "asDict")
                        else region_as_dict(r) if isinstance(r, tuple) else r)
            for r in regions]


def flatten_oracle_regions(res: dict[str, Any]) -> list[tuple]:
    """An ``extract_turn`` result's regions, flattened to engine rows, as compared."""
    return [_region_key(d) for d in flatten_regions(res)]


def engine_view(row) -> tuple:
    """One engine output turn (Spark Row or kernel dict) as compared."""
    return (row["payload_kind"], row["extracted_text"], row["n_artifacts"],
            [tuple(m) for m in row["mathml"]], flatten_region_rows(row["regions"]))


def oracle_view(res: dict[str, Any]) -> tuple:
    """One ``extract_turn`` result as compared."""
    return (res["payload_kind"], res["extracted_text"], res["n_artifacts"],
            [tuple(m) for m in res["mathml"]], flatten_oracle_regions(res))
