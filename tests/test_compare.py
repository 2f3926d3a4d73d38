"""The oracle comparator itself (``oracle.compare``): equal results pass,
and each single mutation of one side is reported as unequal. No Spark
session: Spark rows are built as plain ``pyspark.sql.Row``s."""

import datetime

import pandas as pd
import pytest
from pyspark.sql import Row

from action_pdf_accessibility_paddle_docker_spark.operators.payload import (
    extract_series,
    region_as_dict,
)
from action_pdf_accessibility_paddle_docker_spark.oracle.compare import (
    engine_view,
    oracle_view,
    rows_diff,
)
from action_pdf_accessibility_paddle_docker_spark.oracle.extract import extract_turn

from tests.test_gating_and_bigpayload import PAYLOAD

COLS = ["k", "x", "ts", "tags"]
ROWS = [
    (1, 0.5, datetime.datetime(2026, 1, 2, 3, 4, 5), ["a", "b"]),
    (2, float("nan"), datetime.datetime(2026, 1, 2, 3, 4, 5, 6), []),
    (2, 1.25, None, ["c"]),
]


def test_rows_equal_in_any_row_and_column_order():
    # DuckDB-side: other column order and case, rows reversed, float noise
    # below the 6th place
    want_cols = ["TAGS", "ts", "x", "k"]
    want = [(t, ts, x + 1e-9 if x == x else x, k) for k, x, ts, t in reversed(ROWS)]
    assert rows_diff(COLS, ROWS, want_cols, want) is None


@pytest.mark.parametrize("mutate", [
    pytest.param(lambda rows: [(1, 0.51) + rows[0][2:]] + rows[1:], id="changed-value"),
    pytest.param(lambda rows: [rows[0][:3] + (["a"],)] + rows[1:], id="changed-list"),
    pytest.param(lambda rows: [rows[0][:2] + (datetime.datetime(2026, 1, 2, 3, 4, 5, 1),)
                               + rows[0][3:]] + rows[1:], id="changed-microsecond"),
    pytest.param(lambda rows: rows[1:], id="dropped-row"),
    pytest.param(lambda rows: rows + rows[:1], id="duplicated-row"),
    pytest.param(lambda rows: rows[:2] + rows[:1], id="duplicate-replaces-row"),
])
def test_rows_mutation_is_reported(mutate):
    diff = rows_diff(COLS, mutate(list(ROWS)), COLS, ROWS)
    assert diff is not None and "missing" in diff


def test_rows_column_mismatch_is_reported():
    assert rows_diff(COLS, ROWS, ["k", "x", "ts", "labels"], ROWS).startswith("columns")


def _kernel(text):
    return next(iter(extract_series(pd.Series([text]))))


def _as_spark_row(res):
    """The kernel dict in the shape ``collect()`` returns it."""
    return Row(
        payload_kind=res["payload_kind"],
        extracted_text=res["extracted_text"],
        n_artifacts=res["n_artifacts"],
        mathml=[Row(region_id=i, mathml=m) for i, m in res["mathml"]],
        regions=[Row(**region_as_dict(r)) for r in res["regions"]],
    )


HTML = "<html><body><nav>menu</nav><h1>Title</h1><p>body text</p></body></html>"


@pytest.mark.parametrize("text", [PAYLOAD, HTML, "plain words"], ids=["pdf", "html", "text"])
def test_engine_forms_equal_the_oracle(text):
    exp = oracle_view(extract_turn(text))
    got = _kernel(text)
    assert got["regions"] or text == "plain words"  # not vacuous for pdf/html
    assert engine_view(got) == exp
    assert engine_view(_as_spark_row(got)) == exp


def _with_region(res, i, **changes):
    regions = list(res["regions"])
    regions[i] = tuple((region_as_dict(regions[i]) | changes).values())
    return res | {"regions": regions}


@pytest.mark.parametrize("text,mutate", [
    pytest.param(PAYLOAD, lambda r: r | {"extracted_text": r["extracted_text"] + " "},
                 id="pdf-extracted_text"),
    pytest.param(PAYLOAD, lambda r: _with_region(r, 0, text="other"), id="pdf-region-text"),
    pytest.param(PAYLOAD, lambda r: _with_region(r, -1, row_num=9), id="pdf-region-row_num"),
    pytest.param(PAYLOAD, lambda r: r | {"regions": r["regions"][:-1]}, id="pdf-region-dropped"),
    pytest.param(PAYLOAD, lambda r: r | {"payload_kind": "html"}, id="pdf-payload_kind"),
    pytest.param(PAYLOAD, lambda r: r | {"mathml": []}, id="pdf-mathml"),
    pytest.param(PAYLOAD, lambda r: r | {"n_artifacts": r["n_artifacts"] + 1},
                 id="pdf-n_artifacts"),
    pytest.param(HTML, lambda r: _with_region(r, 0, flags=""), id="html-region-flags"),
    pytest.param(HTML, lambda r: _with_region(r, 0, heading=None), id="html-region-heading"),
    pytest.param(HTML, lambda r: r | {"payload_kind": "text"}, id="html-payload_kind"),
])
def test_view_mutation_is_reported(text, mutate):
    got = _kernel(text)
    exp = oracle_view(extract_turn(text))
    assert engine_view(got) == exp
    assert engine_view(mutate(got)) != exp
    assert engine_view(_as_spark_row(mutate(got))) != exp
