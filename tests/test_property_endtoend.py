"""End-to-end property test: for RANDOM payloads (not just the generator's
engineered cases), the vectorized kernel must equal the oracle per turn."""

import json

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from action_pdf_accessibility_paddle_docker_spark.config import (
    CLASS_LABELS,
    PDF_PAYLOAD_SENTINEL,
)
from action_pdf_accessibility_paddle_docker_spark.operators.payload import extract_series
from action_pdf_accessibility_paddle_docker_spark.oracle.compare import (
    engine_view,
    oracle_view,
)
from action_pdf_accessibility_paddle_docker_spark.oracle.extract import extract_turn

label_st = st.sampled_from(list(CLASS_LABELS))

coord_st = st.tuples(
    st.floats(0, 1150), st.floats(0, 1500), st.floats(5, 70), st.floats(5, 80)
).map(lambda t: [round(t[0], 2), round(t[1], 2), round(t[0] + t[2], 2), round(t[1] + t[3], 2)])

cell_st = st.builds(
    lambda c, txt: {"coordinate": c, "text": txt},
    st.tuples(st.integers(0, 300), st.integers(0, 200), st.integers(5, 120), st.integers(5, 60)).map(
        lambda t: [float(t[0]), float(t[1]), float(t[0] + t[2]), float(t[1] + t[3])]
    ),
    st.text(alphabet="abcd ", max_size=5),
)


@st.composite
def box_st(draw):
    label = draw(label_st)
    box = {
        "label": label,
        "score": round(draw(st.floats(0.05, 0.99)), 4),
        "coordinate": draw(coord_st),
        "text": draw(st.text(alphabet="wxyz ", max_size=12)),
    }
    if label == "table" and draw(st.booleans()):
        box["cells"] = draw(st.lists(cell_st, min_size=1, max_size=6))
    if label == "formula" and draw(st.booleans()):
        box["latex"] = draw(st.sampled_from([r"a+b", r"x^{2}", r"\frac{p}{q}", r"\bad{cmd}"]))
    return box


payload_st = st.lists(
    st.builds(
        lambda p, boxes: {"page": p, "boxes": boxes},
        st.integers(1, 3),
        st.lists(box_st(), max_size=10),
    ),
    min_size=1,
    max_size=2,
).map(
    lambda pages: PDF_PAYLOAD_SENTINEL
    + json.dumps({"kind": "pdf", "zoom": 2.0, "page_w": 1224, "page_h": 1584, "pages": pages})
)


@settings(max_examples=120, deadline=None)
@given(payload_st)
def test_random_pdf_payload_oracle_equals_kernel(payload):
    got = next(iter(extract_series(pd.Series([payload]))))
    assert engine_view(got) == oracle_view(extract_turn(payload))


# --------------------------------------------------------------------------
# robustness fuzz: ANY payload after the sentinel -- garbage text, valid
# JSON of the wrong shape, boxes with short coordinates -- must yield an
# error row (or a clean parse), never a raised exception (the per-turn
# error contract; a task death at 100 TB is a job death)
# --------------------------------------------------------------------------

junk_json_st = st.recursive(
    st.one_of(st.none(), st.integers(), st.text(alphabet="ab{}[],:", max_size=8)),
    lambda c: st.one_of(st.lists(c, max_size=3), st.dictionaries(st.text(alphabet="abc", max_size=4), c, max_size=3)),
    max_leaves=8,
)

wrongish_payload_st = st.one_of(
    st.text(max_size=40),                                   # not JSON at all
    junk_json_st.map(json.dumps),                           # JSON, wrong shape
    st.builds(                                              # right shape, bad boxes
        lambda n, pages: json.dumps({"zoom": 2.0, "page_h": n, "pages": pages}),
        st.one_of(st.integers(-5, 5), st.text(alphabet="x", max_size=2)),
        st.lists(
            st.fixed_dictionaries(
                {"page": st.integers(-1, 2),
                 "boxes": st.lists(
                     st.fixed_dictionaries(
                         {"label": st.sampled_from(["text", "table", "zzz"]),
                          "score": st.one_of(st.floats(0, 1), st.none()),
                          "coordinate": st.lists(st.floats(0, 10), max_size=3)}
                     ),
                     max_size=3,
                 )}
            ),
            max_size=2,
        ),
    ),
)


@settings(max_examples=200, deadline=None)
@given(wrongish_payload_st)
def test_malformed_payload_yields_error_row_never_raises(junk):
    payload = PDF_PAYLOAD_SENTINEL + junk
    row = next(iter(extract_series(pd.Series([payload]))))
    # either parsed cleanly or degraded to the error row -- never an exception
    assert "extracted_text" in row and "regions" in row
    if row.get("error"):
        assert row["error"].startswith("pdf-payload-parse:")
