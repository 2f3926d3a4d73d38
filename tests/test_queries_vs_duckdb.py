"""Run every queries() entry on Spark at sf0.001 and sf0.01 and compare
its columns and rows with its DuckDB oracle_sql() under the one comparator
(``oracle.compare``)."""

import duckdb
import pytest

import __spark_entry__ as entrymod
from action_pdf_accessibility_paddle_docker_spark.oracle import compare

# perfbench/checks.py imports these two names from this module
from action_pdf_accessibility_paddle_docker_spark.oracle.compare import TABLES, row_multiset as _rows_to_set  # noqa: F401,E501

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def duck():
    cons = {sf: compare.connect(sf) for sf in SF_DIRS}
    yield cons
    for con in cons.values():
        con.close()


# ids: the bare query name at sf0.001 (the ids from before the sf0.01
# cases), "sf0.01-<name>" at sf0.01
@pytest.mark.parametrize("sf_dir,name", [
    pytest.param(sf, name, id=name if sf == SF_DIRS[0] else f"sf0.01-{name}")
    for sf in SF_DIRS for name in sorted(entrymod.oracle_sql())
])
def test_query_matches_duckdb(spark, duck, sf_dir, name):
    sdf = entrymod.queries()[name](spark, sf_dir)
    rel = duck[sf_dir].sql(entrymod.oracle_sql()[name])
    diff = compare.rows_diff(sdf.columns, sdf.collect(), rel.columns, rel.fetchall())
    assert diff is None, f"{name} at {sf_dir}: {diff}"


def test_every_query_is_oracle_checked_on_rows(duck):
    """Every registered query has DuckDB SQL, and returns a row at some
    tested scale, so the comparison above checks values, not only a schema."""
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())
    empty = [
        name for name, sql in sorted(entrymod.oracle_sql().items())
        if all(con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0] == 0
               for con in duck.values())
    ]
    assert not empty


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "extracted_text" in df.columns


def test_sketch_accuracy_half_cent_medians_match_duckdb(spark, tmp_path):
    """Two-row groups whose median lands on a half cent: both engines
    compute the same double, so p50_exact must round it the way the
    registry's DuckDB SQL does (the scaled double), in both directions."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(20260)
    status, cust, price = [], [], []
    for g in range(3000):
        cents = rng.randint(100, 50_000_000)
        # one customer per group: the HLL verdict is then exact, and the
        # comparison isolates the median's rounding
        for v in (cents, cents + 1):
            status.append(f"g{g:04d}")
            cust.append(g)
            price.append(v / 100)
    pq.write_table(
        pa.table({"o_orderstatus": status, "o_custkey": cust,
                  "o_totalprice": price}),
        str(tmp_path / "orders.parquet"),
    )
    sdf = entrymod.queries()["q_sketch_accuracy"](spark, str(tmp_path))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{tmp_path}/orders.parquet'")
    rel = con.sql(entrymod.oracle_sql()["q_sketch_accuracy"])
    got = sdf.collect()
    assert len(got) == 3000
    diff = compare.rows_diff(sdf.columns, got, rel.columns, rel.fetchall())
    assert diff is None, diff
