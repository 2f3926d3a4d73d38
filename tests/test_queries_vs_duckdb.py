"""Mimic the driver's correctness harness: run every queries() entry on Spark
at sf0.001 and compare row-count + values against the DuckDB oracle_sql()."""

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    return v


def _rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_query_matches_duckdb(spark, duck, name):
    sql = entrymod.oracle_sql()[name]
    builder = entrymod.queries()[name]

    sdf = builder(spark, SF_DIR)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.sql(sql)
    duck_cols = [c.lower() for c in rel.columns]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert len(spark_rows) == len(duck_rows), f"{name}: {len(spark_rows)} vs {len(duck_rows)}"
    a = _rows_to_set(spark_cols, spark_rows)
    b = _rows_to_set(duck_cols, duck_rows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


def test_rows_only_queries_run(spark):
    for name, builder in entrymod.queries().items():
        if name in entrymod.oracle_sql():
            continue
        df = builder(spark, SF_DIR)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


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
    a = _rows_to_set([c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()])
    b = _rows_to_set([c.lower() for c in rel.columns], rel.fetchall())
    assert len(a) == 3000
    diff = [(x, y) for x, y in zip(a, b) if x != y]
    assert not diff, f"{len(diff)} groups differ, first: {diff[:3]}"
