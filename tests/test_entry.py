"""Mini-driver: run every __spark_entry__ query against its DuckDB oracle
(same comparison shape the external driver uses: row count + column names +
order-insensitive values)."""

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["documents", "events"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        return int(v)
    return str(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["doc_id", "pred", "values"]


def test_oracle_keys_subset():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    # every query has a full DuckDB oracle (the md5-derived hash family made
    # the LSH pipelines portable)
    assert set(q) == set(o)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_query_vs_oracle(spark, duck, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns

    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        assert len(srows) >= 0  # rows-only check (matches driver behavior)
        return

    res = duck.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()

    assert sorted(scols) == sorted(ocols), (scols, ocols)
    assert len(srows) == len(orows), f"{name}: {len(srows)} spark vs {len(orows)} duckdb"
    sset = _rowset(scols, [tuple(r[c] for c in scols) for r in srows])
    oset = _rowset(ocols, orows)
    if sset != oset:
        diff_s = [r for r in sset if r not in oset][:5]
        diff_o = [r for r in oset if r not in sset][:5]
        raise AssertionError(f"{name}: value mismatch\nspark-only={diff_s}\nduck-only={diff_o}")
