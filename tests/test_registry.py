"""Smoke + oracle-parity tests for the query registry (the driver's
correctness gate, reproduced locally at sf0.001 for speed)."""

from __future__ import annotations

import duckdb
import pytest

from covsonar_spark.registry import REGISTRY

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return con


def canon(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        "\x1f".join(repr(r[i]) if isinstance(r[i], float) else str(r[i]) for i in idx)
        for r in rows
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, oracle, name):
    fn, sql = REGISTRY[name]
    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        assert srows is not None  # smoke only
        return
    res = oracle.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert canon(srows, sdf.columns) == canon(orows, ocols)


def test_clear_run_memos_empties_nrows_cache():
    from covsonar_spark import registry

    registry._NROWS_CACHE[("x.parquet", ())] = 1
    registry.clear_run_memos()
    assert not registry._NROWS_CACHE
