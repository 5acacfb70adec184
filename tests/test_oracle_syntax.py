"""Every registered oracle must be valid DuckDB SQL over the real schema.

This binds every registered oracle (285 today) with DuckDB EXPLAIN
(bind + plan, no execution) against views over the smoke-scale
parquet — pure DuckDB, no Spark session, ~seconds for the whole
catalog — so an oracle typo fails here even for a query no value
check runs."""

from __future__ import annotations

import duckdb
import pytest

from mapreducegcp_spark.registry import oracle_sqls
from mapreducegcp_spark.sources.catalog import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


@pytest.mark.parametrize("name", sorted(oracle_sqls()))
def test_oracle_binds(con, name):
    sql = oracle_sqls()[name]
    try:
        con.execute(f"EXPLAIN {sql}")
    except Exception as e:  # noqa: BLE001 — surface the binder error verbatim
        pytest.fail(f"oracle for {name!r} failed to bind: {e}")


def test_o_dsum_correctly_rounded_past_2_53(con):
    """The o_dsum string hop must survive the 2^53 boundary where
    DuckDB's NATIVE decimal->double cast double-rounds (int128 ->
    double, then /10^scale). The witness value is the real sum_charge
    total from the 100x blowup probe: both engines agree on the exact
    decimal, Python's text->float is the correctly-rounded reference,
    and the native cast lands 1 ulp off — so this test fails if anyone
    'simplifies' o_dsum back to a bare CAST. (The Spark half of the
    witness — its own cast is correctly rounded at this magnitude —
    lives in test_robustness.py, keeping this module pure DuckDB.)"""
    from mapreducegcp_spark.functions.exact import o_dsum

    witness = "282529058707.179600"  # scaled int 2.8e17 >> 2^53
    correct = float(witness)  # Python str->float is correctly rounded

    hop = con.execute(
        f"SELECT {o_dsum('x')} FROM (VALUES (CAST({witness} AS DECIMAL(18,6)))) t(x)"
    ).fetchone()[0]
    native = con.execute(
        f"SELECT CAST(SUM(x) AS DOUBLE) FROM (VALUES (CAST({witness} AS DECIMAL(18,6)))) t(x)"
    ).fetchone()[0]
    assert hop == correct
    assert native != correct  # the divergence o_dsum exists to avoid
