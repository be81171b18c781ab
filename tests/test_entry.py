"""Driver-contract smoke: entry/queries/oracle_sql shape invariants."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert len(df.columns) == 20
    assert df.count() > 0


def test_every_oracle_has_a_query():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


def test_queries_run_and_align_columns(spark, sf_dir):
    """Each query returns rows at sf0.001; every oracle references only
    aliased output columns (checked fully by tools/check_correctness.py —
    here we just guard the contract shape cheaply on a sample."""
    qs = entrymod.queries()
    for name in ("q_sma", "q_join_agg", "q_text_tokens"):
        df = qs[name](spark, sf_dir)
        assert df.count() > 0, name


@pytest.mark.parametrize(
    "query", ["q_degree_assort", "q_assort_minhash", "q_welch_ttest", "q_mannwhitney"]
)
@pytest.mark.parametrize("shape", ["empty", "first7"])
def test_builders_match_oracle_on_degenerate_tables(spark, degenerate_tables, shape, query):
    """An empty graph (no nodes) and a Welch / Mann-Whitney group with
    fewer than two rows on a side divide by zero.  The oracle's x / 0 is
    NULL; the builder must return the same rows, not raise ANSI
    DIVIDE_BY_ZERO."""
    import duckdb

    from tools.check_correctness import compare
    from trading_etl_python_spark.sources.tables import TABLES

    sf = degenerate_tables(shape)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    got = entrymod.queries()[query](spark, sf).toPandas()
    want = con.sql(entrymod.oracle_sql()[query]).df()
    assert compare(query, got, want) == []
