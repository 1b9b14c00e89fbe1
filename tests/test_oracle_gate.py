"""The DuckDB oracle gate over the driver contract.

Every ``queries()`` key runs on the session's Spark at sf0.01 and is
compared with its ``oracle_sql()`` twin on DuckDB by the same check the
``tools/check_correctness.py`` CLI prints (sorted column names, row count,
order-insensitive canonical value hash). The registry tests pin the
contract's shape: one registration per key, each with its oracle.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tools.check_correctness import check_query, oracle_connection

SF_DIR = "/root/testdata/sf0.01"

QUERIES = entrymod.queries()


def test_queries_and_oracles_share_keys_in_order():
    assert list(QUERIES) == list(entrymod.oracle_sql())


def test_registering_a_key_twice_raises():
    with pytest.raises(ValueError, match="lang_histogram"):
        entrymod._query(oracle="SELECT 1")(entrymod.lang_histogram.__wrapped__)
    assert list(entrymod.queries()) == list(QUERIES)


def test_registration_requires_an_oracle():
    with pytest.raises(TypeError):
        entrymod._query()
    with pytest.raises(TypeError):
        entrymod._query(entrymod.lang_histogram.__wrapped__)


def test_bench_headline_names_registered_keys():
    import bench

    assert set(bench.HEADLINE) <= set(QUERIES)


@pytest.fixture(scope="module")
def oracles():
    return entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, duck, oracles, name):
    ok, report = check_query(
        spark, duck, SF_DIR, name, QUERIES[name], oracles[name]
    )
    assert ok, report
