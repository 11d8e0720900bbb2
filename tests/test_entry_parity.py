"""31/31 oracle parity as a test: every ``__spark_entry__.queries()``
entry against its ``oracle_sql()`` twin on DuckDB, at sf0.001.

Compares what ``tools/check_entry.py`` compares: row count, column
names, and the order-insensitive ``value_hash`` of the rows.
"""
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from test_plan_hygiene import SF_DIR
from tools.check_entry import TABLES, value_hash

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 test data not present"
)


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def test_every_query_has_an_oracle():
    assert sorted(E.queries()) == sorted(E.oracle_sql())


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_entry_query_matches_oracle(spark, duck, name):
    got = E.queries()[name](spark, SF_DIR).toPandas()
    want = duck.sql(E.oracle_sql()[name]).df()
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(got) == value_hash(want)
