"""The ``__spark_entry__`` contract: it exposes the query registry in
registration order and the oracle SQL of every oracle-checked query.
Executing the queries is test_oracle_parity's job."""

from __future__ import annotations

import __spark_entry__ as E
from hadoop_sync_spark.queries import load_all


def test_queries_are_the_registry_in_registration_order():
    assert list(E.queries()) == list(load_all())


def test_oracle_sql_covers_every_oracle_checked_query():
    assert set(E.oracle_sql()) == {
        n for n, q in load_all().items() if q.oracle
    }


def test_entry_smoke(spark):
    assert E.entry(spark).count() > 0
