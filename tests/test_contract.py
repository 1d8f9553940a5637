"""Driver-contract shape checks that need no SparkSession."""

from __future__ import annotations

import __spark_entry__ as entry


def test_every_query_has_an_oracle():
    """queries() and oracle_sql() name the same set: a query without an
    oracle would be checked by nothing."""
    assert set(entry.queries()) == set(entry.oracle_sql())
