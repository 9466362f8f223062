"""Query registry: every query in `queries()` is gated by exactly one
DuckDB oracle in `oracle_sql()`, and no oracle is left without a query.
Imports the entry module only; no Spark session is started."""


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    import __spark_entry__ as entry

    queries, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert not queries - oracles, "queries without an oracle"
    assert not oracles - queries, "oracles without a query"
