"""Query registry: every query in `queries()` is gated by exactly one
DuckDB oracle in `oracle_sql()`, no oracle is left without a query, and
the tools that name queries by string name only registered ones.
Imports the entry module only; no Spark session is started."""

import ast
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _literal(relpath, name):
    """The literal value bound to module-level `name` in `relpath`, read
    with `ast` so the tool module is not imported."""
    with open(os.path.join(_ROOT, relpath)) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        if any(isinstance(t, ast.Name) and t.id == name for t in targets):
            return ast.literal_eval(node.value)
    raise AssertionError(f"{name} not found in {relpath}")


def test_every_query_has_an_oracle_and_every_oracle_a_query():
    import __spark_entry__ as entry

    queries, oracles = set(entry.queries()), set(entry.oracle_sql())
    assert not queries - oracles, "queries without an oracle"
    assert not oracles - queries, "oracles without a query"


def test_named_query_lists_name_registered_queries():
    import __spark_entry__ as entry

    queries = set(entry.queries())
    groups = _literal("bench.py", "GROUPS")
    named = {q for qs in groups.values() for q in qs}
    assert named and not named - queries, "bench.py GROUPS: stale names"
    headline = set(_literal("tools/dump_plans.py", "HEADLINE"))
    assert headline and not headline - queries, \
        "tools/dump_plans.py HEADLINE: stale names"
    swept = set(_literal("tools/bench_sf_sweep.py", "QUERIES"))
    assert swept and not swept - queries, \
        "tools/bench_sf_sweep.py QUERIES: stale names"
