"""Registry-level invariants of ``__spark_entry__``: no Spark, DuckDB and
imports only.

Every ``queries()`` entry has a DuckDB dual and every dual has a query,
so ``tools/check_parity.py`` checks the whole registry and a query cannot
leave it without a matching dual edit. ``FAMILIES.md`` is generated from
the same registry and must be current.
"""

from __future__ import annotations

import __spark_entry__ as entry

# The registry held this many queries, all with duals, when the index of
# families was last regenerated; it may grow but must not shrink silently.
MIN_QUERIES = 306


def test_every_query_has_an_oracle_dual():
    names = set(entry.queries())
    duals = set(entry.oracle_sql())
    assert names - duals == set(), "queries without a DuckDB dual"
    assert duals - names == set(), "DuckDB duals without a query"


def test_no_query_leaves_the_registry():
    """Every registered query was once checked against its dual; removing
    one (together with its dual) must be a deliberate edit of the floor."""
    assert len(entry.queries()) >= MIN_QUERIES


def test_families_index_is_current():
    """FAMILIES.md (the family -> queries -> operators map) is generated
    from the live registry; a registry change without regeneration — or a
    new prefix with no family row — fails here instead of rotting
    silently."""
    from tools import family_index

    with open(family_index.OUT) as f:
        assert f.read() == family_index.build(), (
            "FAMILIES.md stale: run python tools/family_index.py"
        )
