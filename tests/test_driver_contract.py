"""Invariants of the driver-facing contract surface: query order,
oracle coverage, and the docs derived from the registry."""

from __future__ import annotations

from kafka_streams_pipeline_spark import inventory


def test_entry_queries_follow_registry_order():
    import __spark_entry__ as entrymod

    keys = list(entrymod.queries())
    assert keys == list(inventory.QUERIES)
    assert list(entrymod.oracle_sql()) == keys


def test_every_query_has_an_oracle():
    missing = set(inventory.QUERIES) - set(inventory.ORACLES)
    assert not missing, f"rows-only queries (weaker driver check): {missing}"


def test_bench_queries_are_registered():
    assert set(inventory.BENCH_QUERIES) <= set(inventory.QUERIES)


def test_readme_query_count_matches_inventory():
    """ADVICE r4: docs counts drift when queries are added — pin the
    README's stated query count to the registry so the suite fails
    loudly instead of shipping stale numbers."""
    import pathlib
    import re

    readme = pathlib.Path(__file__).parent.parent / "README.md"
    text = readme.read_text()
    stated = {int(m) for m in re.findall(r"(\d+)\s+(?:entries|queries)", text)}
    assert stated == {len(inventory.QUERIES)}, (
        f"README states query counts {sorted(stated)}; registry has "
        f"{len(inventory.QUERIES)}"
    )


def test_registry_md_matches_generated():
    """REGISTRY.md drift check (VERDICT r9 item 7): at 200+ rows the
    checked-in registry index IS the discovery surface — it must
    equal what tools/gen_registry.py would write from the live
    registry, byte for byte (stale certified flags and missing rows
    both fail here instead of aging silently)."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).parent.parent
    sys.path.insert(0, str(repo / "tools"))
    try:
        import gen_registry
    finally:
        sys.path.pop(0)

    checked_in = (repo / "REGISTRY.md").read_text()
    assert checked_in == gen_registry.render(), (
        "REGISTRY.md is stale — run `python tools/gen_registry.py` "
        "and commit the result"
    )
