"""Guards for the driver-sample ordering contract (verification.py):
the driver verifies only the FIRST 50 queries() entries per round, so
ordering mistakes silently cost verification coverage."""

from __future__ import annotations

from travel_data_pipeline_spark import registry, verification


def test_priority_head_names_all_registered():
    """A typo'd PRIORITY_HEAD name is silently skipped by
    ordered_names — fail loudly instead."""
    missing = [n for n in verification.PRIORITY_HEAD
               if n not in registry.QUERIES]
    assert not missing, f"PRIORITY_HEAD names not in registry: {missing}"


def test_ordered_names_is_permutation():
    names = list(registry.QUERIES)
    ordered = verification.ordered_names(names)
    assert sorted(ordered) == sorted(names)
    assert len(set(ordered)) == len(ordered)


def test_ordered_names_is_head_then_registry_order():
    """The exact order: the registered PRIORITY_HEAD members in head
    order, then every other name in registry order."""
    names = list(registry.QUERIES)
    head = [n for n in verification.PRIORITY_HEAD if n in registry.QUERIES]
    rest = [n for n in names if n not in verification.PRIORITY_HEAD]
    assert verification.ordered_names(names) == head + rest
