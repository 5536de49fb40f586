"""The query registry behind the driver contract, checked without a Spark
session: every query has exactly one oracle, declared in its builder's
module, and the registry stays within the driver's cap."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from queries import MAX_QUERIES, REGISTRY  # noqa: E402


def test_queries_and_oracles_share_names():
    assert list(entry.queries()) == list(entry.oracle_sql())


def test_registry_within_driver_cap():
    # the driver records at most 50 queries; a 51st silently goes unchecked
    assert MAX_QUERIES == 50
    assert 0 < len(entry.queries()) <= MAX_QUERIES


def test_each_oracle_sits_in_its_builders_module():
    for name, q in REGISTRY.items():
        assert q.oracle.__module__ == q.build.__module__, name
