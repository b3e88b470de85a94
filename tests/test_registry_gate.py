"""Registry/gate-contract invariants.

The external correctness gate evaluates queries in registration order and
records a 50-query prefix, so registration order is part of the
verification contract: the registry is kept least recently gated first,
derived from the ``CORRECTNESS_r{N}.json`` rows (plans/registry.py).
"""

from __future__ import annotations

import json

import pytest

from stream_processing_pipeline_spark.plans import REGISTRY, all_oracles, all_queries
from stream_processing_pipeline_spark.plans.registry import gate_evidence, gate_order


def test_registry_follows_gate_evidence():
    """The registry is sorted by the evidence key: never-gated queries
    first, then by the round and slot of each query's newest gate row."""
    evidence = gate_evidence()
    keys = [evidence.get(n, (0, 0)) for n in REGISTRY]
    assert keys == sorted(keys)


def _write_rounds(root, rounds):
    for rnd, names in rounds.items():
        rows = {n: {"hash_match": True} for n in names}
        (root / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))


def test_gate_order_rule_over_fake_evidence(tmp_path):
    registered = ["a", "b", "c", "d", "e", "f"]
    # An empty directory leaves registration order unchanged.
    assert gate_evidence(str(tmp_path)) == {}
    assert gate_order(registered, gate_evidence(str(tmp_path))) == registered

    # Unpadded names: r9 sorts after r10 unless the round is parsed as an int.
    _write_rounds(tmp_path, {9: ["e", "a", "d"], 10: ["c", "a", "b"]})
    evidence = gate_evidence(str(tmp_path))
    assert evidence == {"e": (9, 0), "d": (9, 2), "c": (10, 0), "a": (10, 1), "b": (10, 2)}
    order = gate_order(registered, evidence)
    # Never-gated first (f); the older round before the newer (e, d before
    # c, a, b); slot order within a round (e before d; c, a, b).
    assert order == ["f", "e", "d", "c", "a", "b"]


def test_gate_evidence_names_unreadable_file(tmp_path):
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    with pytest.raises(ValueError, match="CORRECTNESS_r03.json"):
        gate_evidence(str(tmp_path))


def test_queries_past_gate_prefix_have_prior_driver_rows():
    """The gate records a ~50-query prefix, so any query registered past
    slot 50 misses this round's external verification. That is only
    acceptable for queries that already have a driver-side row from a past
    round (any CORRECTNESS_r*.json) — never-verified queries must sit
    inside the prefix."""
    gated = gate_evidence()
    overflow = [n for n in list(REGISTRY)[50:] if n not in gated]
    assert not overflow, f"past slot 50 without any prior driver row: {overflow}"


def test_oracle_coverage_is_total_minus_documented_exceptions():
    """EVERY registered query now carries a DuckDB value-hash oracle. The
    trained-IVF pair left the exception set in round 3 (integer-exact
    k-means made the training loop SQL-replayable); the HLL pair left in
    round 11 (explicit h60-derived registers replaced the engine-private
    Datasketches binaries — VERDICT r10 #2). Anything missing an oracle is
    a verification regression."""
    no_oracle = set(all_queries()) - set(all_oracles())
    assert no_oracle == set()


def test_all_queries_have_descriptions():
    for name, q in REGISTRY.items():
        assert (q.description or "").strip(), f"{name} lacks a description"
