"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_consistent():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 10


def test_gate_ordering_tiers():
    """Red queries outrank plan-changed greens (r10 ask #4: a green
    whose optimized plan changed since its last driver gate carries
    evidence for a plan that no longer runs), which outrank
    never-gated (including queries whose only recorded gates were
    weak rows-only checks but which NOW carry an oracle — the driver
    has never hash-checked those), which outrank stable greens;
    stable greens rotate oldest-evidence-first. Checked against the
    committed CORRECTNESS_r*.json + PLAN_HASHES.json history the
    ordering derives from."""
    from us_immigration_data_lake_spark.plans.queries import QUERIES

    hist = entry_mod._gate_history()
    changed = entry_mod._plan_changed_rounds()
    names = list(entry_mod.queries())

    def tier(n: str) -> int:
        if n not in hist:
            return 2
        rnd, green, rows_only = hist[n]
        if not green:
            return 0
        if changed.get(n, 0) > rnd:
            return 1  # plan changed since the last driver gate
        if rows_only and QUERIES[n].oracle is not None:
            return 2  # oracle upgraded since the last (weak) gate
        return 3

    tiers = [tier(n) for n in names]
    assert tiers == sorted(tiers)
    # committed history: q70 was red in r3, so with any never-gated
    # backlog it must still land inside the driver's 50-row cap
    if tier("q70_quantize_int8") == 0:
        assert names.index("q70_quantize_int8") < 50
    # r5 upgrade: q20/q28 gained oracles after rounds of rows-only
    # gating — they must re-enter the hash gate ahead of stale greens
    for upgraded in ("q20_minhash_near_dups", "q28_stream_stateful"):
        if upgraded in hist and hist[upgraded][2]:
            assert names.index(upgraded) < 50
    # plan-changed greens land inside the 50-row cap while the
    # backlog allows (r11: 13 seeded + reds fit comfortably)
    plan_changed = [n for n in names if tier(n) == 1]
    if len(plan_changed) <= 40:
        assert all(names.index(n) < 50 for n in plan_changed)
    # green rotation: non-decreasing last-verified round
    greens = [n for n in names if tier(n) == 3]
    rounds = [hist[n][0] for n in greens]
    assert rounds == sorted(rounds)
