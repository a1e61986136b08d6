"""PLAN_HASHES.json freshness gate (r11 verdict ask #4).

The driver's correctness rotation gives queries whose OPTIMIZED plan
changed since their last gate a priority re-gate tier
(__spark_entry__.queries), keyed off the PLAN_HASHES.json snapshot.
That tier silently degrades if an engine change ships without
`scripts/plan_hashes.py` refreshing the snapshot — until r12 a
memory-level discipline, now a test: recompute the hashes of a
SENTINEL set of queries chosen to transitively cover the engine
modules most engine changes touch, and fail if any drifted from the
snapshot.

Why a subprocess and not the shared test session: the snapshot is
recorded under the engine's own session (get_spark: local[32],
defaultParallelism 32), and plans embed session-derived literals —
spread_by_id pins its exchange to defaultParallelism, so the conftest
session (parallelism 8) hashes the same plan differently. The gate
must replicate the recording environment exactly, which is what
`plan_hashes.py --check --only …` does: it builds its session at
local[32] whatever SPARK_GRAFT_CPUS says (the driver-facing tier
reads the same snapshot, so this is also the representative check).
The two JVM-free tests at the end pin that parallelism and show the
check can still go red.

Why sentinels and not all 232: a full recompute is a multi-minute
serial sweep (eager fns execute while building); the sentinels build
in well under a minute and cover dedup cap machinery, SRP similarity,
joins, windows/evaluation, sampling/order, textstats and the big
composites — any engine change that touches shared operator code
moves at least one of them. A change outside the sentinel closure
still reaches the driver tier when the author runs the refresh (the
documented post-change step); this gate exists to catch the FORGOTTEN
refresh, which by construction follows an operator edit.
"""

from __future__ import annotations

import atexit
import importlib.util
import inspect
import json
import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One query per frequently-edited engine surface. The eager
# composites (q186/q188) are deliberately NOT sentinels: they execute
# their whole pipeline at build time (~15 s each in the subprocess)
# and their plan builders are exactly q20+q182+q187's — the sentinels
# cover the same drift for a fraction of the suite's wall clock.
SENTINELS = [
    "q01_pricing_summary",        # scan + agg core
    "q04_top_revenue_orders",          # join + global top-k
    "q20_minhash_near_dups",      # MinHash-LSH cap site (portable)
    "q76_binned_interval_join",      # range/interval join
    "q97_asof_forward",           # as-of join
    "q182_lsh_bucket_cap",        # cap machinery, both branches firing
    "q187_semantic_dedup_capped", # SRP bucket cap
    "q212_ks_drift",              # global_cumsum / drift family
    "q215_eval_auc",          # evaluation family
    "q228_mixture_interleave",    # sampling/order family (WFQ)
    "q229_script_profile",        # textstats regexp family
    "q230_hard_negatives",        # similarity scoring path
]


# The subprocess (own JVM, ~50-90 s) is fully independent of the test
# session, so START it at collection time — pytest imports every test
# module up front, and this file sits mid-alphabet, so the check runs
# CONCURRENTLY with the first half of the suite and the test below
# only joins an already-finished process (measured: the serial form
# was the suite's #3 wall-clock item at 90 s).
#
# Output goes to a TEMP FILE, never PIPE (r12 advice): a deselected
# run (-k, --collect-only) exits pytest without draining the pipes,
# and a child that writes more than the OS pipe buffer (Spark/ivy/
# log4j noise on a cold cache) would block forever on write as a
# lingering JVM. With a file sink the child always runs to completion
# on its own; atexit reaps it if the test never joined. Under
# pytest-xdist every worker imports this module — spawn at collection
# only in the single-process run and fall back to a lazy in-test
# spawn there, so N workers never launch N JVMs.
_OUT = tempfile.NamedTemporaryFile(
    mode="w+", suffix=".planhash.log", delete=False
)
_PROC: subprocess.Popen | None = None


def _spawn() -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.join(REPO, "scripts", "plan_hashes.py"),
         "--check", "--only", *SENTINELS],
        stdout=_OUT, stderr=subprocess.STDOUT, cwd=REPO,
    )


if os.environ.get("PYTEST_XDIST_WORKER") is None:
    _PROC = _spawn()


@atexit.register
def _reap() -> None:
    if _PROC is not None and _PROC.poll() is None:
        _PROC.terminate()
    try:
        _OUT.close()
        os.unlink(_OUT.name)
    except OSError:
        pass


def test_sentinel_plan_hashes_fresh():
    global _PROC
    if _PROC is None:  # xdist worker: lazy spawn, serial cost accepted
        _PROC = _spawn()
    _PROC.wait(timeout=600)
    _OUT.flush()
    with open(_OUT.name) as f:
        tail = "\n".join(f.read().splitlines()[-6:])
    assert _PROC.returncode == 0, (
        "PLAN_HASHES.json is stale for sentinel queries — an engine "
        "change rewrote executed plans without refreshing the snapshot, "
        "so the driver's plan-changed re-gate tier will not fire. Run "
        "`python scripts/plan_hashes.py` and commit the result.\n" + tail
    )


def _load_script():
    spec = importlib.util.spec_from_file_location(
        "plan_hashes_script", os.path.join(REPO, "scripts", "plan_hashes.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_compute_session_ignores_spark_graft_cpus(monkeypatch):
    """The hashes are computed at local[32] even when SPARK_GRAFT_CPUS
    names another core count (the Tier-1 command exports nproc), and
    the snapshot is the one next to the script, not a fixed path."""
    from us_immigration_data_lake_spark import session

    ph = _load_script()
    assert ph.STATE == os.path.join(REPO, "PLAN_HASHES.json")

    class _NoSpark(Exception):
        pass

    sig = inspect.signature(session.get_spark)
    calls = []

    def fake_get_spark(*args, **kwargs):
        calls.append(sig.bind(*args, **kwargs))
        raise _NoSpark

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    with pytest.raises(_NoSpark):
        ph.compute(SENTINELS)
    assert len(calls) == 1
    assert calls[0].arguments.get("master") == "local[32]"


def test_check_fails_on_edited_sentinel_hash(monkeypatch, tmp_path, capsys):
    """`--check --only` exits 1 when one sentinel's snapshot hash
    differs from the recomputed one (compute stubbed to return the
    committed hashes), and 0 on the unedited copy."""
    ph = _load_script()
    with open(ph.STATE) as f:
        snapshot = json.load(f)
    monkeypatch.setattr(
        ph, "compute", lambda only: {n: snapshot[n]["hash"] for n in only}
    )
    monkeypatch.setattr(
        sys, "argv", ["plan_hashes.py", "--check", "--only", *SENTINELS]
    )
    state = tmp_path / "PLAN_HASHES.json"
    monkeypatch.setattr(ph, "STATE", str(state))

    def run_check(snap):
        state.write_text(json.dumps(snap))
        with pytest.raises(SystemExit) as exc:
            ph.main()
        assert json.loads(state.read_text()) == snap  # --check never writes
        return exc.value.code, capsys.readouterr().out

    code, out = run_check(snapshot)
    assert code == 0, out
    assert "changed=0 in sync" in out

    edited = json.loads(json.dumps(snapshot))
    edited["q182_lsh_bucket_cap"]["hash"] = "0" * 40
    code, out = run_check(edited)
    assert code == 1, out
    assert "changed=1 STALE" in out
    assert "plan-changed: q182_lsh_bucket_cap" in out
