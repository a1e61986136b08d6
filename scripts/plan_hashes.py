"""Per-query optimized-plan content hashes (r10 verdict ask #4): the
driver's 50-row correctness rotation ranks by evidence AGE only, so a
round that rewrites the executed plan of already-green queries (r10's
two-phase bucket cap touched eight) can leave every affected oracle
un-re-gated for rounds. This script snapshots a normalized hash of
each registered query's OPTIMIZED logical plan at sf0.001; the
__spark_entry__ ranking gives queries whose hash changed since their
last driver gate a priority tier between "red" and "never gated".

    python scripts/plan_hashes.py            # refresh PLAN_HASHES.json
    python scripts/plan_hashes.py --check    # exit 1 if stale

State file: PLAN_HASHES.json at the root of the checkout that holds
this script, whose engine is the one imported — {name: {"hash": sha1,
"changed_r": N}} where changed_r is the round in which the hash was
last observed to change (0 = unchanged since tracking began). The
"current round" is inferred as max(CORRECTNESS_r*.json) + 1 — the
round whose gate has not run yet.

Recording parallelism: a refresh and a --check both build their
session at local[32] (RECORD_MASTER), whatever SPARK_GRAFT_CPUS says.
Some plan builders embed the session's defaultParallelism in the
optimized plan — dedup.spread_by_id pins its exchange with
repartition(defaultParallelism, id), and
similarity.hard_negatives_indexed pins its bucket-join exchanges at
defaultParallelism — so the same code hashes differently at another
core count. A check that followed SPARK_GRAFT_CPUS (the test suite
exports it as the host's nproc) would report those plans stale on any
host that is not 32-core.

Normalization: Catalyst expression ids (#123), plan/exchange ids,
LogicalRDD/ExistingRDD output ids and checkpoint RDD numbers vary per
session; they are stripped before hashing. The hash itself is over
the SORTED TOKEN MULTISET of the normalized plan, not the raw string:
Spark's multi-distinct-aggregate rewrite assigns `gid` group ids in
JVM-hash order, so the same q51/q100 profile plan permutes its gid
numbering (and the Expand projection row order) across sessions — a
permutation preserves the token multiset while any real plan change
(operator added/removed, literal changed) alters it. Eager fns
(q186's pipeline counts, streaming availableNow runs) execute at
sf0.001 while building their frame — the same cost the local parity
sweep pays per run.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
STATE = os.path.join(REPO, "PLAN_HASHES.json")
# session.get_spark's documented default; see "Recording parallelism"
RECORD_MASTER = "local[32]"


def normalize(plan: str) -> str:
    # higher-order-function lambda variables are named with a SESSION-
    # GLOBAL counter (lambda x_13, y_14, …): stable within one full
    # in-order sweep, but any subset/out-of-order recompute (the pytest
    # sentinel gate) sees different numbers for the identical plan
    plan = re.sub(r"lambda ([A-Za-z]+)_\d+", r"lambda \1_", plan)
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"\[id=#?\d+\]", "[id=]", plan)
    # physical fragments embedded in InMemoryRelation carry session-
    # global plan-id counters
    plan = re.sub(r"\[plan_id=\d+\]", "[plan_id=]", plan)
    plan = re.sub(r"ExistingRDD\[[^\]]*\]", "ExistingRDD[]", plan)
    plan = re.sub(r"Scan ExistingRDD[^\n]*", "Scan ExistingRDD", plan)
    plan = re.sub(r"LogicalRDD \[[^\]]*\]", "LogicalRDD []", plan)
    # checkpoint/cache RDD numbers and object addresses
    plan = re.sub(r"@[0-9a-f]{6,}", "@", plan)
    plan = re.sub(r"rdd_\d+_\d+", "rdd", plan)
    plan = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[]", plan)
    # InMemoryRelation embeds a RENDERED physical fragment whose
    # metadata strings (DataFilters etc.) truncate at a fixed WIDTH —
    # and expression-id digits count against that width, so the
    # visible prefix varies with session-global counters (r15: q215's
    # cached-NB plan hashed differently depending on how many queries
    # ran before it). A truncated list carries no stable content:
    # canonicalize it entirely, and collapse any residual
    # "..."-truncated token. The UNtruncated logical plan above the
    # fragment still carries the full expressions, so real plan
    # changes keep changing the hash.
    plan = re.sub(r"DataFilters: \[[^\]\n]*\.\.\.", "DataFilters: [TRUNC",
                  plan)
    # Collapse "..."-truncated tokens ONLY on the known width-limited
    # metadata lines (r15 advisor: a GLOBAL \S*\.\.\. also swallowed
    # Spark's "... N more fields" renderings anywhere in the plan, so
    # two plans differing only inside any truncated region — or in N —
    # hashed identically, weakening drift detection beyond the
    # InMemoryRelation case it targets).
    _TRUNC_LINE = re.compile(
        r"(DataFilters|PushedFilters|PartitionFilters|ReadSchema|"
        r"Location|Output|Arguments|Input):"
    )
    plan = "\n".join(
        re.sub(r"\S*\.\.\.", "…", ln) if _TRUNC_LINE.search(ln) else ln
        for ln in plan.splitlines()
    )
    return plan


def current_round() -> int:
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def compute(only: list[str] | None = None) -> dict[str, str]:
    from us_immigration_data_lake_spark.plans.queries import QUERIES
    from us_immigration_data_lake_spark.session import get_spark

    if only:
        unknown = [n for n in only if n not in QUERIES]
        if unknown:
            raise SystemExit(f"unknown query name(s): {' '.join(unknown)}")

    spark = get_spark("plan-hashes", master=RECORD_MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    hashes: dict[str, str] = {}
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        df = spec.fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # tokenize ALNUM runs AND punctuation runs (r13: the
        # alnum-only tokenizer was blind to punctuation-only plan
        # changes — a split regex literal flipping "\n" -> "\r?\n",
        # or a filter flipping < to <=, hashed identically and never
        # reached the re-gate tier). Whitespace inside string
        # literals (e.g. a real CR/LF in a separator literal) still
        # splits tokens, but the RUN CONTENTS differ, which is what
        # the multiset hash needs.
        tokens = sorted(
            re.findall(r"[A-Za-z0-9_.]+|[^\sA-Za-z0-9_.]+", normalize(plan))
        )
        hashes[name] = hashlib.sha1(
            " ".join(tokens).encode("utf-8", "replace")
        ).hexdigest()
        spark.catalog.clearCache()
    return hashes


def main() -> None:
    check = "--check" in sys.argv
    renorm = "--renorm" in sys.argv
    only: list[str] | None = None
    if "--only" in sys.argv:
        # subset mode (the pytest freshness gate): recompute ONLY the
        # named sentinels and compare them against the snapshot.
        # Refresh (non---check) writes are refused in subset mode — a
        # partial recompute must never overwrite full-registry state.
        # Name parsing stops at the next flag, so argument order can't
        # silently misread a flag as a query name.
        rest = sys.argv[sys.argv.index("--only") + 1:]
        only = []
        for a in rest:
            if a.startswith("-"):
                break
            only.append(a)
        if not only:
            raise SystemExit("--only requires at least one query name")
        if not check:
            raise SystemExit("--only is valid only with --check")
    # --renorm REWRITES the full snapshot; it is incompatible with the
    # read-only --check contract and with a partial --only recompute
    # (a subset renorm would destroy every other entry).
    if renorm and (check or only):
        raise SystemExit("--renorm cannot be combined with --check/--only")
    try:
        with open(STATE) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        prev = {}

    # --renorm: the HASH FUNCTION changed (a normalization fix), not
    # the plans — rewrite every hash but keep each query's changed_r,
    # so the driver's re-gate tier is not flooded with false
    # "plan-changed" signals for queries whose executed plan is
    # identical. PRECONDITION (not machine-checkable): run it
    # immediately after a plain refresh with NO engine change in
    # between — the renorm pass cannot itself distinguish a
    # normalization-driven hash change from a genuine plan change, so
    # any plan change in that window would keep its stale changed_r.

    rnd = current_round()
    fresh = compute(only)
    if renorm:
        out = {
            name: {"hash": h,
                   "changed_r": prev.get(name, {}).get("changed_r", 0)}
            for name, h in fresh.items()
        }
        with open(STATE, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"round={rnd} queries={len(fresh)} renormalized")
        return
    if only:
        drifted = sorted(
            n for n, h in fresh.items()
            if prev.get(n, {}).get("hash") != h
        )
        print(
            f"round={rnd} sentinels={len(fresh)} changed={len(drifted)} "
            f"{'STALE' if drifted else 'in sync'}"
        )
        if drifted:
            print("plan-changed:", " ".join(drifted))
        sys.exit(1 if drifted else 0)
    out: dict[str, dict] = {}
    changed_names: list[str] = []
    for name, h in fresh.items():
        old = prev.get(name)
        if old is None:
            # new query: never driver-gated yet, the never-gated tier
            # already covers it — record as unchanged-since-tracking
            out[name] = {"hash": h, "changed_r": 0}
        elif old.get("hash") != h:
            out[name] = {"hash": h, "changed_r": rnd}
            changed_names.append(name)
        else:
            out[name] = old

    stale = out != prev
    if stale and not check:
        with open(STATE, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(
        f"round={rnd} queries={len(fresh)} changed={len(changed_names)} "
        f"{'STALE' if stale and check else 'updated' if stale else 'in sync'}"
    )
    if changed_names:
        print("plan-changed:", " ".join(sorted(changed_names)))
    sys.exit(1 if (check and stale) else 0)


if __name__ == "__main__":
    main()
