"""Codegen-fallback probe: run named
registry queries in a FRESH subprocess JVM with log level WARN and
grep its stderr for whole-stage-codegen compile failures ("Code grows
beyond 64 KB" → janino CompileException → interpreted fallback).

    python tests/codegen_probe.py q239_srp_multi_table_pairs ...

Prints one line per query: name, rows, fallback hit count, and the
distinct failure signatures seen. Exit 1 if any query hit a fallback.
The suite gate (tests/test_codegen_gate.py) wraps the same mechanism;
this script is its standalone reproducer.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import sys
sys.path.insert(0, __REPO__)
from us_immigration_data_lake_spark.plans.queries import QUERIES
from us_immigration_data_lake_spark.session import get_spark

spark = get_spark("codegen-probe")
spark.sparkContext.setLogLevel("WARN")
sf_dir = __SF_DIR__
for name in __NAMES__:
    n = QUERIES[name].fn(spark, sf_dir).count()
    print(f"PROBE_ROWS {name} {n}", flush=True)
__EXTRA__
spark.stop()
"""

FALLBACK_PATTERNS = (
    "Code grows beyond 64 KB",
    "Whole-stage codegen disabled for plan",
    "Failed to compile the generated Java code",
    "failed to compile",
)


def probe(
    names: list[str], sf_dir: str, extra: str = "",
) -> tuple[dict[str, int], list[str]]:
    """Run `names` in one fresh JVM; return ({name: rows}, fallback
    log lines). Fallbacks are JVM-global in the capture, so run one
    query per process when attribution matters. ``extra`` is a python
    fragment executed after the queries in the same JVM (direct
    operator calls — the suite gate's over-budget multi-table forms);
    it sees `spark` and should print PROBE_ROWS lines of its own."""
    script = (
        _CHILD.replace("__REPO__", repr(REPO))
        .replace("__SF_DIR__", repr(sf_dir))
        .replace("__NAMES__", repr(names))
        .replace("__EXTRA__", extra)
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=900,
        cwd=REPO,
    )
    rows: dict[str, int] = {}
    for line in proc.stdout.splitlines():
        if line.startswith("PROBE_ROWS "):
            _, name, n = line.split()
            rows[name] = int(n)
    hits = [
        ln for ln in proc.stderr.splitlines()
        if any(p in ln for p in FALLBACK_PATTERNS)
    ]
    if proc.returncode != 0:
        raise RuntimeError(
            f"probe subprocess failed rc={proc.returncode}:\n"
            + proc.stderr[-4000:]
        )
    return rows, hits


def main() -> None:
    names = sys.argv[1:] or [
        "q239_srp_multi_table_pairs",
        "q240_cross_multi_table_dedup",
    ]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    any_hit = False
    for name in names:  # one JVM per query: attribution is per-query
        rows, hits = probe([name], sf_dir)
        sigs = sorted({h.split("WARN")[-1][:90] for h in hits})
        print(f"{name}: rows={rows.get(name)} fallbacks={len(hits)}")
        for s in sigs:
            print(f"  sig: {s.strip()}")
        any_hit = any_hit or bool(hits)
    sys.exit(1 if any_hit else 0)


if __name__ == "__main__":
    main()
