"""COLD-session high-dimension smoke for every HOF consumer (r13
verdict ask #4).

The Catalyst analyzer's StackOverflow boundary for the unrolled
left-associative dot chain MOVES with JVM JIT state: dim 384 analyzes
cold, dim 512 dies cold, dim 768 has been observed to SURVIVE in a
JIT-warmed session — so a warm-suite test cannot prove the high-dim
path is safe, and the existing agreement test runs at dim 320 in a
warm session. This gate launches ONE fresh python subprocess (fresh
JVM, nothing warmed) and drives the six registry code paths that
consume the dot/cosine/SRP expression family — q22 (cosine_knn), q24
(srp_lsh_knn), q181/q187 (srp_near_dup_frames), q192
(srp_ref_index_frames + cross_srp_pairs_indexed), q233 (hard_negatives_indexed) — at dim
512 AND dim 768. A future refactor that reintroduces an unrolled form
above UNROLL_MAX_DIM fails HERE deterministically (analyzer overflow
in the cold JVM) instead of nondeterministically in production.

Data is tiny (32 vectors): the risk under test is analyzer tree depth
at expression-construction time, not compute.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SUBPROCESS_SCRIPT = r"""
import sys

sys.path.insert(0, __REPO__)

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators import similarity as sim
from us_immigration_data_lake_spark.operators import storage
from us_immigration_data_lake_spark.operators.dedup import dedup_survivors

spark = (
    SparkSession.builder.master("local[4]")
    .appName("highdim-cold-smoke")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.default.parallelism", "4")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")


def frame(dim, n=32, seed=5):
    rs = np.random.RandomState(seed)
    centers = rs.randn(4, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n):
        g = rs.randn(dim)
        v = centers[i % 4] + 0.5 * g / np.linalg.norm(g)
        rows.append((i, [float(x) for x in (v / np.linalg.norm(v))]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


checks = []
for dim in (512, 768):
    assert dim > sim.UNROLL_MAX_DIM
    df = frame(dim)
    qs = df.filter(F.col("vec_id") < 4)

    # q22 path: exact brute-force cosine top-k
    n = sim.cosine_knn(df, qs, "vec_id", "embedding", k=3, dim=dim).count()
    checks.append(("cosine_knn", dim, n)); assert n == 4 * 3, checks[-1]

    # q24 path: SRP-bucketed approximate top-k
    n = sim.srp_lsh_knn(df, qs, "vec_id", "embedding", k=3, dim=dim,
                        num_bits=2, seed=42).count()
    checks.append(("srp_lsh_knn", dim, n)); assert n >= 4, checks[-1]

    # q181/q187 path: within-corpus SRP semantic dedup (capped frames)
    with storage.scope():
        frames = sim.srp_near_dup_frames(df, "vec_id", "embedding",
                                         threshold=0.5, dim=dim, num_bits=2)
        n = frames["pairs"].count()
    checks.append(("srp_near_dup_frames", dim, n)); assert n > 0, checks[-1]

    # q192 path: cross-corpus SRP pairs against a prebuilt ref index
    # (split at 16 so both halves cover all four clusters — an
    # even/odd split would give the halves DISJOINT clusters, vec_id
    # parity fixing vec_id % 4's parity, and zero cross pairs)
    new_df = df.filter(F.col("vec_id") < 16)
    ref_df = df.filter(F.col("vec_id") >= 16)
    fr = sim.srp_ref_index_frames(ref_df, "vec_id", "embedding", dim=dim,
                                  num_bits=2)
    n = sim.cross_srp_pairs_indexed(
        new_df, fr["index"], "vec_id", "embedding", threshold=0.5,
        dim=dim, num_bits=fr["num_bits"],
    ).count()
    checks.append(("cross_srp_pairs_indexed", dim, n)); assert n > 0, checks[-1]

    # q233 path: indexed hard-negative mining (high-dim dispatch)
    pairs = sim.cosine_near_dup_pairs(df, "vec_id", "embedding", 0.95)
    clusters = dedup_survivors(df, pairs.select("id1", "id2"),
                               "vec_id").select("vec_id", "cluster")
    n = sim.hard_negatives_indexed(
        df, "vec_id", "embedding", clusters, k=3, dim=dim, num_bits=2,
        seed=42, multiprobe=True,
    ).count()
    checks.append(("hard_negatives_indexed", dim, n)); assert n > 0, checks[-1]

print("COLD_SMOKE_OK", checks)
spark.stop()
"""


def test_highdim_cold_session_smoke():
    env = dict(os.environ)
    env.pop("PYSPARK_GATEWAY_PORT", None)  # force a FRESH JVM
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    proc = subprocess.run(
        [sys.executable, "-c",
         _SUBPROCESS_SCRIPT.replace("__REPO__", repr(REPO))],
        capture_output=True, text=True, timeout=570, env=env,
    )
    assert proc.returncode == 0, (
        f"cold high-dim smoke failed:\n{proc.stdout[-2000:]}\n"
        f"{proc.stderr[-4000:]}"
    )
    assert "COLD_SMOKE_OK" in proc.stdout
