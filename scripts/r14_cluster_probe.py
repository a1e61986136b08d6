#!/usr/bin/env python3
"""Round-14 clustered-geometry recall probe (r13 verdict ask #1).

The r13 q236 bits ladder ran on the standard synthetic embeddings,
whose pairwise cosines are near-uniform: true top-k hard negatives sit
barely above the bulk, absolute recalls read 0.03-0.18 across the
whole ladder, and the axis cannot validate the deployment rule it
exists for ("run q236 at bits b-1/b/b+1, deploy the cheapest config
whose recall clears target"). This probe re-runs the ladder on the
planted-cluster fixtures (make_scaled_fixture.py --clusters: 32
Gaussian clusters, within-cluster cosine ~=0.62 +- 0.07, cross-cluster
~=0 +- 0.13, every 10th vector a ~0.97-cosine twin of its predecessor)
where "true nearest neighbors" is a meaningful notion — the geometry
real embedding corpora have.

Measured per (num_bits, multiprobe) on the 2k-row clustered fixture:
- NEGATIVE recall (q236 substrate, hard_negative_recall): share of the
  true top-5 hard negatives (all-pairs ground truth, twin clusters
  excluded at dup_threshold 0.9 — between the twin band ~0.97 and the
  cluster band ~0.62) the indexed miner recovers;
- SPEED of the indexed miner's full plan (q233 substrate,
  hard_negatives_indexed, second execution) at d64 AND at the
  cosine-preserving d768 expansion (identical pair geometry, 12x the
  per-dimension arithmetic);
- q221 substrate (ann_recall_at_k, 50-query panel, k=5): mean
  NEIGHBOR recall on the clustered fixture vs the standard fixture at
  the same bits — the discrimination contrast in one number.

Usage: python3 scripts/r14_cluster_probe.py [section ...] — sections
from {ladder, speed, q221, scale10, tables} (default: the first
three; scale10 is opt-in — see below; tables measures the q239
multi-table pair-recall grid vs the exact all-pairs truth at 1x).
Each section prints its own JSON line
(incremental — a killed run loses only the running section). Run
SOLO (concurrent Spark work measured 11x inflation on an r6 probe).

scale10: the 10x clustered fixture (.localdata/sf1.0x_c64, 20 k rows;
the KEY_OFFSET is a multiple of 32 so all ten copies land in the SAME
32 clusters — the corpus grows by densifying clusters, which is how a
real crawl grows). Measures the occupancy-held bits rule on clustered
geometry: miner speed at bits {8, 10, 12} around
recommended_num_bits(20000, occ=24) = 10, vs the 1x pick of 6 —
with the exclusion clusters built by the SCALE path
(srp_bucket_near_dup_pairs, the r13 10x protocol). RECALL stays a
1x-scale instrument by design: the q236 ground truth is the exact
all-pairs plan, and the deployment rule itself says to run it on a
SAMPLE of the corpus — at 20 k rows the 400M-pair truth side is a
spilling 4-task window sort, the exact shape the indexed miner
exists to avoid (a first attempt measured it: stage-stuck minutes;
killed).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from us_immigration_data_lake_spark.operators import (  # noqa: E402
    similarity as sim,
)
from us_immigration_data_lake_spark.operators.dedup import (  # noqa: E402
    dedup_survivors,
)
from us_immigration_data_lake_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = {
    "std64": "/root/testdata/sf0.1",
    "c64": os.path.join(REPO, ".localdata", "sf0.1_c64"),
    "c768": os.path.join(REPO, ".localdata", "sf0.1_c768"),
    "c64_10x": os.path.join(REPO, ".localdata", "sf1.0x_c64"),
}
DIM = {"std64": 64, "c64": 64, "c768": 768, "c64_10x": 64}
K = 5
DUP_THR = 0.9  # twin band ~0.97 is a dup; cluster band ~0.62 is not
BITS_LADDER = (4, 5, 6, 7, 8)


def _timed_noop(plan) -> float:
    plan().write.mode("overwrite").format("noop").save()
    t0 = time.perf_counter()
    plan().write.mode("overwrite").format("noop").save()
    return round(time.perf_counter() - t0, 3)


def main() -> int:
    sections = set(sys.argv[1:]) or {"ladder", "speed", "q221"}
    if not sections <= {"ladder", "speed", "q221", "scale10", "tables"}:
        raise SystemExit(f"unknown section in {sorted(sections)}")
    spark = get_spark("r14_cluster_probe")
    spark.sparkContext.setLogLevel("ERROR")

    # LAZY per-fixture load: a default run must not touch (or pay an
    # eager checkpoint for) the opt-in 10x fixture, which may not be
    # generated on this machine (.localdata is gitignored)
    _emb_cache: dict = {}

    def emb(name: str):
        if name not in _emb_cache:
            _emb_cache[name] = (
                spark.read.parquet(f"{FIXTURES[name]}/embeddings.parquet")
                .select("vec_id", "embedding")
                .localCheckpoint(eager=True)
            )
        return _emb_cache[name]

    def emit(key: str, payload) -> None:
        print(json.dumps({key: payload}), flush=True)

    def miner_speeds(name: str, bits_ladder, cluster_bits=None) -> None:
        # ONE timing protocol for every fixture/ladder: exclusion
        # clusters built once per fixture and checkpointed (the
        # amortized deployment shape), then the miner timed per bits
        # on its second execution. cluster_bits=None -> exact
        # all-pairs cluster frame (fine at 2 k); at 10x pass bits to
        # use the SCALE path (srp_bucket_near_dup_pairs, the r13
        # protocol — all-pairs at 20 k is the plan the miner avoids)
        df = emb(name)
        dim = DIM[name]
        if cluster_bits is None:
            pairs = sim.cosine_near_dup_pairs(df, "vec_id", "embedding",
                                              DUP_THR)
        else:
            pairs = sim.srp_bucket_near_dup_pairs(
                df, "vec_id", "embedding", threshold=DUP_THR, dim=dim,
                num_bits=cluster_bits, seed=42,
            )
        clusters = (
            dedup_survivors(df, pairs.select("id1", "id2"), "vec_id")
            .select("vec_id", "cluster")
            .localCheckpoint(eager=True)
        )
        speeds = {}
        for bits in bits_ladder:
            sec = _timed_noop(
                lambda b=bits: sim.hard_negatives_indexed(
                    df, "vec_id", "embedding", clusters, k=K,
                    dim=dim, num_bits=b, seed=42, multiprobe=True,
                )
            )
            speeds[f"bits{bits}"] = sec
            print(f"[probe] {name} bits={bits} miner {sec}s",
                  file=sys.stderr, flush=True)
        emit(f"q233_speed_{name}", speeds)

    if "ladder" in sections:
        # --- q236 substrate: negative-recall ladder, clustered d64 ---
        configs = tuple(
            (b, mp) for b in BITS_LADDER for mp in (False, True)
        )
        ladder = sim.hard_negative_recall(
            emb("c64"), "vec_id", "embedding", k=K, dim=64,
            dup_threshold=DUP_THR, configs=configs, seed=42,
        ).collect()
        emit("q236_clustered_ladder", {
            f"bits{r.num_bits}_mp{r.multiprobe}": {
                "recall": r.recall, "n_exact": r.n_exact, "hits": r.hits,
            }
            for r in ladder
        })
        # same ladder on the STANDARD fixture at the same dup
        # threshold, multiprobe on — the noise-floor contrast
        std_ladder = sim.hard_negative_recall(
            emb("std64"), "vec_id", "embedding", k=K, dim=64,
            dup_threshold=DUP_THR,
            configs=tuple((b, True) for b in BITS_LADDER), seed=42,
        ).collect()
        emit("q236_standard_ladder", {
            f"bits{r.num_bits}_mp{r.multiprobe}": r.recall
            for r in std_ladder
        })

    if "speed" in sections:
        # --- q233 substrate: indexed-miner speed per bits, d64/d768 ---
        for name in ("c64", "c768"):
            miner_speeds(name, BITS_LADDER)

    if "scale10" in sections:
        # --- occupancy-held bits rule on clustered geometry at 10x:
        # miner SPEED only (recall is a 1x/sample-scale instrument —
        # see docstring); clusters via the bucketed scale path at the
        # dedup-occupancy pick for 20k (recommended_num_bits occ=8)
        miner_speeds(
            "c64_10x", (8, 10, 12),
            cluster_bits=sim.recommended_num_bits(20000),
        )

    if "tables" in sections:
        # --- q239 substrate: PAIR recall of multi-table SRP vs the
        # exact all-pairs truth on the clustered 1x fixture — the
        # measured 1−(1−p^b)^L surface next to q236's (bits,
        # multiprobe) ladder. Truth built once (2k rows, all-pairs
        # fine at sample scale).
        df = emb("c64")
        truth = {
            (r.id1, r.id2)
            for r in sim.cosine_near_dup_pairs(
                df, "vec_id", "embedding", 0.5
            ).collect()
        }
        grid = {}
        for bits in (6, 8, 10):
            for tables in (1, 2, 3):
                got = sim.srp_near_dup_frames(
                    df, "vec_id", "embedding", threshold=0.5, dim=64,
                    num_bits=bits, num_tables=tables, seed=42,
                )["pairs"]
                hits = sum(
                    (r.id1, r.id2) in truth for r in got.collect()
                )
                rec = round(hits / len(truth), 4) if truth else None
                grid[f"bits{bits}_L{tables}"] = rec
                print(f"[probe] tables c64 bits={bits} L={tables} "
                      f"pair_recall={rec}", file=sys.stderr, flush=True)
        emit("q239_pair_recall_grid", {"n_true_pairs": len(truth),
                                       **grid})

    if "q221" in sections:
        # --- q221 substrate: neighbor recall, clustered vs standard ---
        for name in ("c64", "std64"):
            recs = {}
            for bits in (4, 6, 8):
                rec = sim.ann_recall_at_k(
                    emb(name),
                    emb(name).filter(F.col("vec_id") < 50),
                    "vec_id", "embedding", k=K, dim=64, num_bits=bits,
                    seed=42, multiprobe=True,
                ).agg(
                    F.round(F.sum("hits") / F.sum("n_exact"), 4)
                    .alias("micro_recall")
                ).collect()[0]["micro_recall"]
                recs[f"bits{bits}"] = rec
                print(f"[probe] q221 {name} bits={bits} recall={rec}",
                      file=sys.stderr, flush=True)
            emit(f"q221_recall_{name}", recs)

    return 0


if __name__ == "__main__":
    raise SystemExit(main())
