#!/usr/bin/env python3
"""Cross-corpus dedup REF-SIDE scaling probe (r7 verdict ask #1).

The cross-dedup family's 100 TB claim is "ref >> new; the reference
never self-joins, so skipping ref x ref is most of the work"
(SCALE.md) — but the q190/q192/q195 registrations are input-capped so
their oracles stay replayable, leaving the REF axis (the one that
actually grows week over week) unmeasured. This probe fixes the NEW
batch (sf0.1: 5000 documents / 2000 embeddings) and scales the
REFERENCE corpus 1x/3x/10x via the make_scaled_fixture.py dirs:

- cross_cold      : a one-shot text cross dedup end to end —
                    operators.dedup.cross_ref_index_frames over the
                    reference, then cross_near_dup_pairs_indexed for
                    the batch. Includes the per-call ref signature
                    scan, so the honest expectation is LINEAR in ref
                    (one pass of shingle/minhash arithmetic over the
                    reference) with the join term bounded by the cap.
- cross_indexed   : the same index prebuilt + cached (untimed), then
                    cross_near_dup_pairs_indexed alone — the amortized
                    weekly-ingest deployment (and the streaming twin's
                    exact plan). Expectation: FLAT in ref scale — the
                    batch pays its own signatures + one capped band
                    join against an in-memory index.
- srp_cold        : the embedding-side one-shot, end to end —
                    similarity.srp_ref_index_frames then
                    cross_srp_pairs_indexed; same linear-signature +
                    capped-bucket-join shape.

Usage: python3 scripts/cross_scale_probe.py
(the 3x/10x reference dirs are ``.localdata/sf0.3x`` and
``.localdata/sf1.0x``, built with
``scripts/make_scaled_fixture.py NEW_DIR OUT_DIR K``.)
Prints one JSON line {"probe": "cross_ref_side", "results": {...}}.
Protocol per (op, ref_dir): one untimed first-touch pass, one timed
noop-sink run (scale_probe.py's discipline). Each pass runs inside its
own ``storage.scope()``, so the timed pass rebuilds every cache and
checkpoint the operators pin instead of reading the first pass's.
Run on an idle host.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from us_immigration_data_lake_spark.operators import dedup as dd  # noqa: E402
from us_immigration_data_lake_spark.operators import similarity as sim  # noqa: E402
from us_immigration_data_lake_spark.operators import storage  # noqa: E402
from us_immigration_data_lake_spark.session import get_spark  # noqa: E402

NEW_DIR = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REF_DIRS = {
    "1x": NEW_DIR,
    "3x": os.path.join(REPO, ".localdata", "sf0.3x"),
    "10x": os.path.join(REPO, ".localdata", "sf1.0x"),
}
TEXT_KW = dict(shingle_n=3, num_hashes=64, bands=16)
CAP = 1000
DIM, BITS, TAU = 64, 8, 0.85


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def timed(build) -> float:
    with storage.scope():
        noop(build())  # first-touch: codegen + file index + page cache
    with storage.scope():
        t0 = time.perf_counter()
        noop(build())
        return round(time.perf_counter() - t0, 3)


def text_cold(new_docs, ref_docs):
    idx = dd.cross_ref_index_frames(
        ref_docs, "doc_id", "text", max_bucket_size=CAP, **TEXT_KW
    )["index"]
    return dd.cross_near_dup_pairs_indexed(
        new_docs, idx, "doc_id", "text", threshold=0.5, **TEXT_KW
    )


def srp_cold(new_emb, ref_emb):
    frames = sim.srp_ref_index_frames(
        ref_emb, "vec_id", "embedding", dim=DIM, num_bits=BITS,
        max_bucket_size=CAP,
    )
    return sim.cross_srp_pairs_indexed(
        new_emb, frames["index"], "vec_id", "embedding", threshold=TAU,
        dim=DIM, num_bits=frames["num_bits"],
    )


def main() -> None:
    spark = get_spark("cross-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    new_docs = spark.read.parquet(os.path.join(NEW_DIR, "documents.parquet"))
    new_emb = spark.read.parquet(
        os.path.join(NEW_DIR, "embeddings.parquet")
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))

    results: dict[str, dict[str, float]] = {
        "cross_cold": {}, "cross_indexed": {}, "srp_cold": {},
    }
    for label, ref_dir in REF_DIRS.items():
        ref_docs = spark.read.parquet(os.path.join(ref_dir, "documents.parquet"))
        ref_emb = spark.read.parquet(
            os.path.join(ref_dir, "embeddings.parquet")
        ).withColumn("embedding", F.col("embedding").cast("array<float>"))

        results["cross_cold"][label] = timed(
            lambda: text_cold(new_docs, ref_docs)
        )

        # amortized shape: index built+cached untimed, batch run timed
        with storage.scope():
            idx = storage.cache(dd.cross_ref_index_frames(
                ref_docs, "doc_id", "text", max_bucket_size=CAP, **TEXT_KW
            )["index"])
            idx.count()
            results["cross_indexed"][label] = timed(
                lambda: dd.cross_near_dup_pairs_indexed(
                    new_docs, idx, "doc_id", "text", threshold=0.5,
                    **TEXT_KW,
                )
            )

        results["srp_cold"][label] = timed(lambda: srp_cold(new_emb, ref_emb))
        spark.catalog.clearCache()

    print(json.dumps({"probe": "cross_ref_side", "new": NEW_DIR, "results": results}))


if __name__ == "__main__":
    main()
