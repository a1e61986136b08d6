"""One oversized-bucket census behind every LSH cap site.

``dedup._counted_census_plan`` is the only aggregation that decides
which band buckets exceed ``max_bucket_size``: the text and SRP
self-dedup frames and both cross reference-index builders take their
key set, join strategy, anchor-star seeds and ``oversized`` report
from it. These tests pin (1) that a reference index's ``oversized``
frame IS the collected census (no Aggregate in its plan, no Spark job
to read it, rows equal to ``oversized_buckets`` over the same band
frame) and (2) the cap boundary at all four sites: a bucket of exactly
``max_bucket_size`` members is kept whole and not reported, one of
``max_bucket_size + 1`` is capped and reported."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators import dedup as dd
from us_immigration_data_lake_spark.operators import similarity as sim
from us_immigration_data_lake_spark.operators import storage

CAP = 4
TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
DIM = 8
VEC = [float(i + 1) for i in range(DIM)]
# one band of 4 hashes: every identical document shares ONE bucket
TEXT_KW = dict(shingle_n=3, num_hashes=4, bands=1, max_bucket_size=CAP)


def _docs(spark, k: int):
    return spark.createDataFrame(
        [(i, TEXT) for i in range(k)], "doc_id long, text string"
    )


def _vecs(spark, k: int):
    return spark.createDataFrame(
        [(i, VEC) for i in range(k)], "vec_id long, embedding array<double>"
    )


def _text_band(docs):
    """The text band frame both text cap sites build internally."""
    hs = dd.hashed_shingle_sets(dd.shingles(docs, "doc_id", "text", 3), "doc_id")
    sig = dd._signatures_from_sets(hs, "doc_id", 4, False)
    return dd.lsh_bands(sig, "doc_id", bands=1, rows=4)


def _srp_band(vecs, num_tables: int):
    """The SRP band frame (band_idx = table, band_hash = bucket)."""
    sig = sim._srp_sig(vecs, "vec_id", "embedding", DIM, 2, 42, num_tables)
    return sim._srp_tables(sig, num_tables, "__id", band=True)[0]


def _jobs_to_collect(spark, frame) -> tuple[list, int]:
    """``(rows, Spark jobs started by collecting frame)``, counted by a
    job group private to this thread (background sweeps run their own
    jobs concurrently under other groups)."""
    sc = spark.sparkContext
    group = f"bucket-census-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read oversized")
    try:
        rows = frame.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_is_collected_census(spark, oversized, expected: set) -> None:
    plan = oversized._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, plan
    rows, jobs = _jobs_to_collect(spark, oversized)
    assert jobs == 0
    assert {tuple(r) for r in rows} == expected


def test_cross_ref_index_oversized_is_the_census(spark):
    docs = _docs(spark, CAP + 3)
    with storage.scope():
        frames = dd.cross_ref_index_frames(docs, "doc_id", "text", **TEXT_KW)
        assert frames["oversized"].columns == [
            "band_idx", "band_hash", "bucket_n", "anchor_id"]
        expected = {tuple(r) for r in dd.oversized_buckets(
            _text_band(docs), "doc_id", CAP).collect()}
        assert len(expected) == 1
        _assert_is_collected_census(spark, frames["oversized"], expected)


@pytest.mark.parametrize("num_tables", [1, 2])
def test_srp_ref_index_oversized_is_the_census(spark, num_tables):
    vecs = _vecs(spark, CAP + 3)
    with storage.scope():
        frames = sim.srp_ref_index_frames(
            vecs, "vec_id", "embedding", dim=DIM, num_bits=2,
            max_bucket_size=CAP, num_tables=num_tables,
        )
        legacy = dd.oversized_buckets(
            _srp_band(vecs, num_tables), "__id", CAP).collect()
        # the SRP index keys on bucket at L=1, (band_idx, bucket) at L>1
        if num_tables == 1:
            keys = ["bucket"]
            expected = {(r.band_hash, r.bucket_n, r.anchor_id) for r in legacy}
        else:
            keys = ["band_idx", "bucket"]
            expected = {tuple(r) for r in legacy}
        assert len(expected) == num_tables
        assert frames["oversized"].columns == keys + ["bucket_n", "anchor_id"]
        _assert_is_collected_census(spark, frames["oversized"], expected)


def _self_text(spark, k):
    f = dd.near_dup_frames(_docs(spark, k), "doc_id", "text", threshold=0.5,
                           **TEXT_KW)
    return {(r.id1, r.id2) for r in f["pairs"].collect()}, f


def _self_srp(spark, k):
    f = sim.srp_near_dup_frames(_vecs(spark, k), "vec_id", "embedding",
                                threshold=0.9, dim=DIM, num_bits=2,
                                max_bucket_size=CAP)
    return {(r.id1, r.id2) for r in f["pairs"].collect()}, f


def _cross_text(spark, k):
    f = dd.cross_ref_index_frames(_docs(spark, k), "doc_id", "text", **TEXT_KW)
    return {r.id_ref for r in f["index"].collect()}, f


def _cross_srp(spark, k):
    f = sim.srp_ref_index_frames(_vecs(spark, k), "vec_id", "embedding",
                                 dim=DIM, num_bits=2, max_bucket_size=CAP)
    return {r.id_ref for r in f["index"].collect()}, f


def _all_pairs(k):
    return {(i, j) for i in range(k) for j in range(i + 1, k)}


@pytest.mark.parametrize("site,kept_whole,capped", [
    # self-dedup sites drop an oversized bucket from all-pairs
    (_self_text, _all_pairs(CAP), set()),
    (_self_srp, _all_pairs(CAP), set()),
    # reference indexes keep its CAP smallest ids
    (_cross_text, set(range(CAP)), set(range(CAP))),
    (_cross_srp, set(range(CAP)), set(range(CAP))),
], ids=["near_dup_frames", "srp_near_dup_frames", "cross_ref_index_frames",
        "srp_ref_index_frames"])
def test_cap_boundary_at_every_site(spark, site, kept_whole, capped):
    with storage.scope():
        out, frames = site(spark, CAP)
        assert out == kept_whole
        assert frames["oversized"].count() == 0
        assert frames.get("n_oversized", 0) == 0

        out, frames = site(spark, CAP + 1)
        assert out == capped
        over = frames["oversized"].collect()
        assert [(r.bucket_n, r.anchor_id) for r in over] == [(CAP + 1, 0)]
        assert frames.get("n_oversized", 1) == 1


def test_self_census_counts_match_report(spark):
    """n_oversized is the census's own row count, and recovery adds
    the anchor-star pairs of the reported bucket."""
    docs = _docs(spark, CAP + 2)
    with storage.scope():
        f = dd.near_dup_frames(docs, "doc_id", "text", threshold=0.5,
                               recover_oversized=True, **TEXT_KW)
        assert f["n_oversized"] == f["oversized"].count() == 1
        pairs = f["pairs"].select("id1", "id2").collect()
        assert {tuple(r) for r in pairs} == {(0, i) for i in range(1, CAP + 2)}
        assert f["pairs"].agg(F.min("jaccard")).collect()[0][0] == 1.0
