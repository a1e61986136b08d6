"""Clustered-geometry fixture invariants (r13 verdict ask #1).

`scripts/make_scaled_fixture.py --clusters` exists so the recall axes
(q221 ann_recall_at_k, q236 hard_negative_recall) read MEANINGFUL
numbers: the standard synthetic embeddings have near-uniform pairwise
cosines, so "true top-k neighbors" sit barely above the bulk and every
recall ladder reads noise floor. These tests pin the generator's
geometry contract on a session-built mini-fixture (same generator
code, sf0.001 ids) so a regression in the planting math fails here
instead of silently flattening the SCALE.md r14 ladder:

- three separated cosine bands: cross-cluster bulk ~0, cluster band
  ~1/(1+sigma^2), twin band ~0.97 — pairwise-separated with margin;
- determinism: values are a pure function of vec_id;
- the recall axis DISCRIMINATES on this geometry: fewer bits ->
  strictly more negative recall (the r14 ladder's shape), with the
  multiprobe >= single-probe theorem holding alongside.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from make_scaled_fixture import (  # noqa: E402
    TWIN_EVERY,
    clustered_embeddings_table,
)

SRC = "/root/testdata/sf0.001"  # 500 embedding rows
N_CLUSTERS = 16
SIGMA = 0.78


@pytest.fixture(scope="module")
def clustered():
    import duckdb

    tbl = clustered_embeddings_table(
        duckdb.connect(), SRC, 1, N_CLUSTERS, SIGMA
    )
    ids = tbl.column("vec_id").to_pylist()
    vecs = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    return ids, vecs


def _cluster_of(vid: int) -> int:
    # a twin belongs to its PREDECESSOR's cluster
    base = vid - 1 if vid % TWIN_EVERY == TWIN_EVERY - 1 else vid
    return base % N_CLUSTERS


def test_three_separated_cosine_bands(clustered):
    ids, vecs = clustered
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
    sims = vecs @ vecs.T
    idx = {v: i for i, v in enumerate(ids)}

    twin, within, cross = [], [], []
    for a_pos, a in enumerate(ids):
        for b in ids[a_pos + 1:]:
            s = sims[idx[a], idx[b]]
            if (b % TWIN_EVERY == TWIN_EVERY - 1 and b - 1 == a) or (
                a % TWIN_EVERY == TWIN_EVERY - 1 and a - 1 == b
            ):
                twin.append(s)
            elif _cluster_of(a) == _cluster_of(b):
                within.append(s)
            else:
                cross.append(s)

    assert min(twin) > 0.94  # the dup band (dup_threshold 0.9 catches it)
    # cluster band centred near 1/(1+sigma^2) ~= 0.62, clear of both
    # the twin band above and the cross bulk below
    w = np.array(within)
    assert 0.55 < w.mean() < 0.70
    assert np.quantile(w, 0.99) < min(twin)
    c = np.array(cross)
    assert abs(c.mean()) < 0.05
    # the bands separate: 95% of cluster-band mass above 99.9% of
    # cross mass (the margin that makes "true top-k" unambiguous)
    assert np.quantile(w, 0.05) > np.quantile(c, 0.999)


def test_generator_is_pure_function_of_vec_id(clustered):
    import duckdb

    ids, vecs = clustered
    again = clustered_embeddings_table(
        duckdb.connect(), SRC, 1, N_CLUSTERS, SIGMA
    )
    assert again.column("vec_id").to_pylist() == ids
    assert np.array_equal(
        np.array(again.column("embedding").to_pylist(), dtype=np.float64),
        vecs,
    )


def test_recall_ladder_discriminates_on_clustered_geometry(
    clustered, spark
):
    """The point of the fixture: on planted clusters, fewer bits ->
    strictly more negative recall, with decision-sized steps (the
    r14 SCALE ladder's shape), and multiprobe dominates single-probe
    at equal bits (theorem). On the standard near-uniform fixture
    these recalls all sit within a noise band of each other."""
    from us_immigration_data_lake_spark.operators import similarity as sim

    ids, vecs = clustered
    # 300-row slice: the exact all-pairs side is the cost driver and
    # the discrimination claim needs geometry, not volume (the
    # multiprobe>=single theorem is pinned in test_llm_ops)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v])
         for i, v in zip(ids, vecs) if i < 300],
        "vec_id long, embedding array<double>",
    )
    rows = sim.hard_negative_recall(
        df, "vec_id", "embedding", k=3, dim=64, dup_threshold=0.9,
        configs=((3, True), (5, True)),
    ).collect()
    rec = {(r.num_bits, bool(r.multiprobe)): r.recall for r in rows}
    assert rec[(3, True)] > rec[(5, True)] + 0.05  # bits discriminate
    assert rec[(3, True)] > 0.5  # meaningful absolute recall, not noise
