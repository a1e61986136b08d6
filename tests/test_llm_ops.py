"""Behavioral tests for the LLM-pipeline operators: planted duplicates
must be found by MinHash-LSH, SimHash must separate near/far docs, SRP
LSH must agree with exact brute force on its candidates, multimodal
plumbing must round-trip bytes through Arrow batches."""

from __future__ import annotations

import re
import time

import pytest
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators import dedup as dd
from us_immigration_data_lake_spark.operators import multimodal as mm
from us_immigration_data_lake_spark.operators import similarity as sim
from us_immigration_data_lake_spark.operators import storage
from us_immigration_data_lake_spark.operators import textstats as ts


@pytest.fixture(scope="module")
def planted(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    far = "completely different content about databases and distributed query engines"
    far2 = "unrelated words describing mountains rivers valleys and weather patterns"
    rows = [(1, base), (2, near), (3, far), (4, far2), (5, base)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_planted_dups(planted):
    pairs = dd.near_dup_pairs(
        planted, "doc_id", "text", shingle_n=3, num_hashes=32, bands=16, threshold=0.5
    )
    got = {(r.id1, r.id2) for r in pairs.collect()}
    assert (1, 5) in got  # exact dup
    assert (1, 2) in got or (2, 5) in got  # near dup
    assert (3, 4) not in got


def test_minhash_exact_dup_jaccard_is_one(planted):
    pairs = dd.near_dup_pairs(
        planted, "doc_id", "text", shingle_n=3, num_hashes=32, bands=16, threshold=0.5
    )
    j = {(r.id1, r.id2): r.jaccard for r in pairs.collect()}
    assert j[(1, 5)] == 1.0


def test_minhash_portable_finds_planted_dups(planted):
    """portable=True (md5_long hashing, the oracle-checkable mode) must
    behave like the xxhash64 path on planted duplicates: different hash
    family, same LSH semantics."""
    pairs = dd.near_dup_pairs(
        planted, "doc_id", "text", shingle_n=3, num_hashes=32, bands=16,
        threshold=0.5, portable=True,
    )
    j = {(r.id1, r.id2): r.jaccard for r in pairs.collect()}
    assert j[(1, 5)] == 1.0  # exact dup, exact-Jaccard verified
    assert (3, 4) not in j


def test_q185_production_pairs_subset_of_exact(spark):
    """q185 (xxhash64 production path, rows-only at the driver) must
    emit ONLY true near-dup pairs — every emitted pair's jaccard is
    exact-verified post-banding, so the output is a subset of the
    all-pairs ground truth — and its banding recall on the real
    sf0.001 corpus must match the hash-oracled portable twin's (q20)
    to within the probabilistic wiggle of LSH: which borderline pairs
    collide in ≥1 of the 6 bands depends on the hash family (observed:
    xxhash64 recovers 3 true pairs md5 misses), so equality is the
    wrong assertion — no-false-positives plus a recall floor is."""
    from us_immigration_data_lake_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    prod = {
        (r.id1, r.id2)
        for r in QUERIES["q185_lsh_production_hash"].fn(spark, sf).collect()
    }
    portable = {
        (r.id1, r.id2)
        for r in QUERIES["q20_minhash_near_dups"].fn(spark, sf).collect()
    }
    # exact ground truth: token-2-gram Jaccard over all pairs, DuckDB
    import duckdb

    truth = {
        tuple(r)
        for r in duckdb.sql(f"""
        WITH tok AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             t -> t <> '') AS toks
          FROM '{sf}/documents.parquet'
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 2
                      THEN list_distinct([array_to_string(toks[i:i+1], ' ')
                                          for i in range(1, len(toks))])
                      ELSE [array_to_string(toks, ' ')] END AS shingles
          FROM tok
        )
        SELECT a.doc_id, b.doc_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))) >= 0.055
        """).fetchall()
    }
    assert prod, "production path found no pairs at sf0.001"
    assert prod <= truth, f"false positives: {sorted(prod - truth)[:5]}"
    # NOTE: absolute recall vs the 0.055-threshold ground truth is NOT
    # asserted — at 24 hashes / 6 bands the LSH S-curve midpoint is
    # ~(1/6)^(1/4) ≈ 0.64, so barely-above-threshold pairs are *meant*
    # to be missed (the all-pairs truth here is ~1000× the emitted set).
    # The contract is zero false positives (above) and that the
    # production hash family's banding recalls at least as much as the
    # oracled twin's, within one borderline pair per hundred found.
    slack = max(1, len(portable) // 100)
    assert len(prod) >= len(portable) - slack, (
        f"production path recalls less than the oracled twin: "
        f"{len(prod)} vs {len(portable)} pairs"
    )


def test_q185_production_recall_floor_sf001(spark):
    """Recall FLOOR for the xxhash64 production path against the exact
    Jaccard-verified pair set at sf0.01 (r6 verdict ask #4): the
    portable twins (q20/q182) hash-gate the *plan*, but a banding
    regression specific to xxhash64 (e.g. a seed/band mixing bug that
    collapses or scatters band keys) is invisible to them.  High-sim
    pairs pin it: at 24 hashes / 6 bands / 4 rows, a j >= 0.5 pair
    collides in >= 1 band w.p. >= 1-(1-0.5^4)^6 ~= 0.32 per pair, but
    the fixture's planted dups are all j >= 0.9 (collision prob
    >= 0.998), and the production path currently recovers 25/25.  The
    0.9 floor tolerates one unlucky borderline pair if fixtures ever
    change while still failing hard on any systematic banding break
    (which drops recall to ~0)."""
    import duckdb

    from us_immigration_data_lake_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    prod = {
        (r.id1, r.id2)
        for r in QUERIES["q185_lsh_production_hash"].fn(spark, sf).collect()
    }
    hi = {
        tuple(r)
        for r in duckdb.sql(f"""
        WITH tok AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                             t -> t <> '') AS toks
          FROM '{sf}/documents.parquet'
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 2
                      THEN list_distinct([array_to_string(toks[i:i+1], ' ')
                                          for i in range(1, len(toks))])
                      ELSE [array_to_string(toks, ' ')] END AS shingles
          FROM tok
        )
        SELECT a.doc_id, b.doc_id
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))) >= 0.5
        """).fetchall()
    }
    assert hi, "fixture lost its planted high-Jaccard dups"
    recall = len(prod & hi) / len(hi)
    assert recall >= 0.9, (
        f"production banding recall {recall:.2f} over {len(hi)} exact "
        f"j>=0.5 pairs — xxhash64 band-key regression?"
    )


def test_simhash_portable_separates_near_far(spark, planted):
    sig = dd.simhash(planted, "doc_id", "text", portable=True)
    s = {r.doc_id: r.simhash for r in sig.collect()}
    assert s[1] == s[5]
    assert all(0 <= v < (1 << 60) for v in s.values())  # 60-bit range
    near = (
        spark.createDataFrame([(s[1], s[2]), (s[1], s[3])], ["a", "b"])
        .select(dd.hamming64("a", "b").alias("d"))
        .collect()
    )
    assert near[0].d < near[1].d


def test_simhash_near_docs_have_small_hamming(spark, planted):
    sig = dd.simhash(planted, "doc_id", "text")
    s = {r.doc_id: r.simhash for r in sig.collect()}
    assert s[1] == s[5]  # identical text → identical simhash
    near = (
        spark.createDataFrame([(s[1], s[2]), (s[1], s[3])], ["a", "b"])
        .select(dd.hamming64("a", "b").alias("d"))
        .collect()
    )
    assert near[0].d < near[1].d  # near pair closer than far pair


def test_srp_lsh_subset_of_exact_scores(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 5)
    exact = sim.cosine_knn(emb, queries, "vec_id", "embedding", k=3)
    approx = sim.srp_lsh_knn(
        emb, queries, "vec_id", "embedding", k=3, dim=dim, num_bits=4
    )
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()}
    for r in approx.collect():
        # every approx hit's score must equal the exact computation
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert abs(exact_scores[key] - r.cosine_sim) < 1e-9


def test_srp_multiprobe_improves_recall(spark):
    """At fixed num_bits, probing the Hamming-1 buckets must recover
    strictly more of the exact top-k than the single-bucket join, and
    never lose a hit the single bucket already had (the exact bucket is
    always among the probes)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.cosine_knn(emb, queries, "vec_id", "embedding", k=5).collect()
    }
    kw = dict(k=5, dim=64, num_bits=6)
    single = {
        (r.query_id, r.neighbor_id)
        for r in sim.srp_lsh_knn(emb, queries, "vec_id", "embedding", **kw).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in sim.srp_lsh_knn(
            emb, queries, "vec_id", "embedding", multiprobe=True, **kw
        ).collect()
    }
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi > recall_single
    assert single & exact <= multi  # multiprobe keeps every single-bucket hit


def test_cosine_knn_self_excluded_and_k(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    out = sim.cosine_knn(emb, queries, "vec_id", "embedding", k=3).collect()
    assert len(out) == 15
    assert all(r.neighbor_id != r.query_id for r in out)
    assert all(-1.0 <= r.cosine_sim <= 1.0 for r in out)


def test_multimodal_feature_extraction_roundtrip(spark, planted):
    media = mm.text_as_media(planted, "doc_id", "text")
    feats = mm.extract_features(media, num_features=4)
    rows = {r.media_id: r for r in feats.collect()}
    assert rows[1].byte_len == len(
        "the quick brown fox jumps over the lazy dog again and again today".encode()
    )
    assert rows[1].features == rows[5].features  # deterministic
    assert len(rows[1].features) == 4


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG")


def test_lang_id_deterministic_tiebreak(spark):
    df = spark.createDataFrame([(1, "xyz qqq www")], ["doc_id", "text"])
    out = ts.lang_id(df, "doc_id", "text").collect()[0]
    assert out.predicted_lang == "en"  # all-zero scores → first profile wins


def test_quality_score_bounds(spark, planted):
    feats = ts.text_features(planted, "doc_id", "text")
    scored = ts.quality_score(feats)
    for r in scored.collect():
        assert 0.0 <= r.quality_score <= 1.0


def test_cosine_knn_pandas_matches_native(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    native = sim.cosine_knn(emb, queries, "vec_id", "embedding", k=3)
    qrows = [(r.vec_id, list(r.embedding)) for r in queries.collect()]
    pandas_v = sim.cosine_knn_pandas(emb, qrows, "vec_id", "embedding", k=3)
    a = sorted((r.query_id, r.neighbor_id, r.cosine_sim) for r in native.collect())
    b = sorted((r.query_id, r.neighbor_id, r.cosine_sim) for r in pandas_v.collect())
    # numpy dot accumulates in a different order than the sequential
    # fold — equal to 1e-6 after rounding, identical neighbor sets
    assert [(q, n) for q, n, _ in a] == [(q, n) for q, n, _ in b]
    assert all(abs(x[2] - y[2]) <= 1e-6 for x, y in zip(a, b))


def test_ivf_knn_scores_match_exact(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    cents = [list(r.embedding) for r in emb.filter(F.col("vec_id") % 97 == 0).collect()][:4]
    approx = sim.ivf_knn(emb, queries, "vec_id", "embedding", k=3,
                         centroids=cents, nprobe=2)
    exact = sim.cosine_knn(emb, queries, "vec_id", "embedding", k=50)
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()}
    rows = approx.collect()
    assert rows, "ivf returned no candidates"
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert abs(exact_scores[key] - r.cosine_sim) < 1e-9


def test_winnow_fingerprints_robust_to_local_edit(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    edited = base.replace("jumps", "leaps")
    df = spark.createDataFrame([(1, base), (2, edited)], ["doc_id", "text"])
    fps = ts.winnow_fingerprints(df, "doc_id", "text")
    s1 = {r.fingerprint for r in fps.filter(F.col("doc_id") == 1).collect()}
    s2 = {r.fingerprint for r in fps.filter(F.col("doc_id") == 2).collect()}
    overlap = len(s1 & s2) / len(s1 | s2)
    assert overlap > 0.5  # local edit perturbs only nearby windows


def test_winnow_fingerprints_short_doc_fallback(spark):
    df = spark.createDataFrame([(1, "tiny"), (2, "tiny")], ["doc_id", "text"])
    fps = ts.winnow_fingerprints(df, "doc_id", "text")
    rows = fps.collect()
    assert len(rows) == 2
    assert rows[0].fingerprint == rows[1].fingerprint  # same text, same hash


def test_connected_components_merges_chains(spark):
    # chain 1-2-3, pair 10-11, singleton 99 untouched
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id1", "id2"]
    )
    comps = dd.connected_components(pairs)
    got = {r.id: r.cluster for r in comps.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_fused_round_matches_union_find(spark):
    # r15: the pointer jump rides the neighbor-min join as label
    # edges (one join per round instead of two). Pin the fixpoint
    # against an independent union-find on a graph with the jump's
    # worst case (a 60-chain) plus a dense random block, and that the
    # default round budget still converges (running out raises).
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(60)]  # chain 0..60
    edges += [
        (100 + rng.randrange(40), 100 + rng.randrange(40))
        for _ in range(50)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id1", "id2"])
    comps = {r.id: r.cluster for r in dd.connected_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # root stays the min id
    want = {x: find(x) for x in parent}
    assert comps == want


def test_connected_components_local_and_loop_paths_agree(spark, monkeypatch):
    # r16: small integral-id graphs are labeled on the driver by one
    # union-find pass (CC_LOCAL_EDGE_LIMIT ladder); big / non-integral
    # graphs take the distributed loop. Pin that both paths produce
    # the identical fixpoint on the same graph.
    import random

    rng = random.Random(11)
    edges = [(i, i + 1) for i in range(40)]
    edges += [
        (200 + rng.randrange(30), 200 + rng.randrange(30))
        for _ in range(40)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id1", "id2"])

    local = {r.id: r.cluster for r in dd.connected_components(pairs).collect()}
    monkeypatch.setattr(dd, "CC_LOCAL_EDGE_LIMIT", 0)  # force the loop
    loop = {r.id: r.cluster for r in dd.connected_components(pairs).collect()}
    assert local == loop

    # non-integral ids must take the loop (Python vs Spark string
    # ordering is not gated, so the local path refuses them)
    spairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["id1", "id2"]
    )
    monkeypatch.setattr(dd, "CC_LOCAL_EDGE_LIMIT", 100_000)
    got = {r.id: r.cluster for r in dd.connected_components(spairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_raises_when_rounds_run_out(spark, monkeypatch):
    # split clusters would leak duplicates into a corpus build, so an
    # exhausted round budget is an error, never a partial labeling
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)], ["id1", "id2"])
    monkeypatch.setattr(dd, "CC_LOCAL_EDGE_LIMIT", 0)  # force the loop
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds; raise max_iter$"):
        dd.connected_components(pairs, max_iter=1)


def test_connected_components_local_path_releases_edge_checkpoint(spark):
    # the local path checkpoints the one-direction edge set, collects
    # it and returns a LocalRelation of labels: the edge blocks must be
    # released before it returns, or a long-lived session pins one
    # checkpoint per call
    from conftest import wait_for_background_sweeps

    wait_for_background_sweeps()  # sweeps checkpoint concurrently
    jsc = spark.sparkContext._jsc
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id1", "id2"])
    before = jsc.getPersistentRDDs().size()
    labels = dd.connected_components(pairs)
    assert jsc.getPersistentRDDs().size() == before
    assert sorted(map(tuple, labels.collect())) == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
    ]


def test_dedup_survivors_keep_flags(spark):
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], ["doc_id"])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id1", "id2"])
    out = {r.doc_id: (r.cluster, r.keep) for r in
           dd.dedup_survivors(docs, pairs, "doc_id").collect()}
    assert out[1] == (1, True) and out[2] == (1, False) and out[3] == (1, False)
    assert out[10] == (10, True) and out[11] == (10, False)
    assert out[99] == (99, True)  # singleton survives


def test_chunk_documents_coverage_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(120))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    chunks = sorted(
        ts.chunk_documents(df, "doc_id", "text", chunk_tokens=50, overlap=10).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert len(chunks) == 3  # ceil((120-10)/40) = 3
    assert chunks[0].chunk_text.startswith("w0 ") and chunks[0].n_tokens == 50
    assert chunks[1].chunk_start_token == 40
    # overlap: last 10 tokens of chunk0 == first 10 of chunk1
    assert chunks[0].chunk_text.split()[-10:] == chunks[1].chunk_text.split()[:10]
    # full coverage: last chunk reaches the final token
    assert chunks[-1].chunk_text.split()[-1] == "w119"


def test_chunk_documents_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "only three tokens")], ["doc_id", "text"])
    rows = ts.chunk_documents(df, "doc_id", "text", 50, 10).collect()
    assert len(rows) == 1 and rows[0].n_tokens == 3


def test_resize_media_exact_shape(spark, planted):
    media = mm.text_as_media(planted, "doc_id", "text")
    out = {r.media_id: r for r in mm.resize_media(media, 8, 4).collect()}
    assert all(len(r.content) == 32 for r in out.values())
    assert out[1].meta_width == 8 and out[1].meta_height == 4
    assert out[1].content == out[5].content  # deterministic


def test_sample_frames_stride(spark, planted):
    media = mm.text_as_media(planted, "doc_id", "text")
    frames = mm.sample_frames(media, frame_bytes=8, every_nth=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.media_id, []).append(r.frame_idx)
    # doc 1 text is 66 bytes → 8 frames → sampled 0,2,4,6
    assert sorted(by_doc[1]) == [0, 2, 4, 6]
    assert all(len(r.frame) <= 8 for r in frames)


def test_oversized_buckets_reports_dropped(spark):
    band = spark.createDataFrame(
        [(0, 7, i) for i in range(5)] + [(0, 9, 100), (0, 9, 101)],
        ["band_idx", "band_hash", "doc_id"],
    )
    dropped = dd.oversized_buckets(band, "doc_id", max_bucket_size=3).collect()
    assert len(dropped) == 1 and dropped[0].bucket_n == 5
    pairs = dd.candidate_pairs(band, "doc_id", max_bucket_size=3).collect()
    assert {(r.id1, r.id2) for r in pairs} == {(100, 101)}


def test_oversized_bucket_star_pairs_linear_recovery(spark):
    # mega-bucket of 5 ids with cap 3: all-pairs would be 10 rows,
    # anchor-star recovery is 4 (each member paired with the min id)
    band = spark.createDataFrame(
        [(0, 7, i) for i in range(5)] + [(0, 9, 100), (0, 9, 101)],
        ["band_idx", "band_hash", "doc_id"],
    )
    stars = dd.oversized_bucket_star_pairs(band, "doc_id", max_bucket_size=3)
    assert {(r.id1, r.id2) for r in stars.collect()} == {
        (0, 1), (0, 2), (0, 3), (0, 4)
    }


def test_near_dup_frames_recovers_mega_bucket(spark):
    # four byte-identical docs → identical signatures → one bucket of 4
    # in every band, over the cap of 2. Without recovery the cluster is
    # invisible; with it, anchor-star pairs survive Jaccard verification
    # and connect all four through doc 1.
    text = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(i, text) for i in (1, 2, 3, 4)] + [(9, "something about rivers "
         "and mountains entirely unrelated to the rest here")],
        ["doc_id", "text"],
    )
    kw = dict(shingle_n=3, num_hashes=16, bands=4, threshold=0.5,
              max_bucket_size=2)
    silent = dd.near_dup_frames(docs, "doc_id", "text", **kw)
    assert silent["pairs"].count() == 0
    assert silent["oversized"].count() > 0
    recovered = dd.near_dup_frames(
        docs, "doc_id", "text", recover_oversized=True, **kw
    )
    got = {(r.id1, r.id2) for r in recovered["pairs"].collect()}
    assert got == {(1, 2), (1, 3), (1, 4)}
    survivors = dd.dedup_survivors(docs, recovered["pairs"], "doc_id")
    kept = {r.doc_id for r in survivors.filter("keep").collect()}
    assert kept == {1, 9}


def test_bm25_term_scores_planted(spark):
    # N=4 docs, sum_dl=13 tokens; hand-checkable fractions below
    df = spark.createDataFrame(
        [
            (1, "apple apple apple banana"),
            (2, "apple banana banana banana"),
            (3, "banana cherry cherry cherry"),
            (4, "apple"),
        ],
        ["doc_id", "text"],
    )
    out = ts.bm25_term_scores(df, "doc_id", "text", terms=("apple", "cherry"))
    rows = out.collect()

    apple = [r for r in rows if r.term == "apple"]
    # more hits beats fewer (d1 > d2 at same dl); same tf, shorter doc
    # wins (d4 > d2) — BM25 length normalization
    assert [r.doc_id for r in apple] == [1, 4, 2]
    d1 = apple[0]
    # exact fraction, df(apple)=3: num = tf*44*sum_dl*(2N-2df+1),
    # den = (tf*20*sum_dl + 6*sum_dl + 18*dl*N) * (2df+1)
    assert d1.score_num == 3 * 44 * 13 * 3
    assert d1.score_den == (3 * 20 * 13 + 6 * 13 + 18 * 4 * 4) * 7

    from fractions import Fraction

    scores = [Fraction(r.score_num, r.score_den) for r in apple]
    assert scores == sorted(scores, reverse=True)

    # cherry is rarer (df=1 vs 3): its idf factor (2N-2df+1)/(2df+1)
    # must exceed apple's
    cherry = [r for r in rows if r.term == "cherry"]
    assert [r.doc_id for r in cherry] == [3]
    assert Fraction(2 * 4 - 2 * 1 + 1, 2 * 1 + 1) > Fraction(2 * 4 - 2 * 3 + 1, 2 * 3 + 1)


def test_bm25_absent_term_and_rank_cap(spark):
    df = spark.createDataFrame(
        [(i, "common words here") for i in range(12)], ["doc_id", "text"]
    )
    out = ts.bm25_term_scores(df, "doc_id", "text", terms=("common", "missing"), k=5)
    rows = out.collect()
    assert all(r.term == "common" for r in rows)  # absent term: no rows, no error
    assert len(rows) == 5  # k caps per-term output
    assert [r.rnk for r in rows] == [1, 2, 3, 4, 5]


def test_train_ivf_centroids_planted_blobs(spark):
    # three well-separated direction blobs in 4-d (pairwise cosine ~0.01)
    axes = {0: [10.0, 0.0, 0.0, 1.0], 1: [0.0, 10.0, 0.0, 1.0],
            2: [0.0, 0.0, 10.0, 1.0]}
    rows = [
        (i, [x + ((i * 37 + j * 11) % 5) * 0.01
             for j, x in enumerate(axes[i % 3])])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = sim.train_ivf_centroids(df, "vec_id", "embedding", k=3, iters=4)
    assert len(cents) == 3 and all(len(c) == 4 for c in cents)
    # each centroid is dominated by a distinct blob axis
    assert sorted(max(range(4), key=lambda j: c[j]) for c in cents) == [0, 1, 2]
    # deterministic seeding + converged assignment → reproducible
    again = sim.train_ivf_centroids(df, "vec_id", "embedding", k=3, iters=4)
    assert all(
        abs(a - b) < 1e-9 for c1, c2 in zip(cents, again)
        for a, b in zip(c1, c2)
    )
    # trained cells route queries to their own blob
    queries = df.filter(F.col("vec_id") < 3)
    res = sim.ivf_knn(df, queries, "vec_id", "embedding", k=3,
                      centroids=cents, nprobe=1)
    got = res.collect()
    assert got, "no neighbors returned"
    for r in got:
        assert r.neighbor_id % 3 == r.query_id % 3


def test_train_ivf_centroids_k_exceeds_corpus(spark):
    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    import pytest as _pytest
    with _pytest.raises(ValueError, match="need k=3"):
        sim.train_ivf_centroids(df, "vec_id", "embedding", k=3, iters=1)


def test_near_dup_pairs_agree_with_mllib_minhash(spark):
    """Independent-implementation check: our banded MinHash-LSH and
    Spark MLlib's MinHashLSH, amplification-matched (24 OR-tables =
    24 bands x 1 row), must verify the SAME near-dup pairs with the
    SAME exact Jaccard on the gate corpus. MLlib hashes HashingTF
    feature indices where we hash shingle values directly, so
    agreement here is two unrelated code paths reaching one answer."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frames = dd.near_dup_frames(
        docs, "doc_id", "text", shingle_n=3, num_hashes=24, bands=24,
        threshold=0.5, max_bucket_size=100000,
    )
    ours = {(r.id1, r.id2): r.jaccard for r in frames["pairs"].collect()}

    sh = dd.shingles(docs, "doc_id", "text", n=3).filter(F.size("shingles") > 0)
    feats = HashingTF(
        inputCol="shingles", outputCol="features",
        numFeatures=1 << 20, binary=True,
    ).transform(sh)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=24, seed=42
    ).fit(feats)
    joined = mh.approxSimilarityJoin(feats, feats, 0.5, distCol="d")
    theirs = {
        (r.datasetA.doc_id, r.datasetB.doc_id): 1 - r.d
        for r in joined.collect()
        if r.datasetA.doc_id < r.datasetB.doc_id
    }

    assert ours, "no near-dup pairs found on the gate corpus"
    # compare away from the threshold boundary: our gate is jaccard
    # >= 0.5 inclusive while approxSimilarityJoin keeps distance < 0.5
    # strict, so a pair at exactly 0.5 legitimately differs; and
    # HashingTF's 2^20-bucket collisions can shift MLlib's jaccard by
    # ~1/|union|, so tolerance is 1e-3, not exact
    strict_ours = {k for k, v in ours.items() if v >= 0.505}
    strict_theirs = {k for k, v in theirs.items() if v >= 0.505}
    assert strict_ours, "no pairs above the boundary band"
    assert strict_ours == strict_theirs
    assert all(abs(ours[k] - theirs[k]) < 1e-3 for k in strict_ours)


def test_train_ivf_centroids_agree_with_mllib_kmeans(spark):
    """Independent-implementation check: on well-separated blobs (where
    cosine and Euclidean assignment partition identically), our
    Lloyd's-over-DataFrames training and MLlib's KMeans must converge
    to the same three centroids to machine precision."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    axes = {0: [10.0, 0.0, 0.0, 1.0], 1: [0.0, 10.0, 0.0, 1.0],
            2: [0.0, 0.0, 10.0, 1.0]}
    rows = [
        (i, [x + ((i * 37 + j * 11) % 5) * 0.01
             for j, x in enumerate(axes[i % 3])])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    ours = sim.train_ivf_centroids(df, "vec_id", "embedding", k=3, iters=6)

    feats = df.select(array_to_vector(F.col("embedding")).alias("features"))
    theirs = [list(c) for c in KMeans(k=3, seed=7, maxIter=20).fit(feats)
              .clusterCenters()]

    def dom(c):
        return max(range(4), key=lambda j: c[j])

    o = {dom(c): c for c in ours}
    t = {dom(c): c for c in theirs}
    assert sorted(o) == sorted(t) == [0, 1, 2]
    assert all(abs(a - b) < 1e-9 for k in o for a, b in zip(o[k], t[k]))


def test_bm25_multiterm_sums_contributions(spark):
    df = spark.createDataFrame(
        [
            (1, "apple cherry banana"),
            (2, "apple banana banana"),
            (3, "banana banana banana"),
        ],
        ["doc_id", "text"],
    )
    out = ts.bm25_multiterm_topk(
        df, "doc_id", "text", terms=("apple", "cherry")
    ).collect()
    got = {r.doc_id: (r.score, r.rnk) for r in out}
    # doc with both terms outranks doc with one (same dl, same tf)
    assert got[1][1] == 1 and got[2][1] == 2
    assert got[1][0] > got[2][0]
    # doc with neither term never appears
    assert 3 not in got

    # score equals the per-term contributions summed in term order
    # (double quotients — mirrors the operator's own fixed-order sum)
    per_term = ts.bm25_term_scores(
        df, "doc_id", "text", terms=("apple", "cherry")
    ).collect()
    frac = {}
    for r in per_term:
        frac.setdefault(r.doc_id, {})[r.term] = (r.score_num, r.score_den)
    for doc_id, (score, _) in got.items():
        expect = 0.0
        for t in ("apple", "cherry"):
            if t in frac[doc_id]:
                n, d = frac[doc_id][t]
                expect += n / d
        assert abs(score - round(expect, 6)) < 1e-9


def test_bm25_term_collision_guard(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="collides"):
        ts.bm25_multiterm_topk(df, "doc_id", "text", terms=("doc_id",))
    with pytest.raises(ValueError, match="backtick"):
        ts.bm25_multiterm_topk(df, "doc_id", "text", terms=("a`b",))


def test_bm25_tokenizer_vertical_tab_parity(spark):
    """Java's \\s includes \\x0B, RE2's does not — the operator uses an
    explicit class so a vertical tab splits tokens identically to the
    DuckDB oracle's string_split_regex."""
    df = spark.createDataFrame([(1, "apple\x0bapple apple")], ["doc_id", "text"])
    out = ts.bm25_term_scores(df, "doc_id", "text", terms=("apple",)).collect()
    assert out[0].tf == 3 and out[0].dl == 3

    import duckdb

    got = duckdb.connect().execute(
        r"select len(string_split_regex('apple' || chr(11) || 'apple apple',"
        r" '[ \t\n\x0B\f\r]+'))"
    ).fetchone()[0]
    assert got == 3


# ---------------------------------------------------------------------------
# repetition / n-gram census / PII / stratified sampling (q60-q63 ops)
# ---------------------------------------------------------------------------


def test_repetition_stats_planted(spark):
    from us_immigration_data_lake_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # one token, fully repetitive
            (2, "a b c d"),                      # all distinct
            (3, "x y x y x y z"),                # dominant "x y" bigram
            (4, "solo"),                         # single token: no bigram
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}

    r1 = rows[1]
    assert r1["n_tokens"] == 4 and r1["n_distinct_tokens"] == 1
    assert r1["dup_token_frac"] == 0.75
    assert r1["top_bigram"] == "spam spam" and r1["top_bigram_count"] == 3
    # occurrence-char MASS: 3 overlapping occurrences x 9 chars / 19
    # chars — deliberately exceeds 1.0 for tight repeats
    assert abs(r1["top_bigram_ratio"] - 27 / 19) < 1e-12

    r2 = rows[2]
    assert r2["dup_token_frac"] == 0.0
    # count-1 tie broken to lexicographically smallest bigram
    assert r2["top_bigram"] == "a b" and r2["top_bigram_count"] == 1

    r3 = rows[3]
    assert r3["top_bigram"] == "x y" and r3["top_bigram_count"] == 3

    r4 = rows[4]
    assert r4["top_bigram"] is None
    assert r4["top_bigram_count"] == 0 and r4["top_bigram_ratio"] == 0.0


def test_ngram_profile_planted(spark):
    from us_immigration_data_lake_spark.operators.textstats import ngram_profile

    df = spark.createDataFrame(
        [("p q p q",), ("p q r",), ("z z",)], ["text"]
    )
    got = [(r["bigram"], r["occurrences"]) for r in ngram_profile(df, "text", top_k=3).collect()]
    # "p q": 2+1 = 3; then count-1 ties lexicographic: "q p" < "q r"
    assert got == [("p q", 3), ("q p", 1), ("q r", 1)]


def test_pii_scrub_planted(spark):
    from us_immigration_data_lake_spark.operators.pii import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.com or 192.168.0.1 call +1-555-0100-222"),
            (2, "no pii here, just 1.2 floats and a@b (not an email)"),
            (3, "two ips 10.0.0.1 8.8.8.8 and one mail root@host.io"),
        ],
        ["id", "text"],
    )
    out = {r["id"]: r for r in scrub_pii(pii_counts(df, "text"), "text").collect()}

    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 1)
    assert out[1]["text_redacted"] == "mail [EMAIL] or [IPV4] call [PHONE]"

    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[2]["text_redacted"] == out[2]["text"]

    assert (out[3]["n_email"], out[3]["n_ipv4"]) == (1, 2)
    assert out[3]["text_redacted"] == "two ips [IPV4] [IPV4] and one mail [EMAIL]"


def test_pii_counts_match_scrub_on_overlap(spark):
    """Counts run on the progressively redacted text, so an address
    whose domain looks like an IPv4 is ONE email, zero IPs — counts
    always equal the number of placeholders the scrub emits."""
    from us_immigration_data_lake_spark.operators.pii import pii_counts, scrub_pii

    df = spark.createDataFrame([(1, "ping a@10.0.0.1.example now")], ["id", "text"])
    r = scrub_pii(pii_counts(df, "text"), "text").first()
    assert (r["n_email"], r["n_ipv4"], r["n_phone"]) == (1, 0, 0)
    assert r["text_redacted"] == "ping [EMAIL] now"
    assert r["text_redacted"].count("[IPV4]") == r["n_ipv4"]


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from us_immigration_data_lake_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 25, "fr": 50}
    s1 = stratified_sample(docs, "lang", "doc_id", rates)
    s2 = stratified_sample(docs, "lang", "doc_id", rates)
    # deterministic: identical selection on re-evaluation
    assert sorted(r["doc_id"] for r in s1.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in s2.select("doc_id").collect()
    )
    base = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    got = {r["lang"]: r["count"] for r in s1.groupBy("lang").count().collect()}
    # unlisted strata keep everything
    for lang in base:
        if lang not in rates:
            assert got[lang] == base[lang]
    # listed strata land near their rate (binomial tolerance on small n)
    assert got["en"] < base["en"] * 0.45
    assert got["fr"] < base["fr"] * 0.75


def test_stratified_sample_rejects_bad_rate(spark, sf_dir):
    from us_immigration_data_lake_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="0..100"):
        stratified_sample(docs, "lang", "doc_id", {"en": 101})


def test_sample_bucket_independent_of_split_bucket(spark, sf_dir):
    """Sampling (md5 digits 5-8) and train/test split (digits 1-4) must
    be independent draws: the split ratio inside a sample should match
    the global split ratio, not collapse."""
    from us_immigration_data_lake_spark.functions.splits import split_label
    from us_immigration_data_lake_spark.operators.sampling import sample_bucket

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sampled = docs.filter(sample_bucket("doc_id") < 50).withColumn(
        "split", split_label("doc_id", 80)
    )
    counts = {r["split"]: r["count"] for r in sampled.groupBy("split").count().collect()}
    total = sum(counts.values())
    assert 0.70 < counts.get("train", 0) / total < 0.90


def test_contaminated_docs_planted(spark):
    from us_immigration_data_lake_spark.operators.dedup import contaminated_docs

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            # shares the 5-gram "beta gamma delta epsilon zeta"
            (1, "intro beta gamma delta epsilon zeta outro"),
            # same words, different order: no shared 5-gram
            (2, "zeta epsilon delta gamma beta alpha"),
            (3, "totally unrelated text with many words here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["n_shared_shingles"]
        for r in contaminated_docs(corpus, bench, "doc_id", "text").collect()
    }
    # exactly one shared 5-gram: "beta gamma delta epsilon zeta"
    assert got == {1: 1}


def test_zorder_key_locality_and_bits(spark):
    from us_immigration_data_lake_spark.operators.zorder import zorder_key, zorder_sql

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], ["zx", "zy"]
    )
    rows = {(r["zx"], r["zy"]): r["z"] for r in df.select(
        "zx", "zy", zorder_key(("zx", "zy"), 3).alias("z")
    ).collect()}
    # interleave is exact: z = sum of bit-interleaved coordinates
    for (x, y), z in rows.items():
        expect = 0
        for i in range(3):
            expect |= ((x >> i) & 1) << (2 * i)
            expect |= ((y >> i) & 1) << (2 * i + 1)
        assert z == expect, (x, y, z, expect)
    # both dialect renderings come from the same term list
    assert zorder_sql(("a", "b"), 2, "spark").count("+") == zorder_sql(
        ("a", "b"), 2, "duckdb"
    ).count("+")
    with pytest.raises(ValueError, match="int64"):
        zorder_key(("a", "b"), 32)


def test_zorder_layout_is_range_partitioned(spark):
    from us_immigration_data_lake_spark.operators.zorder import zorder_layout

    df = spark.range(0, 4096).selectExpr("id % 64 AS zx", "id AS zy", "id AS v")
    out = zorder_layout(df, ("zx", "zy"), bits=6, num_files=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()
    assert out.count() == 4096  # clustering loses nothing


def test_salted_sum_matches_direct_agg(spark, sf_dir):
    from pyspark.sql import functions as F
    from us_immigration_data_lake_spark.operators.aggregate import salted_sum

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qty = F.col("l_quantity").cast("long")
    direct = {
        (r["l_returnflag"],): (r["s"], r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(qty).alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["s"], r["n"])
        for r in salted_sum(
            li, ["l_returnflag"], {"s": qty},
            salt=(F.col("l_orderkey") % 17), with_count="n",
        ).collect()
    }
    assert salted == direct


def test_oov_rate_planted(spark):
    from us_immigration_data_lake_spark.operators.textstats import oov_rate

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b zz"), (3, "qq ww")], ["doc_id", "text"]
    )
    # vocab_size=2 -> vocab = {a (4x), b (2x)}; ties impossible here
    got = {r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_frac"])
           for r in oov_rate(df, "doc_id", "text", vocab_size=2).collect()}
    assert got[1] == (4, 0, 0.0)
    assert got[2] == (3, 1, 1 / 3)
    assert got[3] == (2, 2, 1.0)


def test_postings_jaccard_matches_allpairs(spark):
    from us_immigration_data_lake_spark.operators.dedup import (
        postings_jaccard_pairs,
        shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on a mat"),
            (3, "dogs bark at the moon all night"),
            (4, "the cat sat on the mat today"),
        ],
        ["doc_id", "text"],
    )
    sh = shingles(docs, "doc_id", "text", n=2)
    got = {
        (r.id1, r.id2): round(r.jaccard, 9)
        for r in postings_jaccard_pairs(sh, "doc_id").collect()
    }
    a = sh.selectExpr("doc_id id1", "shingles s1")
    b = sh.selectExpr("doc_id id2", "shingles s2")
    want = {
        (r.id1, r.id2): round(r.jaccard, 9)
        for r in a.crossJoin(b)
        .filter("id1 < id2")
        .selectExpr(
            "id1",
            "id2",
            "CAST(size(array_intersect(s1, s2)) AS DOUBLE)"
            " / (size(s1) + size(s2) - size(array_intersect(s1, s2))) jaccard",
        )
        .filter("jaccard > 0")
        .collect()
    }
    assert got == want


def test_postings_jaccard_max_doc_freq_caps_hot_shingles(spark):
    from us_immigration_data_lake_spark.operators.dedup import (
        postings_jaccard_pairs,
        shingles,
    )

    # every doc shares "x y"; capping df at 2 removes that posting, so
    # only the pair linked by a rarer shingle survives
    docs = spark.createDataFrame(
        [(1, "x y a b"), (2, "x y a b"), (3, "x y q r")],
        ["doc_id", "text"],
    )
    sh = shingles(docs, "doc_id", "text", n=2)
    uncapped = postings_jaccard_pairs(sh, "doc_id").collect()
    assert {(r.id1, r.id2) for r in uncapped} == {(1, 2), (1, 3), (2, 3)}
    capped = postings_jaccard_pairs(sh, "doc_id", max_doc_freq=2).collect()
    # postings "x y" (df=3) dropped; (1,2) still share "a b" (df=2)
    assert {(r.id1, r.id2) for r in capped} == {(1, 2)}


def test_pack_sequences_offsets_and_contiguity(spark):
    from us_immigration_data_lake_spark.operators.packing import pack_sequences
    import pyspark.sql.functions as F

    items = spark.createDataFrame(
        [(i, 100 + (i * 37) % 300) for i in range(50)], ["id", "n_tok"]
    )
    packed = pack_sequences(items, "id", "n_tok", budget=512, shard_col=F.lit(0))
    rows = sorted(packed.collect(), key=lambda r: r.id)
    # running reconstruction: offsets restart modulo budget, seq ids
    # never decrease, and every token position is accounted for once
    cum = 0
    for r in rows:
        assert r.seq_id == cum // 512
        assert r.offset == cum % 512
        cum += r.n_tok
    assert cum == sum(r.n_tok for r in rows)


def test_unigram_xent_boilerplate_scores_low(spark):
    from us_immigration_data_lake_spark.operators.textstats import (
        unigram_cross_entropy,
    )

    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "rare unique tokens here now"),
            (3, "common common common again"),
        ],
        ["doc_id", "text"],
    )
    xent = {r.doc_id: r.xent for r in unigram_cross_entropy(docs, "doc_id", "text").collect()}
    assert xent[2] > xent[1]  # all-rare doc is higher-entropy than boilerplate


def test_semantic_dedup_planted_clusters(spark):
    # Three planted groups of near-identical vectors (tiny jitter) plus
    # two isolated vectors: semantic_dedup must cluster each group
    # under its smallest id and keep exactly one survivor per group.
    import numpy as np

    rng = np.random.RandomState(7)
    dim = 16
    protos = [rng.randn(dim) for _ in range(3)]
    rows = []
    vid = 0
    truth = {}
    for g, p in enumerate(protos):
        for _ in range(3):
            rows.append((vid, (p + rng.randn(dim) * 0.01).tolist()))
            truth[vid] = g
            vid += 1
    for _ in range(2):  # isolated
        rows.append((vid, rng.randn(dim).tolist()))
        truth[vid] = f"solo{vid}"
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster, r.keep)
        for r in sim.semantic_dedup(
            df, "vec_id", "embedding", threshold=0.9, dim=dim, num_bits=2
        ).collect()
    }
    assert len(out) == len(rows)  # every row labeled
    # group members share the group-min label; min keeps, others drop
    for g in range(3):
        members = [v for v, t in truth.items() if t == g]
        labels = {out[v][0] for v in members}
        assert labels == {min(members)}, (g, labels)
        assert out[min(members)][1] is True
        assert all(out[v][1] is False for v in members if v != min(members))
    # isolated vectors are their own kept singletons
    for v, t in truth.items():
        if isinstance(t, str):
            assert out[v] == (v, True)


def test_srp_bucket_pairs_subset_of_allpairs(spark):
    # the bucketed candidate set is exactly the all-pairs set filtered
    # to same-bucket membership — never a pair the exact form rejects
    import numpy as np

    rng = np.random.RandomState(11)
    dim = 8
    rows = [(i, rng.randn(dim).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bucketed = {
        (r.id1, r.id2)
        for r in sim.srp_bucket_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.3, dim=dim, num_bits=2
        ).collect()
    }
    exact = {
        (r.id1, r.id2)
        for r in sim.cosine_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.3
        ).collect()
    }
    assert bucketed <= exact


def test_recommended_num_bits_rule():
    """The SRP plane-count rule as code (r12 verdict ask #4):
    monotone in corpus size, realized occupancy within √2 of target
    when unclamped, and it reproduces BOTH of SCALE.md's measured
    ladders — the dedup rule (2 k rows → 8 bits, 20 k → 11, the
    'num_bits ≈ 8 + log2(ref scale)' row) and q233's mining ladder
    (2 k → 6 bits, 20 k → 10 at candidate occupancy 24)."""
    import math

    # monotone non-decreasing in n_rows, for both documented targets
    for occ in (8, 24):
        prev = 0
        for n in [1, 10, 100, 500, 2_000, 20_000, 1_000_000,
                  10**9, 10**12]:
            b = sim.recommended_num_bits(n, target_occupancy=occ)
            assert b >= prev, (occ, n, b, prev)
            prev = b

    # occupancy target: unclamped picks keep n / 2^bits within √2×
    # of the target (nearest-integer rounding of log2)
    for occ in (8, 24):
        for n in [400, 2_000, 20_000, 300_000, 5_000_000]:
            b = sim.recommended_num_bits(n, target_occupancy=occ)
            if 4 < b < 24:  # unclamped region only
                assert occ / math.sqrt(2) <= n / 2**b <= occ * math.sqrt(2)

    # SCALE.md anchor points (measured rows, r8 + r12)
    assert sim.recommended_num_bits(2_000) == 8
    assert sim.recommended_num_bits(20_000) == 11
    assert sim.recommended_num_bits(2_000, target_occupancy=24) == 6
    assert sim.recommended_num_bits(20_000, target_occupancy=24) == 10

    # clamps: tiny corpora floor at 4 bits, huge ones cap at 24
    # (plane-literal expressions must stay inside JVM codegen limits)
    assert sim.recommended_num_bits(0) == 4
    assert sim.recommended_num_bits(50) == 4
    assert sim.recommended_num_bits(10**12) == 24


def test_srp_auto_bits_matches_explicit(spark):
    """num_bits=None → the rule applied to a count() of the corpus:
    identical frames to passing the recommended value explicitly, on
    both wired operators (srp_bucket_near_dup_pairs and
    hard_negatives_indexed)."""
    import numpy as np

    rng = np.random.RandomState(7)
    dim = 8
    n = 600  # recommended_num_bits(600)=6 — away from the clamp floor
    rows = [(i, rng.randn(dim).tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    want_bits = sim.recommended_num_bits(n)
    assert want_bits == 6

    auto = sim.srp_bucket_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.3, dim=dim, num_bits=None
    )
    explicit = sim.srp_bucket_near_dup_pairs(
        df, "vec_id", "embedding", threshold=0.3, dim=dim,
        num_bits=want_bits,
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_srp_bucket_pairs_highdim_hof_subset_of_exact(spark):
    """The dim > UNROLL_MAX_DIM dedup path (HOF signature + HOF pair
    cosine, r13): bucketed pairs remain a SUBSET of the exact all-pairs
    set at dim 320 — the high-dim fallback changes the expression
    form, never the candidate semantics. (The dim-8 twin above pins
    the unrolled path; this pins the HOF one.)"""
    import numpy as np

    rng = np.random.RandomState(11)
    dim = 320
    assert dim > sim.UNROLL_MAX_DIM
    rows = [(i, rng.randn(dim).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bucketed = {
        (r.id1, r.id2)
        for r in sim.srp_bucket_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.1, dim=dim, num_bits=2
        ).collect()
    }
    exact = {
        (r.id1, r.id2): r.cosine_sim
        for r in sim.cosine_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.1
        ).collect()
    }
    assert bucketed <= set(exact)
    assert len(bucketed) > 0, "vacuous: no same-bucket pair above threshold"


def test_dedup_survivors_by_keeps_highest_score_smallest_id_tie(spark):
    # pairs: {1,2,3} one cluster, {7,8} another, 9 isolated.
    # scores: 2 is longest in cluster 1 -> survivor 2 (not min id 1);
    # 7 and 8 tie -> smallest id 7 survives.
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20), (7, 5), (8, 5), (9, 1)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id1 long, id2 long"
    )
    out = {
        r.doc_id: (r.cluster, r.keep)
        for r in dd.dedup_survivors_by(
            docs, pairs, "doc_id", score=F.col("score")
        ).collect()
    }
    assert out == {
        1: (1, False), 2: (1, True), 3: (1, False),
        7: (7, True), 8: (7, False),
        9: (9, True),
    }


def test_srp_frames_cap_semantics_and_recovery(spark):
    # r6: the SRP skew guard must mirror the text path's semantics —
    # capped pairs = (all-pairs of small buckets) ∪ (anchor-star of
    # mega buckets), every capped bucket counted in "oversized", and
    # an uncapped frames run must equal srp_bucket_near_dup_pairs.
    import numpy as np

    rng = np.random.RandomState(3)
    dim = 8
    # one dense planted cluster (mega bucket) + scattered vectors
    proto = rng.randn(dim)
    rows = [(i, (proto + rng.randn(dim) * 0.01).tolist()) for i in range(12)]
    rows += [(100 + i, rng.randn(dim).tolist()) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.5, dim=dim, num_bits=2)

    uncapped = sim.srp_near_dup_frames(
        df, "vec_id", "embedding", max_bucket_size=10**9, **kw
    )
    direct = sim.srp_bucket_near_dup_pairs(df, "vec_id", "embedding", **kw)
    assert {(r.id1, r.id2, r.cosine_sim) for r in uncapped["pairs"].collect()} == {
        (r.id1, r.id2, r.cosine_sim) for r in direct.collect()
    }
    assert uncapped["oversized"].count() == 0

    capped = sim.srp_near_dup_frames(
        df, "vec_id", "embedding", max_bucket_size=5,
        recover_oversized=True, **kw
    )
    over = capped["oversized"].collect()
    assert len(over) >= 1  # the planted cluster's bucket is capped
    assert all(r.bucket_n > 5 for r in over)
    capped_pairs = {(r.id1, r.id2) for r in capped["pairs"].collect()}
    # anchor-star recovery: the planted cluster still collapses to one
    # survivor under the smallest planted id
    surv = sim.semantic_dedup(
        df, "vec_id", "embedding", threshold=0.5, dim=dim, num_bits=2,
        max_bucket_size=5,
    ).collect()
    planted = {r.vec_id: (r.cluster, r.keep) for r in surv if r.vec_id < 100}
    assert {c for c, _ in planted.values()} == {0}
    assert [v for v, (_, k) in planted.items() if k] == [0]
    # capped candidates never invent a pair the exact form rejects
    exact = {
        (r.id1, r.id2)
        for r in sim.cosine_near_dup_pairs(
            df, "vec_id", "embedding", threshold=0.5
        ).collect()
    }
    assert capped_pairs <= exact


def test_semantic_dedup_default_engages_skew_guard(spark, monkeypatch):
    """r7 verdict ask #1: with NO arguments beyond the required ones,
    semantic_dedup must take the guarded srp_near_dup_frames path
    (cap=1000, anchor-star recovery ON) — a user must not get the
    measured-31×-at-10×-rows uncapped plan by omission. The uncapped
    plan remains available via an explicit max_bucket_size=None."""
    import numpy as np

    rng = np.random.RandomState(11)
    dim = 8
    df = spark.createDataFrame(
        [(i, rng.randn(dim).tolist()) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    calls = []
    real_frames = sim.srp_near_dup_frames
    real_uncapped = sim.srp_bucket_near_dup_pairs

    def spy_frames(*a, **kw):
        calls.append(("frames", kw.get("max_bucket_size"),
                      kw.get("recover_oversized")))
        return real_frames(*a, **kw)

    def spy_uncapped(*a, **kw):
        calls.append(("uncapped", None, None))
        return real_uncapped(*a, **kw)

    monkeypatch.setattr(sim, "srp_near_dup_frames", spy_frames)
    monkeypatch.setattr(sim, "srp_bucket_near_dup_pairs", spy_uncapped)

    out = sim.semantic_dedup(df, "vec_id", "embedding", threshold=0.9, dim=dim)
    assert out.count() == 6
    assert calls == [("frames", 1000, True)]

    calls.clear()
    sim.semantic_dedup(
        df, "vec_id", "embedding", threshold=0.9, dim=dim,
        max_bucket_size=None,
    ).count()
    assert calls == [("uncapped", None, None)]


def test_joint_dedup_bridges_modalities(spark):
    # A ~text~ B (near-identical text, far-apart embeddings) and
    # B ~semantic~ C (unrelated text, near-identical embeddings):
    # joint dedup must collapse {A,B,C} to ONE cluster under min id —
    # neither modality alone links A to C.
    import numpy as np

    from us_immigration_data_lake_spark.operators.dedup import (
        joint_near_dup_survivors,
    )

    rng = np.random.RandomState(5)
    dim = 8
    vb = rng.randn(dim)
    va = rng.randn(dim)  # far from vb
    vc = (vb + rng.randn(dim) * 0.01).tolist()  # near vb
    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, shared, va.tolist()),
        (1, shared + " extra", vb.tolist()),
        (2, "completely different words about maritime navigation law", vc),
        (3, "an unrelated isolated document about gardening", rng.randn(dim).tolist()),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )
    out = {
        r.doc_id: (r.cluster, r.keep)
        for r in joint_near_dup_survivors(
            df, "doc_id", "text", "embedding", dim=dim,
            jaccard_threshold=0.3, cosine_threshold=0.9,
            shingle_n=2, num_hashes=8, bands=8, num_bits=2,
        ).collect()
    }
    assert out[0] == (0, True)
    assert out[1] == (0, False)
    assert out[2] == (0, False)  # reachable only through B
    assert out[3] == (3, True)


def _joint_input(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", [1.0, 0.0]),
        (1, "the quick brown fox jumps over the lazy dog too", [0.0, 1.0]),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )


def _joint(df):
    return dd.joint_near_dup_survivors(
        df, "doc_id", "text", "embedding", dim=2, jaccard_threshold=0.3,
        cosine_threshold=0.9, shingle_n=2, num_hashes=8, bands=8, num_bits=2,
    )


def test_joint_dedup_builders_inherit_caller_job_group(spark, monkeypatch):
    # both candidate builders run on driver threads; the caller's job
    # group (and so its cancellation and tagging) must reach the eager
    # jobs each builder runs
    sc = spark.sparkContext
    seen = {}

    def recording(name, fn):
        def wrapped(*a, **k):
            seen[name] = sc.getLocalProperty("spark.jobGroup.id")
            return fn(*a, **k)
        return wrapped

    monkeypatch.setattr(dd, "near_dup_frames", recording("text", dd.near_dup_frames))
    monkeypatch.setattr(
        sim, "srp_near_dup_frames", recording("sem", sim.srp_near_dup_frames)
    )
    df = _joint_input(spark)
    sc.setJobGroup("joint-dedup-caller", "joint dedup test")
    try:
        out = {r.doc_id: r.keep for r in _joint(df).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {"text": "joint-dedup-caller", "sem": "joint-dedup-caller"}
    assert out == {0: True, 1: False}


def test_joint_dedup_builder_failure_cancels_sibling(spark, monkeypatch):
    # one builder raises while the other sits in a long Spark job: the
    # sibling's job is cancelled and the builder's own error surfaces,
    # instead of the caller waiting for the sibling to finish
    import threading
    import time

    started = threading.Event()

    def slow(it):
        for batch in it:
            time.sleep(120)
            yield batch

    def sem_builder(df, *a, **k):
        started.set()
        df.sparkSession.range(1).mapInPandas(slow, "id long").collect()
        raise AssertionError("sibling job was not cancelled")

    def text_builder(*a, **k):
        started.wait(60)
        time.sleep(1)  # let the sibling's job start
        raise ValueError("text builder failed")

    monkeypatch.setattr(dd, "near_dup_frames", text_builder)
    monkeypatch.setattr(sim, "srp_near_dup_frames", sem_builder)
    t0 = time.time()
    with pytest.raises(ValueError, match="text builder failed"):
        _joint(_joint_input(spark))
    assert time.time() - t0 < 60


def test_repeated_substring_spans_planted(spark):
    """r7 verdict ask #6 (Lee et al. ExactSubstr): planted repeated
    passages — cross-doc, within-doc, and an untouched unique doc.
    Hand-computed truth at k=3:
    - docs 10/20 share the 4-token run "a b c d"; canonical occurrence
      is doc 10 (smallest (id,pos)), so ONLY doc 20 gets a span, and
      its two duplicated positions (2,3) merge into one [2,6) span;
    - doc 30 repeats its own "m n o p" → the SECOND copy [4,8) drops;
    - doc 40 is unique → no spans."""
    rows = [
        (10, "a b c d e f"),
        (20, "x y a b c d q r s"),
        (30, "m n o p m n o p"),
        (40, "z0 z1 z2 z3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for portable in (False, True):
        spans = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in dd.repeated_substring_spans(
                df, "doc_id", "text", k=3, portable=portable
            ).collect()
        }
        assert spans == {(20, 2, 6, 4), (30, 4, 8, 4)}, (portable, spans)


def test_remove_repeated_substrings_planted(spark):
    rows = [
        (10, "a b c d e f"),
        (20, "x y a b c d q r s"),
        (30, "m n o p m n o p"),
        (40, "z0 z1 z2 z3"),
        (50, "t0 t1"),  # shorter than k: never shingled, must pass through
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_tokens, r.removed_tokens, r.n_spans)
        for r in dd.remove_repeated_substrings(
            df, "doc_id", "text", k=3, portable=True
        ).collect()
    }
    assert len(out) == 5  # every input row present
    assert out[10] == ("a b c d e f", 6, 0, 0)  # canonical copy survives
    assert out[20] == ("x y q r s", 9, 4, 1)
    assert out[30] == ("m n o p", 8, 4, 1)
    assert out[40] == ("z0 z1 z2 z3", 4, 0, 0)
    assert out[50] == ("t0 t1", 2, 0, 0)


def test_repeated_substring_min_count_threshold(spark):
    # min_count=3: a passage shared by only two docs is below threshold;
    # one shared by three drops everywhere but its canonical occurrence.
    rows = [
        (1, "p q r s junk1a junk1b"),
        (2, "junk2a p q r s junk2b"),
        (3, "junk3a junk3b p q r s"),
        (4, "u v w x only4a only4b"),
        (5, "only5a u v w x only5b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {
        (r.doc_id, r.span_start, r.span_end)
        for r in dd.repeated_substring_spans(
            df, "doc_id", "text", k=4, portable=True, min_count=3
        ).collect()
    }
    # "p q r s" occurs 3× → docs 2 and 3 lose it; "u v w x" occurs
    # only 2× → below min_count, untouched
    assert spans == {(2, 1, 5), (3, 2, 6)}


# --- cross-corpus dedup (r7: dedupe a new batch against a fixed ref) -------


@pytest.fixture(scope="module")
def cross_corpora(spark):
    ref_rows = [
        (10, "the quick brown fox jumps over the lazy dog again and again today"),
        (11, "completely different content about databases and distributed query engines"),
        (12, "reference only text that nothing in the new batch resembles at all"),
    ]
    new_rows = [
        # exact dup of ref 10
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        # near dup of ref 10
        (2, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
        # novel
        (3, "unrelated words describing mountains rivers valleys and weather patterns"),
        # near dup of ANOTHER new doc but of nothing in ref — must survive
        (4, "unrelated words describing mountains rivers valleys and weather maps"),
    ]
    return (
        spark.createDataFrame(new_rows, ["doc_id", "text"]),
        spark.createDataFrame(ref_rows, ["doc_id", "text"]),
    )


def _cross_pairs(new_df, ref_df, threshold=0.5, max_bucket_size=1000, **kw):
    """A one-shot text cross dedup: the reference index build, then
    the probe — ``(index frames, pairs)``."""
    frames = dd.cross_ref_index_frames(
        ref_df, "doc_id", "text", max_bucket_size=max_bucket_size, **kw
    )
    return frames, dd.cross_near_dup_pairs_indexed(
        new_df, frames["index"], "doc_id", "text", threshold=threshold,
        **kw,
    )


@pytest.mark.parametrize("portable", [False, True])
def test_cross_dedup_drops_only_ref_matches(cross_corpora, portable):
    new_df, ref_df = cross_corpora
    _, cross = _cross_pairs(
        new_df, ref_df, shingle_n=3, num_hashes=32, bands=16,
        portable=portable,
    )
    pairs = {(r.id_new, r.id_ref): r.jaccard for r in cross.collect()}
    assert pairs[(1, 10)] == 1.0          # exact dup found, jaccard exact
    assert (2, 10) in pairs               # near dup found
    assert all(idr != 12 for (_, idr) in pairs)  # nothing matches ref 12
    # within-new pair (3,4) must NOT appear — cross pairs only
    assert all(idn in (1, 2) for (idn, _) in pairs)

    surv = {
        r.doc_id
        for r in dd.cross_dedup_survivors(
            new_df, ref_df, "doc_id", "text", shingle_n=3, num_hashes=32,
            bands=16, threshold=0.5, portable=portable,
        ).collect()
    }
    assert surv == {3, 4}  # near-dup WITHIN new survives; ref matches drop


@pytest.mark.parametrize("portable", [False, True])
def test_indexed_cross_dedup_matches_unindexed(cross_corpora, portable):
    """cross_ref_index_frames + cross_near_dup_pairs_indexed (the one
    cross path: cold, amortized and streaming alike) emits exactly the
    (id_new, id_ref, jaccard) rows the former separately implemented
    unindexed operator emitted on these inputs, pinned literally from
    it for both hash modes."""
    new_df, ref_df = cross_corpora
    _, cross = _cross_pairs(
        new_df, ref_df, shingle_n=3, num_hashes=32, bands=16,
        portable=portable,
    )
    rows = cross.collect()
    got = {(r.id_new, r.id_ref, r.jaccard) for r in rows}
    assert got == {(1, 10, 1.0), (2, 10, 0.8333333333333334)}
    assert len(rows) == len(got)  # pair-key dedup held — no dup emits


def test_cross_dedup_ref_bucket_cap_bounds_pairs(cross_corpora, spark):
    """With max_bucket_size=1 and a ref bucket of identical docs, the
    capped join pairs each new doc with at most 1 ref representative
    per band — and the oversized frame reports the truncation."""
    new_df, _ = cross_corpora
    boiler = "boilerplate header text repeated verbatim on every single page here"
    ref_df = spark.createDataFrame(
        [(100 + i, boiler) for i in range(5)], ["doc_id", "text"]
    )
    new_b = spark.createDataFrame([(1, boiler)], ["doc_id", "text"])
    frames, cross = _cross_pairs(
        new_b, ref_df, shingle_n=3, num_hashes=32, bands=16,
        max_bucket_size=1,
    )
    pairs = {(r.id_new, r.id_ref) for r in cross.collect()}
    # every band bucket keeps the same smallest ref id → exactly 1 pair
    assert pairs == {(1, 100)}
    assert frames["oversized"].count() > 0
    # the capped pair still suffices for survivor semantics
    surv = dd.cross_dedup_survivors(
        new_b, ref_df, "doc_id", "text", shingle_n=3, num_hashes=32,
        bands=16, threshold=0.5, max_bucket_size=1,
    )
    assert surv.count() == 0


# --- DSIR importance resampling (r7) ----------------------------------------


@pytest.fixture(scope="module")
def dsir_corpora(spark):
    # target distribution: database-flavored text
    target = spark.createDataFrame(
        [
            (900, "query plan join scan filter aggregate shuffle partition table"),
            (901, "table scan index join query optimizer plan partition column"),
            (902, "aggregate groupby shuffle partition join table query plan"),
        ],
        ["doc_id", "text"],
    )
    # raw pool: two db-ish docs, two about weather
    raw = spark.createDataFrame(
        [
            (1, "join query plan table scan partition aggregate filter"),
            (2, "rain clouds wind storm sunshine valley mountain river"),
            (3, "query table join plan scan optimizer column partition"),
            (4, "weather storm rain wind snow cloud mountain valley"),
        ],
        ["doc_id", "text"],
    )
    return raw, target


@pytest.mark.parametrize("portable", [False, True])
def test_dsir_logratio_ranks_target_like_docs_higher(dsir_corpora, portable):
    from us_immigration_data_lake_spark.operators import sampling as sm

    raw, target = dsir_corpora
    lw = {
        r.doc_id: r.logratio_micro
        for r in sm.dsir_logratio(
            raw, target, "doc_id", "text", num_buckets=1000, portable=portable
        ).collect()
    }
    assert len(lw) == 4
    # both db-flavored docs outrank both weather docs
    assert min(lw[1], lw[3]) > max(lw[2], lw[4])


def test_dsir_select_top_k_deterministic(dsir_corpora):
    from us_immigration_data_lake_spark.operators import sampling as sm

    raw, target = dsir_corpora
    sel1 = [
        r.doc_id
        for r in sm.dsir_select(
            raw, target, "doc_id", "text", k=2, num_buckets=1000
        ).collect()
    ]
    sel2 = [
        r.doc_id
        for r in sm.dsir_select(
            raw, target, "doc_id", "text", k=2, num_buckets=1000
        ).collect()
    ]
    assert sel1 == sel2  # md5-derived Gumbel keys → identical every run
    # at T=1 the log-ratio gap between db and weather docs dwarfs any
    # Gumbel draw (thousands of micronats) → the two db docs win
    assert set(sel1) == {1, 3}


def test_dsir_sharp_temperature_is_argmax(dsir_corpora):
    from us_immigration_data_lake_spark.operators import sampling as sm

    raw, target = dsir_corpora
    sel = sm.dsir_select(
        raw, target, "doc_id", "text", k=4, num_buckets=1000,
        temperature_milli=1,  # T→0: key ≈ 1000 * logratio, Gumbel negligible
    ).collect()
    lw = {r.doc_id: r.logratio_micro for r in sel}
    keys = [r.doc_id for r in sel]
    assert keys == sorted(lw, key=lambda d: (-lw[d], d))


def test_dsir_empty_and_single_token_docs(spark, dsir_corpora):
    """Empty docs carry no features and are omitted; 1-token docs get
    no bigram padding artifact (the zip_with tail guard would otherwise
    double-count their unigram)."""
    from us_immigration_data_lake_spark.operators import sampling as sm

    _, target = dsir_corpora
    raw = spark.createDataFrame(
        [(1, ""), (2, "query"), (3, "query query")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r.n_feats
        for r in sm.dsir_logratio(
            raw, target, "doc_id", "text", num_buckets=1000
        ).collect()
    }
    assert 1 not in rows          # empty doc: no evidence, omitted
    assert rows[2] == 1           # 1 unigram, NO padded bigram
    assert rows[3] == 3           # 2 unigrams + 1 bigram


def _cross_srp_pairs(new, ref, threshold, dim, num_bits,
                     max_bucket_size=1000):
    """A one-shot embedding cross dedup: the reference index build,
    then the probe at the bit count the build resolved — ``(index
    frames, pairs)``."""
    frames = sim.srp_ref_index_frames(
        ref, "vec_id", "embedding", dim=dim, num_bits=num_bits,
        max_bucket_size=max_bucket_size,
    )
    return frames, sim.cross_srp_pairs_indexed(
        new, frames["index"], "vec_id", "embedding", threshold=threshold,
        dim=dim, num_bits=frames["num_bits"],
    )


def test_cross_srp_dedup_finds_planted_and_skips_within_side(spark):
    """The embedding-side cross dedup: a new vector near-identical to a
    ref vector is found; two near-identical NEW vectors produce no
    pair (cross pairs only); an orthogonal new vector matches nothing."""
    import math

    dim = 8
    base = [1.0, 0.5, -0.25, 0.125, 1.0, -0.5, 0.25, -0.125]
    near = [v * 1.01 + (0.001 if i == 0 else 0.0) for i, v in enumerate(base)]
    ortho = [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]
    ref = spark.createDataFrame(
        [(10, base), (12, ortho)], ["vec_id", "embedding"]
    )
    new = spark.createDataFrame(
        [(1, near), (3, [v * 0.99 for v in near]),
         (5, [-v for v in base])],  # anti-parallel: cosine -1, no match
        ["vec_id", "embedding"],
    )
    _, cross = _cross_srp_pairs(new, ref, threshold=0.9, dim=dim, num_bits=6)
    pairs = {(r.id_new, r.id_ref): r.cosine_sim for r in cross.collect()}
    assert (1, 10) in pairs and pairs[(1, 10)] > 0.99
    assert (3, 10) in pairs
    assert all(idr != 12 for (_, idr) in pairs)      # ortho ref unmatched
    assert all(idn != 5 for (idn, _) in pairs)       # anti-parallel skipped
    assert all(idn % 2 == 1 or idn in (1, 3, 5) for (idn, _) in pairs)


def test_cross_srp_ref_cap_truncation_observable(spark):
    """cap=1 on a ref bucket of identical vectors: one representative
    pair per new doc, and the dropped bucket is reported."""
    dim = 4
    v = [1.0, 2.0, 3.0, 4.0]
    ref = spark.createDataFrame(
        [(100 + i, v) for i in range(4)], ["vec_id", "embedding"]
    )
    new = spark.createDataFrame([(1, v)], ["vec_id", "embedding"])
    frames, cross = _cross_srp_pairs(
        new, ref, threshold=0.9, dim=dim, num_bits=6, max_bucket_size=1,
    )
    assert {(r.id_new, r.id_ref) for r in cross.collect()} == {(1, 100)}
    assert frames["oversized"].count() == 1


def test_rrf_fuse_math_and_consensus(spark):
    """RRF: a doc ranked by BOTH systems outscores a doc one system
    ranked #1 (60-damping); scores are the exact integer floor-division
    sums; ties break on id."""
    from us_immigration_data_lake_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], ["doc_id", "rnk"]
    )
    sem = spark.createDataFrame(
        [(2, 1), (3, 2), (9, 3)], ["doc_id", "rnk"]
    )
    out = rrf_fuse([lex, sem], "doc_id", "rnk").collect()
    got = {r.doc_id: (r.n_systems, r.rrf_micro) for r in out}
    # exact integer arithmetic: 1e6 div (60+rank)
    assert got[2] == (2, 1000000 // 62 + 1000000 // 61)
    assert got[1] == (1, 1000000 // 61)
    assert got[9] == (1, 1000000 // 63)
    # consensus doc 2 (ranks 2+1) beats solo #1 doc 1
    assert got[2][1] > got[1][1]
    order = [r.doc_id for r in out]
    assert order[0] == 2
    # docs 1 and 9... 16393 vs 15873: strictly ordered; add a true tie
    tie = rrf_fuse(
        [spark.createDataFrame([(5, 1), (4, 1)], ["doc_id", "rnk"])],
        "doc_id", "rnk",
    ).collect()
    assert [r.doc_id for r in tie] == [4, 5]  # equal score -> id asc


def test_rrf_fuse_top_k_and_validation(spark):
    from us_immigration_data_lake_spark.operators.retrieval import rrf_fuse

    r1 = spark.createDataFrame([(i, i) for i in range(1, 8)], ["doc_id", "rnk"])
    assert rrf_fuse([r1], "doc_id", "rnk", k=3).count() == 3
    with pytest.raises(ValueError):
        rrf_fuse([], "doc_id", "rnk")


# --- BPE merge training (r7) -------------------------------------------------


def test_bpe_merges_known_corpus(spark):
    """Hand-checked BPE on a tiny corpus. Corpus words: 'low' x2,
    'lower' x1 -> chars. Pair counts round 1: (l,o)=3, (o,w)=3,
    (w,e)=1, (e,r)=1 -> tie (l,o) vs (o,w) breaks lexicographically
    to (l,o). Round 2: symbols lo,w / lo,w,e,r -> (lo,w)=3 wins.
    Round 3: low / low,e,r -> (low,e)=1 vs (e,r)=1 -> (e,r) wins
    lexicographically."""
    df = spark.createDataFrame(
        [("low low",), ("lower",)], ["text"]
    )
    out = [tuple(r) for r in ts.bpe_merges(df, "text", 3).collect()]
    assert out == [
        (1, "l", "o", "lo", 3),
        (2, "lo", "w", "low", 3),
        (3, "e", "r", "er", 1),
    ]


def test_bpe_merge_fold_run_semantics(spark):
    """[a,a,a,a] under merge (a,a) must become [aa,aa] — left-to-right
    non-overlapping (the string-replace shortcut yields [aa,a,a] and is
    wrong; this pins the fold)."""
    df = spark.createDataFrame([("aaaa",)], ["text"])
    out = [tuple(r) for r in ts.bpe_merges(df, "text", 2).collect()]
    # round 1: (a,a)=3 (three adjacent pairs in one word)
    assert out[0] == (1, "a", "a", "aa", 3)
    # round 2 state is [aa,aa] -> pair (aa,aa)=1
    assert out[1] == (2, "aa", "aa", "aaaa", 1)


def test_bpe_stops_when_fully_fused(spark):
    df = spark.createDataFrame([("ab",), ("ab",)], ["text"])
    out = [tuple(r) for r in ts.bpe_merges(df, "text", 5).collect()]
    assert out == [(1, "a", "b", "ab", 2)]  # then no pairs remain -> stop


# --- sorted-neighborhood dedup + global rank (r7) ---------------------------


def test_global_row_number_matches_single_partition_semantics(spark):
    from us_immigration_data_lake_spark.operators.windows import (
        global_row_number,
    )

    rows = [(i, f"k{i % 7:02d}") for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "key"]).repartition(13)
    out = global_row_number(df, ["key", "id"], num_partitions=8).collect()
    got = [(r.key, r.id, r.rank) for r in sorted(out, key=lambda r: r.rank)]
    want_order = sorted(rows, key=lambda t: (t[1], t[0]))
    assert [g[2] for g in got] == list(range(1, 201))  # dense 1..n
    assert [(g[0], g[1]) for g in got] == [(k, i) for i, k in want_order]


def test_global_row_number_rank_is_non_null_long(spark):
    """The rank keeps row_number's schema contract: a non-nullable
    long, placed after the input columns."""
    from pyspark.sql.types import LongType

    from us_immigration_data_lake_spark.operators.windows import (
        global_row_number,
    )

    df = spark.createDataFrame([(i, i % 3) for i in range(20)], ["id", "key"])
    out = global_row_number(df, ["key", "id"], rank_col="pos", num_partitions=4)
    assert out.columns == ["id", "key", "pos"]
    field = out.schema["pos"]
    assert field.dataType == LongType() and field.nullable is False


def test_global_row_number_leaves_no_cache_entry(spark):
    """global_row_number must not pin CacheManager storage: repeated
    calls (multi-pass sorted-neighborhood) would otherwise accumulate
    leaked cache entries. Its two-consumption reuse goes through
    localCheckpoint, whose blocks the ContextCleaner reclaims on GC."""
    from us_immigration_data_lake_spark.operators.windows import (
        global_row_number,
    )

    from conftest import wait_for_background_sweeps

    # CacheManager-emptiness asserts race any in-flight background
    # sweep (it registers cache entries concurrently) — join first
    wait_for_background_sweeps()
    spark.catalog.clearCache()
    df = spark.createDataFrame([(i, i % 3) for i in range(50)], ["id", "key"])
    out = global_row_number(df, ["key", "id"], num_partitions=4)
    assert out.count() == 50
    # no DataFrame.cache() entry registered by the call
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "global_row_number leaked a CacheManager entry"


def test_cross_ref_index_frames_exposes_caches_for_release(cross_corpora, spark):
    """The reference-index build pins two frames — the reference's
    hashed-shingle frame (it feeds banding AND the index's verify
    columns) and its band frame (the two-phase cap + oversized census
    scan it repeatedly); both belong to the caller's storage scope,
    which must actually clear the entries on exit."""
    new_df, ref_df = cross_corpora
    from conftest import wait_for_background_sweeps

    # CacheManager-emptiness asserts race any in-flight background
    # sweep (it registers cache entries concurrently) — join first
    wait_for_background_sweeps()
    spark.catalog.clearCache()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    with storage.scope() as s:
        _, cross = _cross_pairs(
            new_df, ref_df, shingle_n=3, num_hashes=32, bands=16,
        )
        assert len(s.caches) == 2
        cross.count()
        for f in s.caches:
            assert f.storageLevel.useMemory or f.storageLevel.useDisk
            assert jcm.lookupCachedData(f._jdf).isDefined()
    assert jcm.isEmpty(), "cached frames not released by the scope"


def test_sorted_neighborhood_finds_prefix_local_dups(spark):
    """Two docs sharing a long prefix sort adjacently and are found;
    a similar pair placed > window apart in sort order is NOT a
    candidate — the method's defining recall boundary."""
    pre = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, pre + " one two three"),
        (2, pre + " one two four"),          # sorts adjacent to 1
        (3, "zulu yankee xray whiskey victor"),
        (4, "mike november oscar papa"),
        (5, "kilo lima quebec romeo sierra"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id1, r.id2): r.jaccard
        for r in dd.sorted_neighborhood_pairs(
            df, "doc_id", "text", window=1, key_prefix_len=16,
            threshold=0.5, shingle_n=3,
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5
    assert len(pairs) == 1  # nothing else is both sort-local AND similar


def test_sorted_neighborhood_candidate_volume_is_bounded(spark):
    """A corpus of IDENTICAL docs: LSH would put all n in one bucket
    (n^2 pair pressure, needs the cap machinery); sorted-neighborhood
    emits exactly the n*w sort-local pairs by construction."""
    boiler = "identical boilerplate text repeated on every page"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(10)], ["doc_id", "text"]
    )
    pairs = dd.sorted_neighborhood_pairs(
        df, "doc_id", "text", window=2, threshold=0.9
    ).collect()
    # ranks = id order; each row pairs with the next 2 -> 9 + 8 = 17
    assert len(pairs) == 17
    assert all(r.jaccard == 1.0 for r in pairs)


def test_multi_pass_snm_catches_pass1_blind_pair(spark):
    """The canonical Hernández & Stolfo multi-pass claim, planted: a
    near-dup pair whose texts DIVERGE in their first characters sorts
    far apart under the prefix order (invisible to pass 1) but
    adjacent under the reversed / token-sorted orders — single-pass
    misses it, multi-pass finds it. Decoys sit between the pair in
    prefix order to keep it outside any window."""
    tail = "acme corporation main street springfield"
    rows = [
        (1, "aaa " + tail),                    # prefix 'aaa ...'
        (2, "zzz " + tail),                    # prefix 'zzz ...' — far away
        (3, "bbb unrelated words about rivers and mountains"),
        (4, "ccc different text on weather maps and forecasts"),
        (5, "ddd another filler document mentioning nothing shared"),
        (6, "mmm yet more filler so the sort gap stays wide open"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(window=1, key_prefix_len=8, threshold=0.5, shingle_n=3)
    single = {
        (r.id1, r.id2)
        for r in dd.sorted_neighborhood_pairs(df, "doc_id", "text", **kw).collect()
    }
    assert (1, 2) not in single and (2, 1) not in single  # pass-1 blind
    multi = {
        (r.id1, r.id2): r.jaccard
        for r in dd.multi_pass_sorted_neighborhood_pairs(
            df, "doc_id", "text", **kw
        ).collect()
    }
    assert (1, 2) in multi and multi[(1, 2)] > 0.5  # caught by pass 2/3


def test_multi_pass_snm_superset_of_single_pass(spark):
    """Every single-pass pair survives in the multi-pass union (same
    verify, pass 1 is the single-pass key), canonicalized id1 < id2;
    and no pair is emitted twice despite three overlapping passes."""
    pre = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, pre + " one two three"),
        (2, pre + " one two four"),
        (3, "zulu yankee xray whiskey victor"),
        (4, "mike november oscar papa"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(window=2, key_prefix_len=16, threshold=0.5, shingle_n=3)
    single = {
        (min(r.id1, r.id2), max(r.id1, r.id2))
        for r in dd.sorted_neighborhood_pairs(df, "doc_id", "text", **kw).collect()
    }
    out = dd.multi_pass_sorted_neighborhood_pairs(
        df, "doc_id", "text", **kw
    ).collect()
    multi = {(r.id1, r.id2) for r in out}
    assert single <= multi
    assert all(r.id1 < r.id2 for r in out)
    assert len(out) == len(multi)  # union dedup held


# --- bounded edit-distance join (r7) -----------------------------------------


def test_edit_distance_pairs_complete_vs_bruteforce(spark):
    """Pruning completeness on a mixed corpus: every pair with
    levenshtein <= d must come back — including SHORT strings where
    the gram pigeonhole vanishes (the residual length-band block) and
    distance-0 exact duplicates."""
    rows = [
        (1, "mississippi"),
        (2, "missisippi"),      # d=1 from 1
        (3, "mississipppi"),    # d=1 from 1
        (4, "abcdefghijk"),     # far from all long strings
        (5, "ab"),              # short block
        (6, "ac"),              # d=1 from 5
        (7, "xy"),              # d=2 from 5/6
        (8, "mississippi"),     # exact dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "name"])
    got = {
        (r.id1, r.id2): r.distance
        for r in dd.edit_distance_pairs(df, "doc_id", "name", max_distance=2).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {
        (i1, i2): lev(s1, s2)
        for (i1, s1), (i2, s2) in itertools.combinations(rows, 2)
        if lev(s1, s2) <= 2
    }
    assert got == want
    assert got[(1, 8)] == 0 and got[(5, 6)] == 1 and got[(5, 7)] == 2


def test_edit_distance_pairs_cutoff_straddling_pair_found(spark):
    """A pair straddling the short/long cutoff (q=3, d=2 -> S=8: one
    8-char and one 9-char string at distance 1) must be found — the
    gram branch covers it because the count-filter lemma only needs
    max(L) > S, not both. (The first implementation restricted grams
    to over-cutoff strings and missed exactly this; the randomized
    fuzz in test_properties.py caught it.) Disjoint strings far apart
    in length still produce nothing."""
    df = spark.createDataFrame(
        [(1, "aaaabbbb"), (2, "aaaabbbbc"), (3, "zzz")],
        ["doc_id", "name"],
    )
    got = {
        (r.id1, r.id2): r.distance
        for r in dd.edit_distance_pairs(df, "doc_id", "name", max_distance=2).collect()
    }
    assert got == {(1, 2): 1}


# --- Holt linear-trend smoothing (r7) ----------------------------------------


def _py_holt(xs, a=300, b=100, h=1):
    def fdiv(v):
        return (v - (v % 1000 + 1000) % 1000) // 1000
    if len(xs) == 1:
        l, t = xs[0] * 1_000_000, 0
    else:
        l, t = xs[1] * 1_000_000, (xs[1] - xs[0]) * 1_000_000
        for x in xs[2:]:
            l_new = fdiv(a * x * 1_000_000 + (1000 - a) * (l + t))
            t = fdiv(b * (l_new - l) + (1000 - b) * t)
            l = l_new
    return len(xs), l, t, l + h * t


@pytest.mark.parametrize(
    "series",
    [
        [10],
        [10, 14],
        [10, 14, 18, 22, 26],          # clean rising trend
        [100, 90, 80, 70, 60, 55],     # FALLING — negative trend exercises
                                        # the floor-division alignment
        [5, 5, 5, 5],
        [3, 50, 2, 49, 1, 48],          # oscillating
    ],
)
def test_holt_linear_matches_fixed_point_reference(spark, series):
    from us_immigration_data_lake_spark.operators.regress import holt_linear

    rows = [("g", i, x) for i, x in enumerate(series)]
    df = spark.createDataFrame(rows, ["grp", "t", "x"])
    out = holt_linear(df, ["grp"], ["t"], "x", alpha_pm=300, beta_pm=100, horizon=1)
    r = out.collect()[0]
    assert (r.n, r.level_e6, r.trend_e6, r.forecast_e6) == _py_holt(series)


def test_holt_linear_rising_trend_forecast_direction(spark):
    from us_immigration_data_lake_spark.operators.regress import holt_linear

    rows = [("up", i, 10 + 4 * i) for i in range(8)] + [
        ("down", i, 100 - 7 * i) for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["grp", "t", "x"])
    got = {r.grp: r for r in holt_linear(df, ["grp"], ["t"], "x").collect()}
    assert got["up"].trend_e6 > 0 and got["down"].trend_e6 < 0
    # perfectly linear series: forecast continues the line exactly-ish
    assert abs(got["up"].forecast_e6 - (10 + 4 * 8) * 1_000_000) < 4_000_000


# --- CUSUM drift detection (r7) ----------------------------------------------


def _py_cusum(xs, k, h):
    tot = sum(xs) * 1_000_000
    n = len(xs)
    mu = (tot - ((tot % n) + n) % n) // n
    sp = sn = up = down = 0
    first = None
    for i, x in enumerate(xs, 1):
        sp = max(0, sp + (x * 1_000_000 - mu - k))
        sn = max(0, sn + (mu - x * 1_000_000 - k))
        trip_up, trip_dn = sp > h, sn > h
        if trip_up:
            up += 1
            sp = 0
        if trip_dn:
            down += 1
            sn = 0
        if first is None and (trip_up or trip_dn):
            first = i
    return n, up, down, first, sp, sn


@pytest.mark.parametrize(
    "series",
    [
        [10, 10, 10, 10, 10, 10],                       # flat: no alarms
        [10, 10, 10, 10, 30, 30, 30, 30],               # upward level shift
        [50, 50, 50, 50, 10, 10, 10, 10],               # downward shift
        [10, 30, 10, 30, 10, 30],                       # oscillation
        [7],                                            # singleton
        [-5, -5, -5, 20, 20, 20],                       # negative values (mu floor)
    ],
)
def test_cusum_matches_fixed_point_reference(spark, series):
    from us_immigration_data_lake_spark.operators.regress import cusum_drift

    k, h = 2_000_000, 8_000_000
    rows = [("g", i, x) for i, x in enumerate(series)]
    df = spark.createDataFrame(rows, ["grp", "t", "x"])
    r = cusum_drift(df, ["grp"], ["t"], "x", k_e6=k, h_e6=h).collect()[0]
    assert (
        r.n, r.up_alarms, r.down_alarms, r.first_alarm_idx,
        r.s_pos_e6, r.s_neg_e6,
    ) == _py_cusum(series, k, h)


def test_cusum_detects_level_shift_direction(spark):
    from us_immigration_data_lake_spark.operators.regress import cusum_drift

    up_series = [10] * 10 + [40] * 10
    dn_series = [40] * 10 + [10] * 10
    rows = [("up", i, x) for i, x in enumerate(up_series)] + [
        ("dn", i, x) for i, x in enumerate(dn_series)
    ]
    df = spark.createDataFrame(rows, ["grp", "t", "x"])
    got = {
        r.grp: r
        for r in cusum_drift(
            df, ["grp"], ["t"], "x", k_e6=3_000_000, h_e6=20_000_000
        ).collect()
    }
    assert got["up"].up_alarms > 0 and got["up"].down_alarms > 0
    # the shift point: first alarm fires shortly after index 10 on the
    # matching side in both series
    assert got["up"].first_alarm_idx is not None
    assert got["dn"].first_alarm_idx is not None


# --- Holt-Winters additive (r7) ----------------------------------------------


def _py_hw(xs, m, a=300, b=100, g=200, h=1):
    def fdiv(v, den):
        return (v - (v % den + den) % den) // den
    n = len(xs)
    assert n >= 2 * m
    mean1 = fdiv(sum(xs[:m]) * 1_000_000, m)
    mean2 = fdiv(sum(xs[m:2 * m]) * 1_000_000, m)
    l = mean1
    t = fdiv(mean2 - mean1, m)
    s = [x * 1_000_000 - mean1 for x in xs[:m]]
    for i in range(m, n):  # i = completed steps (0-based list index)
        slot = i % m
        s_old = s[slot]
        l_new = fdiv(a * (xs[i] * 1_000_000 - s_old) + (1000 - a) * (l + t), 1000)
        t = fdiv(b * (l_new - l) + (1000 - b) * t, 1000)
        s[slot] = fdiv(g * (xs[i] * 1_000_000 - l_new) + (1000 - g) * s_old, 1000)
        l = l_new
    slot = (n + h - 1) % m
    return n, l, t, s[slot], l + h * t + s[slot]


@pytest.mark.parametrize(
    "series,m",
    [
        ([10, 20, 10, 20, 10, 20, 10, 20], 2),                  # pure season
        ([10, 20, 12, 22, 14, 24, 16, 26, 18, 28], 2),          # season + trend
        ([5, 1, 9, 5, 1, 9, 5, 1, 9, 5, 1, 9], 3),              # period 3
        ([100, 80, 60, 90, 70, 50, 80, 60, 40], 3),             # falling + season
        ([3, 3, 3, 3, 3, 3, 3, 3], 4),                          # constant
    ],
)
def test_holt_winters_matches_fixed_point_reference(spark, series, m):
    from us_immigration_data_lake_spark.operators.regress import (
        holt_winters_additive,
    )

    rows = [("g", i, x) for i, x in enumerate(series)]
    df = spark.createDataFrame(rows, ["grp", "t", "x"])
    r = holt_winters_additive(
        df, ["grp"], ["t"], "x", period=m, horizon=1
    ).collect()[0]
    assert (r.n, r.level_e6, r.trend_e6, r.season_e6, r.forecast_e6) == _py_hw(
        series, m
    )


def test_holt_winters_drops_short_series_and_tracks_season(spark):
    from us_immigration_data_lake_spark.operators.regress import (
        holt_winters_additive,
    )

    rows = [("short", i, 10) for i in range(3)] + [
        ("weekly", i, [100, 50][i % 2] + i) for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["grp", "t", "x"])
    out = {r.grp: r for r in holt_winters_additive(
        df, ["grp"], ["t"], "x", period=2, horizon=2
    ).collect()}
    assert "short" not in out          # < 2*period rows: dropped
    w = out["weekly"]
    # forecast step n+h = 22 is 0-based index 21 -> odd -> the LOW
    # phase of the [100,50] alternation: negative seasonal component,
    # positive underlying trend (+1/step)
    assert w.season_e6 < 0 and w.trend_e6 > 0


# ---------------------------------------------------------------------------
# r9: bounded bucket-cap machinery (VERDICT r8 What's-wrong #1) — a
# planted mega-bucket ≫ cap must flow through every cap site WITHOUT
# materializing the full member list in one aggregation-buffer row.
# Semantics are pinned by the r8 oracles (q182/q187/q190/q192); these
# tests pin the BOUNDED plan shape and the unchanged results.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mega_band(spark):
    # one 5000-member bucket (cap will be 50) + one 3-member bucket
    rows = [(0, 7, i) for i in range(5000)] + [(0, 9, j) for j in (10**6, 10**6 + 1, 10**6 + 2)]
    return spark.createDataFrame(rows, ["band_idx", "band_hash", "doc_id"])


def test_mega_bucket_cap_sites_have_no_unbounded_collect_list(mega_band):
    """The oversized/star/capped-ref plans must not contain collect_list
    at all; candidate_pairs may collect only AFTER the two-phase
    oversized-key anti-join bounds the bucket (r10: count-first hash
    agg + LeftAnti, broadcast left to AQE — no window sort on the
    common path)."""
    over_plan = dd.oversized_buckets(
        mega_band, "doc_id", max_bucket_size=50
    )._jdf.queryExecution().optimizedPlan().toString()
    star_plan = dd.oversized_bucket_star_pairs(
        mega_band, "doc_id", max_bucket_size=50
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in over_plan
    assert "collect_list" not in star_plan

    cand = dd.candidate_pairs(mega_band, "doc_id", max_bucket_size=50)
    cand_plan = cand._jdf.queryExecution().optimizedPlan().toString()
    # the collect_list survives, but only downstream of the bounding
    # anti-join against the oversized-key set; the r9 window-count
    # form (a sort of EVERY bucket) must be gone from this plan
    assert "collect_list" in cand_plan
    assert "LeftAnti" in cand_plan
    assert "windowspecdefinition" not in cand_plan.lower()


def test_capped_bucket_members_two_phase_plan_and_results(mega_band):
    """capped_bucket_members: ≤cap buckets keep every member with NO
    window on their path (anti-join, strategy left to AQE), oversized buckets keep
    the cap smallest ids via a window confined to the rare semi-joined
    branch."""
    capped, _ = dd.capped_bucket_members(mega_band, "doc_id", 50)
    plan = capped._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan and "LeftSemi" in plan
    assert "collect_list" not in plan
    rows = capped.collect()
    by_bucket: dict = {}
    for r in rows:
        by_bucket.setdefault((r.band_idx, r.band_hash), []).append(r.doc_id)
    # mega bucket capped to the 50 smallest ids; small bucket intact
    assert sorted(by_bucket[(0, 7)]) == list(range(50))
    assert sorted(by_bucket[(0, 9)]) == [10**6, 10**6 + 1, 10**6 + 2]


def test_counted_cap_strategy_branches(spark, mega_band):
    """r11 counted first phase: ZERO oversized keys short-circuits to
    the band frame itself (no joins in the plan at all); a small
    oversized key set rides an explicit broadcast (the band side never
    shuffles for the anti-join)."""
    clean = spark.createDataFrame(
        [(0, 5, 1), (0, 5, 2), (0, 9, 3)],
        ["band_idx", "band_hash", "doc_id"],
    )
    out, _ = dd.capped_bucket_members(clean, "doc_id", 50)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan  # passthrough, zero extra work
    assert out.count() == 3

    capped, _ = dd.capped_bucket_members(mega_band, "doc_id", 50)
    plan = capped._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in plan  # counted-small -> hinted
    cand = dd.candidate_pairs(mega_band, "doc_id", max_bucket_size=50)
    assert "strategy=broadcast" in (
        cand._jdf.queryExecution().optimizedPlan().toString()
    )


def test_mega_bucket_results_unchanged_and_fast(mega_band):
    cap = 50
    # candidate_pairs: mega-bucket dropped entirely, small bucket kept
    pairs = {(r.id1, r.id2) for r in dd.candidate_pairs(
        mega_band, "doc_id", max_bucket_size=cap
    ).collect()}
    assert pairs == {(10**6, 10**6 + 1), (10**6, 10**6 + 2), (10**6 + 1, 10**6 + 2)}
    # oversized: one row, count + smallest-id anchor, NO member array
    over = dd.oversized_buckets(mega_band, "doc_id", max_bucket_size=cap).collect()
    assert len(over) == 1
    assert (over[0].bucket_n, over[0].anchor_id) == (5000, 0)
    assert "ids" not in over[0].asDict()
    # star recovery: anchor 0 paired with every other member — linear
    stars = dd.oversized_bucket_star_pairs(
        mega_band, "doc_id", max_bucket_size=cap
    )
    assert stars.count() == 4999
    assert stars.agg(F.min("id1"), F.max("id1")).collect()[0][:] == (0, 0)


def test_cross_ref_index_frames_cap_and_oversized(spark):
    # 60 byte-identical refs (every band → one 60-member bucket) + one
    # distinct ref; cap 8 keeps the 8 smallest ids per bucket and the
    # oversized frame reports the truncation (ADVICE r8 #3).
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    refs = [(i, text) for i in range(60)] + [(99, "totally different words here about nothing shared")]
    ref_df = spark.createDataFrame(refs, ["doc_id", "text"])
    frames = dd.cross_ref_index_frames(
        ref_df, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        max_bucket_size=8,
    )
    idx = frames["index"]
    idx_plan = idx._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in idx_plan
    # r11: two-phase cap on the index build — common ≤cap buckets pass
    # the anti-join (broadcast decided by AQE), only flagged keys
    # reach the window confined to the rare semi-joined branch
    assert "LeftAnti" in idx_plan and "LeftSemi" in idx_plan
    per_bucket = idx.groupBy("band_idx", "band_hash").count().collect()
    assert all(r["count"] <= 8 for r in per_bucket)
    # capped buckets keep the SMALLEST ids (row_number orderBy id)
    kept = {r.id_ref for r in idx.filter(F.col("id_ref") < 99).collect()}
    assert kept == set(range(8))
    over = frames["oversized"].collect()
    assert len(over) >= 4  # the identical cluster overflows in every band
    assert all(r.bucket_n == 60 and r.anchor_id == 0 for r in over)
    # a second build of the same reference yields the same rows
    again = dd.cross_ref_index_frames(
        ref_df, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        max_bucket_size=8,
    )["index"]
    assert again.count() == idx.count()


def test_cross_ref_index_frames_signs_reference_once(spark):
    """One index build runs the reference signature stage ONCE: the
    build pins the hashed-shingle frame and the band frame, the cap's
    eager key count materializes both, and every read of the index
    plan — the cap's common and rare branches and the verify-column
    join — is a scan of those two pins (plus the collected key set),
    never a re-run of shingling and signing."""
    from conftest import wait_for_background_sweeps

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    refs = [(i, text) for i in range(20)] + [(99, "other words entirely here")]
    ref_df = spark.createDataFrame(refs, ["doc_id", "text"])
    wait_for_background_sweeps()
    spark.catalog.clearCache()
    jcm = spark._jsparkSession.sharedState().cacheManager()
    with storage.scope() as s:
        frames = dd.cross_ref_index_frames(
            ref_df, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
            max_bucket_size=8,
        )
        assert len(s.caches) == 2  # hashed-shingle frame, band frame
        # loaded by the build's own key count, before any index action
        for pin in s.caches:
            rel = jcm.lookupCachedData(pin._jdf).get().cachedRepresentation()
            assert rel.cacheBuilder().isCachedColumnBuffersLoaded()
        plan = frames["index"]._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
        # common branch + rare branch read the band pin, the verify
        # columns read the shingle pin; the rest is the key set
        assert names.count("InMemoryRelation") == 3, names
        assert set(names) == {"InMemoryRelation", "LocalRelation"}, names
        assert frames["index"].count() == 4 * 8 + 4
    assert jcm.isEmpty()


def test_srp_ref_index_frames_cap_and_oversized(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    dim = 8
    proto = rng.randn(dim)
    # 40-member planted cluster (one SRP bucket) + 10 scattered
    rows = [(i, (proto + rng.randn(dim) * 0.005).tolist()) for i in range(40)]
    rows += [(100 + i, rng.randn(dim).tolist()) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    frames = sim.srp_ref_index_frames(
        df, "vec_id", "embedding", dim=dim, num_bits=2, max_bucket_size=5
    )
    srp_idx_plan = frames["index"]._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in srp_idx_plan
    assert "LeftAnti" in srp_idx_plan and "LeftSemi" in srp_idx_plan
    per_bucket = frames["index"].groupBy("bucket").count().collect()
    assert all(r["count"] <= 5 for r in per_bucket)
    over = {r.bucket: r for r in frames["oversized"].collect()}
    assert any(r.bucket_n >= 40 for r in over.values())
    # anchor of the planted cluster's bucket is its smallest id
    big = max(over.values(), key=lambda r: r.bucket_n)
    assert big.anchor_id == 0


def test_within_dedup_frames_expose_caches_for_release(spark):
    """r10 advisor: near_dup_frames / srp_near_dup_frames pin internal
    caches (hashed-shingle + band frame / SRP bucket frame) into the
    caller's storage scope — the cross_ref_index_frames contract — so
    loop callers (update_corpus_increment per batch) release them
    instead of relying on LRU eviction."""
    import numpy as np

    from conftest import wait_for_background_sweeps

    # CacheManager-emptiness asserts race any in-flight background
    # sweep (it registers cache entries concurrently) — join first
    wait_for_background_sweeps()
    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "totally different text about something else")],
        ["doc_id", "text"],
    )
    with storage.scope() as s:
        frames = dd.near_dup_frames(
            docs, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
            threshold=0.3,
        )
        assert len(s.caches) == 2
        frames["pairs"].count()
        for f in s.caches:
            assert f.storageLevel.useMemory or f.storageLevel.useDisk
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "near_dup_frames caches not released"

    rng = np.random.RandomState(3)
    vecs = [(i, rng.randn(8).tolist()) for i in range(6)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    with storage.scope() as s:
        sframes = sim.srp_near_dup_frames(
            emb, "vec_id", "embedding", threshold=0.9, dim=8, num_bits=2,
        )
        assert len(s.caches) == 1
        sframes["pairs"].count()
        assert s.caches[0].storageLevel.useMemory
    assert jcm.isEmpty(), "srp_near_dup_frames cache not released"

    # semantic_dedup pins the same frames into the caller's scope
    with storage.scope() as s:
        sim.semantic_dedup(
            emb, "vec_id", "embedding", threshold=0.9, dim=8, num_bits=2,
        ).count()
        assert len(s.caches) == 1
        assert s.caches[0].storageLevel.useMemory
    assert jcm.isEmpty(), "semantic_dedup cache not released"


def test_cross_dedup_survivors_pins_into_callers_scope(spark):
    # ADVICE r8 #2: the cached frames (two hashed-shingle frames + the
    # ref band frame) belong to the caller's scope, so long-lived
    # sessions release them.
    from conftest import wait_for_background_sweeps

    wait_for_background_sweeps()
    spark.catalog.clearCache()
    new_df = spark.createDataFrame(
        [(1, "shared words in both corpora exactly the same sentence"),
         (2, "fresh new content never seen in the reference corpus")],
        ["doc_id", "text"],
    )
    ref_df = spark.createDataFrame(
        [(10, "shared words in both corpora exactly the same sentence")],
        ["doc_id", "text"],
    )
    with storage.scope() as s:
        surv = dd.cross_dedup_survivors(
            new_df, ref_df, "doc_id", "text", shingle_n=3, num_hashes=16,
            bands=4, threshold=0.5,
        )
        assert [r.doc_id for r in surv.collect()] == [2]
        # the reference index build's two pins (the probe pins nothing)
        assert len(s.caches) == 2
        for fr in s.caches:
            assert fr.storageLevel.useMemory  # actually cached
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty(), "cross_dedup_survivors caches not released"


# ---------------------------------------------------------------------------
# r9: sequence packing (operators/packing.py, next-fit variant) — greedy next-fit into
# fixed-capacity context windows, sharded for parallelism.
# ---------------------------------------------------------------------------


def _py_pack(rows, capacity, num_shards):
    """Pure-Python replay: md5 shard + per-shard next-fit in id order."""
    import hashlib

    def shard_of(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % num_shards

    by_shard = {}
    for i, ln in rows:
        by_shard.setdefault(shard_of(i), []).append((i, ln))
    out = {}
    for s, docs in by_shard.items():
        b, fill = 0, 0
        for i, ln in sorted(docs):
            if fill > 0 and fill + ln > capacity:
                b, fill = b + 1, 0
            out[i] = (s, b, fill)
            fill += ln
    return out


def test_pack_sequences_matches_python(spark):
    from us_immigration_data_lake_spark.operators.packing import (
        pack_sequences_nextfit,
    )

    rows = [(i, (i * 37) % 200 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r.doc_id: (r.shard, r.bin, r.offset)
        for r in pack_sequences_nextfit(df, "doc_id", "n_tok", capacity=256,
                                num_shards=8).collect()
    }
    assert got == _py_pack(rows, 256, 8)


def test_pack_sequences_invariants(spark):
    from us_immigration_data_lake_spark.operators.packing import (
        pack_sequences_nextfit,
    )

    rows = [(i, (i * 53) % 300 + 1) for i in range(500)]
    lens = dict(rows)
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    packed = pack_sequences_nextfit(df, "doc_id", "n_tok", capacity=256,
                            num_shards=4).collect()
    assert len(packed) == 500  # nothing dropped
    by_bin = {}
    for r in packed:
        by_bin.setdefault((r.shard, r.bin), []).append(r)
    for (s, b), members in by_bin.items():
        members.sort(key=lambda r: r.offset)
        fill = 0
        for m in members:
            assert m.offset == fill  # contiguous, no gaps or overlaps
            fill += lens[m.doc_id]
        # a multi-doc bin never exceeds capacity; a single oversized
        # doc (len > cap) overflows alone
        if len(members) > 1:
            assert fill <= 256
    # bins within a shard are dense from 0
    for s in {r.shard for r in packed}:
        bins = sorted({r.bin for r in packed if r.shard == s})
        assert bins == list(range(len(bins)))


def test_pack_sequences_oversized_doc_gets_own_bin(spark):
    from us_immigration_data_lake_spark.operators.packing import (
        pack_sequences_nextfit,
    )

    df = spark.createDataFrame(
        [(1, 100), (2, 999), (3, 100)], "doc_id long, n_tok long"
    )
    packed = {r.doc_id: (r.bin, r.offset) for r in pack_sequences_nextfit(
        df, "doc_id", "n_tok", capacity=256, num_shards=1
    ).collect()}
    assert packed[2][1] == 0  # the oversized doc starts its own bin
    bins = {d: b for d, (b, _) in packed.items()}
    assert bins[1] != bins[2] and bins[2] != bins[3]


def test_pack_sequences_rejects_bad_lengths(spark):
    from us_immigration_data_lake_spark.operators.packing import (
        pack_sequences_nextfit,
    )

    df = spark.createDataFrame([(1, None)], "doc_id long, n_tok long")
    with pytest.raises(Exception, match="NULL/negative"):
        pack_sequences_nextfit(df, "doc_id", "n_tok", capacity=10).collect()


# ---------------------------------------------------------------------------
# r9: CCNet-style reference-LM perplexity filter (textstats.py:
# ref_lm_bigram_xent).
# ---------------------------------------------------------------------------


def _py_ref_lm(new_rows, ref_rows):
    import math
    import re as _re

    def toks_of(text):
        return [t for t in _re.split(r"\s+", text.strip().lower()) if t]

    def pairs_of(text):
        ts = toks_of(text)
        return list(zip([chr(1)] + ts[:-1], ts))

    c2, c1, vocab = {}, {}, set()
    for _i, text in ref_rows:
        for p, c in pairs_of(text):
            c2[(p, c)] = c2.get((p, c), 0) + 1
            c1[p] = c1.get(p, 0) + 1
            vocab.add(c)
    v = len(vocab)
    out = {}
    for i, text in new_rows:
        ps = pairs_of(text)
        if not ps:
            continue
        s = sum(
            round(math.log((c2.get((p, c), 0) + 1) / (c1.get(p, 0) + v + 1)) * 1e6)
            for p, c in ps
        )
        n = len(ps)
        q, r = divmod(-s, n)  # -s >= 0: trunc == floor
        out[i] = (n, q)
    return out


def test_ref_lm_bigram_xent_matches_python(spark):
    ref_rows = [
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "the quick red fox runs past the sleeping dog"),
        (12, "a quick brown dog jumps over a lazy fox"),
    ]
    new_rows = [
        (1, "the quick brown fox jumps again"),   # reference-like
        (2, "zygote quasar nebula flux capacitor"),  # alien
        (3, ""),                                   # tokenless: no row
        (4, "the the the the"),
    ]
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])
    ref_df = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_tokens, r.xent_micro)
        for r in ts.ref_lm_bigram_xent(new_df, ref_df, "doc_id", "text").collect()
    }
    want = _py_ref_lm(new_rows, ref_rows)
    assert got == want
    assert 3 not in got  # empty doc emits no score row
    # reference-like text scores LOWER than alien text
    assert got[1][1] < got[2][1]


# ---------------------------------------------------------------------------
# r9: BPE tokenizer APPLICATION (textstats.bpe_token_counts).
# ---------------------------------------------------------------------------


def _py_bpe_count(rows, merges):
    import re as _re

    def toks_of(text):
        return [t for t in _re.split(r"\s+", text.strip().lower()) if t]

    def encode(word):
        syms = list(word)
        for l, r in merges:
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            syms = out
        return syms

    res = {}
    for i, text in rows:
        if text is None:
            continue
        ws = toks_of(text)
        if not ws:
            continue
        res[i] = (len(ws), sum(len(encode(w)) for w in ws))
    return res


def test_bpe_token_counts_matches_python(spark):
    rows = [
        (1, "banana bandana ban"),
        (2, "an anna banana"),
        (3, "xyz"),
        (4, ""),
    ]
    merges = [("a", "n"), ("b", "an"), ("an", "an")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in ts.bpe_token_counts(df, "doc_id", "text", merges).collect()
    }
    assert got == _py_bpe_count(rows, merges)
    assert 4 not in got  # tokenless doc emits no row


def test_bpe_encode_consistent_with_training(spark):
    """Applying the merges bpe_merges just learned must reproduce the
    trainer's own final symbol state (encode is training's apply step
    run standalone)."""
    rows = [(i, "low lower lowest newer newest") for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = [
        (r["left"], r["right"])
        for r in ts.bpe_merges(df, "text", n_merges=5).orderBy("rank").collect()
    ]
    assert len(merges) == 5
    got = {
        r.doc_id: r.n_bpe_tokens
        for r in ts.bpe_token_counts(df, "doc_id", "text", merges).collect()
    }
    want = _py_bpe_count(rows, merges)
    assert got == {i: want[i][1] for i in want}
    # BPE merges only ever SHRINK the token stream vs characters
    chars = sum(len(w) for w in "low lower lowest newer newest".split())
    assert all(v < chars for v in got.values())


def test_bpe_token_counts_checkpoint_chunking(spark):
    """A merge list longer than checkpoint_every must still encode
    correctly (the chunked-localCheckpoint path)."""
    rows = [(1, "aaaaaaaa")]
    merges = [("a", "a"), ("aa", "aa"), ("aaaa", "aaaa")] + [
        ("q", "q")] * 7  # pad with no-op merges to cross the chunk line
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = ts.bpe_token_counts(
        df, "doc_id", "text", merges, checkpoint_every=4
    ).collect()
    assert got[0].n_bpe_tokens == 1  # 8 chars fused to one symbol


# ---------------------------------------------------------------------------
# r9: cross-group shingle-overlap matrix (dedup.cross_group_overlap).
# ---------------------------------------------------------------------------


def test_cross_group_overlap_matches_python(spark):
    import hashlib
    import re as _re

    rows = [
        (1, "the quick brown fox jumps high", "wiki"),
        (2, "the quick brown fox runs far", "wiki"),
        (3, "the quick brown fox jumps high today", "cc"),
        (4, "completely different content entirely here", "cc"),
        (5, "unrelated words about mountains and rivers", "books"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r.group_a, r.group_b): (r.shingles_a, r.shingles_b, r.shared, r.jaccard)
        for r in dd.cross_group_overlap(
            df, "doc_id", "text", "source", portable=True
        ).collect()
    }

    def sh_of(text):
        toks = [t for t in _re.split(r"\s+", text.strip().lower()) if t]
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)} or {text.strip().lower()}

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    by_src = {}
    for _i, text, src in rows:
        by_src.setdefault(src, set()).update(h(s) for s in sh_of(text))
    want = {}
    for a in by_src:
        for b in by_src:
            if a < b and by_src[a] & by_src[b]:
                inter = len(by_src[a] & by_src[b])
                want[(a, b)] = (
                    len(by_src[a]), len(by_src[b]), inter,
                    round(inter / len(by_src[a] | by_src[b]), 6),
                )
    assert got == want
    assert ("cc", "wiki") in got and got[("cc", "wiki")][2] >= 3
    assert all(k[0] != "books" and k[1] != "books" for k in got)  # no overlap rows


# ---------------------------------------------------------------------------
# r11: ANN recall@k calibration (similarity.ann_recall_at_k, q221).
# ---------------------------------------------------------------------------


def test_ann_recall_multiprobe_dominates_and_tight_cluster_is_perfect(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    dim = 16
    rows = [(i, rng.randn(dim).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 10")

    def mean_recall(multiprobe):
        out = sim.ann_recall_at_k(
            df, q, "vec_id", "embedding", k=5, dim=dim, num_bits=8,
            multiprobe=multiprobe,
        ).collect()
        assert len(out) == 10
        return sum(r.recall for r in out) / len(out)

    single, multi = mean_recall(False), mean_recall(True)
    # Hamming-1 probing strictly widens the candidate set per query,
    # so recall cannot drop
    assert multi >= single
    # 8 random bits over 300 gaussian vectors must lose SOMETHING on
    # the single-probe path (recall 1.0 would mean the test has no
    # discriminating power)
    assert single < 1.0

    # a tight cluster lands in ONE bucket: recall is exactly 1.0
    proto = rng.randn(dim)
    tight = [(i, (proto + rng.randn(dim) * 1e-4).tolist()) for i in range(40)]
    tdf = spark.createDataFrame(tight, "vec_id long, embedding array<double>")
    out = sim.ann_recall_at_k(
        tdf, tdf.filter("vec_id < 5"), "vec_id", "embedding", k=3, dim=dim,
        num_bits=6,
    ).collect()
    assert all(r.recall == 1.0 for r in out)


def test_cluster_split_no_near_dup_straddles(spark):
    """q222's defining property: a planted near-dup pair always lands
    on ONE side of the split, whatever side that is — and every doc of
    a cluster carries the cluster's split, so filtering split='train'
    can never keep one half of a duplicate pair."""
    from us_immigration_data_lake_spark.functions.splits import (
        cluster_split_label,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{base} twin{i // 2}") for i in range(40)]  # 20 dup pairs
    rows += [(100 + i, f"unique text number {i} nothing shared here {i}")
             for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dd.shingles(df, "doc_id", "text", n=2)
    pairs = dd.postings_jaccard_pairs(sh, "doc_id", min_jaccard=0.5)
    out = cluster_split_label(df, pairs.select("id1", "id2"), "doc_id")
    split_of = {r.doc_id: (r.cluster, r.split) for r in out.collect()}
    assert len(split_of) == 50
    got_pairs = {(r.id1, r.id2) for r in pairs.collect()}
    assert got_pairs, "planted twins must be detected"
    for i1, i2 in got_pairs:
        assert split_of[i1][1] == split_of[i2][1], (i1, i2)
    # both labels actually occur across clusters (non-degenerate split)
    assert {v[1] for v in split_of.values()} == {"train", "test"}


def test_minhash_calibration_identical_docs_and_error_bound(spark):
    """q223's defining properties: an identical pair estimates AND
    measures Jaccard 1.0 with zero error; disjoint-vocabulary docs
    never become candidates; and on a planted partial-overlap pair the
    estimate sits within the k-hash binomial envelope of the exact
    value (5 sigma of sqrt(J(1-J)/k) — deterministic given the fixed
    hash family, generous enough to never flake)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    partial = "alpha beta gamma delta epsilon zeta omega psi chi phi"
    rows = [
        (1, base),
        (2, base),
        (3, partial),
        (4, "totally disjoint vocabulary about rivers and mountains"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dd.minhash_estimate_calibration(
        df, "doc_id", "text", num_hashes=64, bands=32,
    )
    got = {(r.id1, r.id2): r for r in out.collect()}
    twin = got[(1, 2)]
    assert twin.n_match == 64
    assert twin.est_jaccard == 1.0
    assert twin.exact_jaccard == 1.0
    assert twin.abs_err == 0.0
    assert not any(4 in p for p in got)
    for r in got.values():
        j = r.exact_jaccard
        assert r.abs_err <= 5 * (j * (1 - j) / 64) ** 0.5 + 1e-9, r


def test_epoch_shuffle_order_deterministic_permutation(spark):
    """q224's contract: every id appears exactly once; positions are
    contiguous 1..n within each shard; the same (epoch, id) input
    reproduces the identical order; two epochs give different orders."""
    from us_immigration_data_lake_spark.operators.sampling import (
        epoch_shuffle_order,
    )

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    e1 = epoch_shuffle_order(df, "doc_id", epoch=1, n_shards=4)
    rows = e1.collect()
    assert len(rows) == 200 and len({r.doc_id for r in rows}) == 200
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    again = {(r.doc_id): (r.shard, r.pos) for r in
             epoch_shuffle_order(df, "doc_id", epoch=1, n_shards=4).collect()}
    assert again == {r.doc_id: (r.shard, r.pos) for r in rows}
    e2 = {r.doc_id: (r.shard, r.pos) for r in
          epoch_shuffle_order(df, "doc_id", epoch=2, n_shards=4).collect()}
    assert e2 != again


def test_per_group_cap_binds_and_is_deterministic(spark):
    """q226's contract: groups over the cap keep exactly cap rows,
    groups under it keep all; ranks are contiguous 1..kept; two runs
    pick the SAME subset (hash order, not arrival order) — and the
    subset survives a repartition unchanged, which an arrival-order
    limit cannot guarantee."""
    from us_immigration_data_lake_spark.operators.sampling import (
        per_group_cap,
    )

    rows = [(i, "big") for i in range(40)] + [(100 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = per_group_cap(df, "source", "doc_id", cap=10)
    got = {(r.doc_id, r.source, r.cap_rank) for r in out.collect()}
    big = sorted(r for d, s, r in got if s == "big")
    small = sorted(r for d, s, r in got if s == "small")
    assert big == list(range(1, 11)) and small == [1, 2, 3]
    again = {
        (r.doc_id, r.source, r.cap_rank)
        for r in per_group_cap(
            df.repartition(7), "source", "doc_id", cap=10
        ).collect()
    }
    assert again == got


def test_curriculum_order_bin_edges_and_permutation(spark):
    """q227's contract: fixed-axis bin edges (exact-boundary score
    lands in the UPPER bin, top edge clamps into the last bin,
    below-axis clamps to 0); per-bin positions contiguous from 1; and
    the coordinates are a pure function of (epoch, id, score) — a
    repartitioned rerun reproduces them exactly."""
    from us_immigration_data_lake_spark.operators.sampling import (
        curriculum_order,
    )

    rows = [
        (1, 0.0), (2, 0.1), (3, 0.25), (4, 0.49),
        (5, 0.5), (6, 0.75), (7, 0.99), (8, 1.0), (9, -0.2),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "score"])
    out = curriculum_order(df, "doc_id", "score", n_bins=4, epoch=2)
    got = {r.doc_id: (r.quality_bin, r.pos) for r in out.collect()}
    assert {d: b for d, (b, _) in got.items()} == {
        1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 3, 7: 3, 8: 3, 9: 0,
    }
    from collections import defaultdict

    per_bin = defaultdict(list)
    for b, p in got.values():
        per_bin[b].append(p)
    for b, ps in per_bin.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), b
    again = {
        r.doc_id: (r.quality_bin, r.pos)
        for r in curriculum_order(
            df.repartition(5), "doc_id", "score", n_bins=4, epoch=2
        ).collect()
    }
    assert again == got


def test_mixture_interleave_wfq_matches_python_replay(spark):
    """q228's semantics against a pure-Python WFQ replay on an
    injected policy: a source with double the ppm share appears twice
    as often in every window of the order; zero-ppm groups are never
    scheduled; the whole schedule is reproducible."""
    import hashlib

    from us_immigration_data_lake_spark.operators.sampling import (
        mixture_interleave_order,
    )

    rows = [(i, "a") for i in range(10)] + [(100 + i, "b") for i in range(10)]
    rows += [(900, "ghost")]  # zero-ppm source: must not appear
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    wdf = spark.createDataFrame(
        [("a", 600000), ("b", 300000), ("ghost", 0)], ["group", "q_ppm"]
    )
    out = mixture_interleave_order(df, "doc_id", "source", wdf, epoch=4)
    got = sorted(
        ((r.global_pos, r.doc_id, r.source, r.pos, r.v_time)
         for r in out.collect())
    )

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    exp = []
    for grp, ppm in (("a", 600000), ("b", 300000)):
        ids = sorted(
            (d for d, g in rows if g == grp),
            key=lambda d: (md5_long(f"4|{d}"), d),
        )
        step = round(1e12 / ppm)
        exp += [(d, grp, i + 1, (i + 1) * step) for i, d in enumerate(ids)]
    exp.sort(key=lambda t: (t[3], t[1], t[0]))
    assert got == [
        (i + 1, d, g, p, v) for i, (d, g, p, v) in enumerate(exp)
    ]
    # share property: in the first 9 slots, 'a' (2x share) fills 6
    first9 = [g for _, _, g, _, _ in got[:9]]
    assert first9.count("a") == 6 and first9.count("b") == 3
    assert all(g != "ghost" for _, _, g, _, _ in got)


def test_script_profile_mixed_scripts_and_edges(spark):
    """q229 semantics on REAL multi-script text (the sf corpus is
    all-latin, so the CJK/other machinery is pinned here): counts
    partition the codepoints exactly, ppm shares are integer-exact,
    dominance follows raw counts with fixed precedence, and the
    empty-string doc reports 'empty' rather than 0/0."""
    rows = [
        (1, "hello world 42"),
        (2, "你好世界你好"),          # pure CJK
        (3, "abc 你好!"),             # mixed latin+cjk+punct(other)
        (4, ""),
        (5, "¡señor!"),               # non-ASCII latin-ish -> other
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in ts.script_profile(df, "doc_id", "text").collect()}
    r1 = out[1]
    assert (r1.n_latin, r1.n_digit, r1.n_space, r1.n_cjk, r1.n_other) == (10, 2, 2, 0, 0)
    assert r1.n_chars_total == 14 and r1.dominant_script == "latin"
    assert r1.latin_ppm == round(1e6 * 10 / 14)
    r2 = out[2]
    assert r2.n_cjk == 6 and r2.n_other == 0 and r2.dominant_script == "cjk"
    assert r2.cjk_ppm == 1000000
    r3 = out[3]
    assert (r3.n_latin, r3.n_cjk, r3.n_other) == (3, 2, 1)
    assert out[4].dominant_script == "empty" and out[4].latin_ppm == 0
    r5 = out[5]  # ¡/ñ/! are outside [A-Za-z]: s,e,o,r latin + 3 other
    assert (r5.n_latin, r5.n_other) == (4, 3)
    for r in out.values():
        assert r.n_latin + r.n_digit + r.n_space + r.n_cjk + r.n_other == r.n_chars_total


def test_hard_negatives_exclude_whole_cluster_transitively(spark):
    """q230's defining property: a CHAIN of near-dups (a~b, b~c but a
    and c not directly over threshold) is ONE cluster, and none of its
    members may appear as negatives for any other member — pairwise
    exclusion would leak c into a's negatives. Planted geometry: a
    3-vector chain plus two far-away vectors that are each other's
    honest hard negatives."""
    import numpy as np

    def on_circle(deg):
        t = np.deg2rad(deg)
        return [float(np.cos(t)), float(np.sin(t)), 0.0, 0.0]

    # chain at 0/10/20 degrees: adjacent cosines cos(10°)=0.985 >= 0.97,
    # endpoints cos(20°)=0.940 < 0.97 — transitive cluster {0,1,2};
    # 90°/120° are 30° apart (cos 0.866: not dups, mutually closest)
    rows = [
        (0, on_circle(0)), (1, on_circle(10)), (2, on_circle(20)),
        (10, on_circle(90)), (11, on_circle(120)),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.hard_negatives(
        df, "vec_id", "embedding", k=3, dim=4, dup_threshold=0.97
    )
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    # 0-1 and 1-2 are >=0.97-cosine; 0-2 is below — cluster {0,1,2}
    chain = {0, 1, 2}
    for q in chain:
        assert by_q.get(q, set()).isdisjoint(chain), (q, by_q.get(q))
    # the far pair are in each other's negatives (closest non-dups)
    assert 11 in by_q[10] and 10 in by_q[11]


def test_incremental_cap_immutable_and_slot_bounded(spark):
    """q232's contract: kept rows survive unchanged whatever arrives;
    admissions fill exactly the remaining slots per group (full group
    admits nothing, empty group admits up to cap); and re-running with
    the union as the new kept set admits nothing more (idempotent at
    the fixpoint)."""
    from us_immigration_data_lake_spark.operators.sampling import (
        update_capped_corpus,
    )

    kept = spark.createDataFrame(
        [(i, "full") for i in range(5)] + [(100, "half"), (101, "half")],
        ["doc_id", "source"],
    )
    new = spark.createDataFrame(
        [(200 + i, "full") for i in range(4)]
        + [(300 + i, "half") for i in range(4)]
        + [(400 + i, "fresh") for i in range(7)],
        ["doc_id", "source"],
    )
    out = update_capped_corpus(kept, new, "source", "doc_id", cap=5)
    rows = [(r.doc_id, r.source, r.status) for r in out.collect()]
    kept_out = {(d, s) for d, s, st in rows if st == "kept"}
    adm = {}
    for d, s, st in rows:
        if st == "admitted":
            adm.setdefault(s, set()).add(d)
    assert kept_out == {(i, "full") for i in range(5)} | {(100, "half"), (101, "half")}
    assert "full" not in adm                       # group already at cap
    assert len(adm["half"]) == 3                   # 5 - 2 slots
    assert len(adm["fresh"]) == 5                  # unseen group: up to cap
    # fixpoint: feeding the union back as kept admits nothing
    again = update_capped_corpus(
        out.select("doc_id", "source"), new, "source", "doc_id", cap=5
    )
    assert again.filter("status = 'admitted'").count() == 0


def test_hard_negatives_indexed_agrees_where_probes_recall(spark):
    """q233's contract vs q230 (r11 verdict ask #3): the indexed miner
    IS hard_negatives restricted to SRP-probed candidates — so on any
    query whose exact top-k negatives ALL land within Hamming-1 of the
    query's bucket, the two must emit identical rows (same neighbors,
    same cosines, same ranks). Both sides share the SAME exclusion
    clusters here so candidate generation is the only difference; the
    candidate set is recomputed independently from the seeded
    planes."""
    # bits=2 (not q233's 6): with Hamming-1 multiprobe that probes 3 of
    # the 4 buckets, so a useful fraction of queries have their exact
    # top-k fully recalled on these near-random synthetic embeddings —
    # the agreement contract is bit-width-independent, the FILTERING is
    # still non-trivial (1 of 4 buckets unprobed per query)
    n, k, dim, bits, thr = 150, 5, 64, 2, 0.35
    sf = "/root/testdata/sf0.001"
    emb = (
        spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter(F.col("vec_id") < n)
    )
    exact = sim.hard_negatives(
        emb, "vec_id", "embedding", k=k, dim=dim, dup_threshold=thr
    )
    # same cluster frame hard_negatives builds internally
    pairs = sim.cosine_near_dup_pairs(emb, "vec_id", "embedding", thr)
    clusters = dd.dedup_survivors(
        emb, pairs.select("id1", "id2"), "vec_id"
    ).select("vec_id", "cluster")
    idx = sim.hard_negatives_indexed(
        emb, "vec_id", "embedding", clusters, k=k, dim=dim,
        num_bits=bits, seed=42, multiprobe=True,
    )
    ex = {(r.query_id, r.neg_rank): (r.neighbor_id, r.cosine_sim)
          for r in exact.collect()}
    ix = {(r.query_id, r.neg_rank): (r.neighbor_id, r.cosine_sim)
          for r in idx.collect()}

    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb.collect()}
    planes = sim.srp_planes(dim, num_bits=bits, seed=42)

    def _dot_ltr(p, v):
        # STRICT left-to-right sequential adds — the engine's unrolled
        # SQL dot (_dot_fixed_sql) folds this way, and numpy's
        # pairwise/SIMD summation (or math.fsum) can differ in the
        # last ulp, flipping the bucket of a vector sitting on a
        # hyperplane boundary (r12 advice)
        acc = 0.0
        for a, b in zip(p, v):
            acc += float(a) * b
        return acc

    bucket = {
        i: sum((1 << b) for b in range(bits) if _dot_ltr(planes[b], v) > 0)
        for i, v in vecs.items()
    }

    def probed(q, c):  # candidate iff buckets within Hamming distance 1
        return bin(bucket[q] ^ bucket[c]).count("1") <= 1

    recalled = [
        q for q in {qq for qq, _ in ex.items() for qq in [qq[0]]}
        if all(probed(q, ex[(q, r)][0]) for r in range(1, k + 1)
               if (q, r) in ex)
    ]
    assert len(recalled) >= 10, "vacuous slice: too few fully-recalled queries"
    for q in recalled:
        for r in range(1, k + 1):
            if (q, r) in ex:
                assert ix.get((q, r)) == ex[(q, r)], (q, r, ix.get((q, r)), ex[(q, r)])


def test_training_order_pipeline_stage_pins(spark):
    """q234's stage-boundary pins (r11 verdict ask #5): the composed
    cap → policy → curriculum → interleave pipeline conserves rows at
    every boundary on the sf0.001 fixture — 20 sources × 25 docs,
    cap 18 ⇒ capped = 360 exactly; bins are a partition of the capped
    set (pinned per-bin counts); the final order is a dense
    permutation 1..360; per-(bin, source) positions are contiguous
    from 1. A stage silently dropping or duplicating rows breaks one
    of these before it could reach the oracle gate."""
    import hashlib

    import duckdb

    from us_immigration_data_lake_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["q234_training_order_pipeline"].fn(spark, sf).collect()

    # stage 1 pin, replicated ENGINE-FREE (pure-python per_group_cap
    # over the raw parquet — no extra Spark jobs; the suite's wall
    # clock is a budget, r11 SCALE.md): cap bites every source
    # (25 docs each, cap 18) and the interleave scheduled EXACTLY the
    # capped ids
    pairs = duckdb.sql(
        f"SELECT source, doc_id FROM '{sf}/documents.parquet'"
    ).fetchall()
    by_src: dict = {}
    for src, did in pairs:
        key = int(hashlib.md5(f"{src}|{did}".encode()).hexdigest()[:15], 16)
        by_src.setdefault(src, []).append((key, did))
    capped_ids = set()
    assert len(by_src) == 20
    for src, members in by_src.items():
        assert len(members) == 25
        capped_ids.update(did for _, did in sorted(members)[:18])

    # conservation: |output| = |capped| (stages 2-4 drop nothing)
    assert len(rows) == 360 == len(capped_ids)
    assert {r.doc_id for r in rows} == capped_ids

    # stage 3 pin: bin partition of the capped set (fixture-pinned)
    by_bin = {}
    for r in rows:
        by_bin[r.quality_bin] = by_bin.get(r.quality_bin, 0) + 1
    assert by_bin == {1: 243, 2: 117}

    # stage 4: dense global permutation; contiguous per-(bin, source)
    assert sorted(r.global_pos for r in rows) == list(range(1, 361))
    cell = {}
    for r in rows:
        cell.setdefault((r.quality_bin, r.source), []).append(r.pos)
    for key, ps in cell.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), key
    # senior key: global order never interleaves across bins
    last_of_bin1 = max(r.global_pos for r in rows if r.quality_bin == 1)
    first_of_bin2 = min(r.global_pos for r in rows if r.quality_bin == 2)
    assert last_of_bin1 < first_of_bin2


def test_training_order_epochs_pins_and_reshuffle(spark):
    """q237's contracts: E epochs of q234's order — (a) epoch 1 of the
    two-epoch run is ROW-IDENTICAL to q234's single-epoch output
    (q234 runs at epoch=1; same md5('1|id') keys, same policy, same
    bins), so the multi-epoch composition provably reuses the
    single-epoch semantics; (b) each epoch is a dense per-epoch
    permutation 1..360 over the SAME capped id set; (c) the two
    epochs' within-corpus orders actually differ (the epoch-keyed
    reshuffle is live, not a copy)."""
    from us_immigration_data_lake_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    multi = QUERIES["q237_training_order_epochs"].fn(spark, sf).collect()
    single = QUERIES["q234_training_order_pipeline"].fn(spark, sf).collect()

    by_epoch: dict = {}
    for r in multi:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1}

    # (a) epoch-1 slice == q234 (modulo the epoch column)
    strip = lambda r: (r.doc_id, r.source, r.quality_bin,  # noqa: E731
                       r.pos, r.v_time, r.global_pos)
    assert sorted(map(strip, by_epoch[1])) == sorted(map(strip, single))

    # (b) dense per-epoch permutations over the same capped ids
    ids = {r.doc_id for r in single}
    for e in (0, 1):
        rows = by_epoch[e]
        assert {r.doc_id for r in rows} == ids
        assert sorted(r.global_pos for r in rows) == list(range(1, 361))

    # (c) the reshuffle is live: the two epochs disagree somewhere
    order = {e: [r.doc_id for r in sorted(by_epoch[e],
                                          key=lambda r: r.global_pos)]
             for e in (0, 1)}
    assert order[0] != order[1]


def test_training_order_epochs_rejects_nonpositive_epochs(spark):
    """epochs <= 0 must raise BEFORE the one-time stages run — the
    r13 form paid the eager localCheckpoint and returned None (the
    loop never ran), crashing the caller later with AttributeError
    (r13 advisor)."""
    from us_immigration_data_lake_spark.operators.sampling import (
        training_order_epochs,
    )

    df = spark.createDataFrame(
        [(1, "a", 0.5, 10)], "doc_id long, source string, q double, sz long"
    )
    for bad in (0, -1):
        with pytest.raises(ValueError, match="epochs"):
            training_order_epochs(
                df, "doc_id", "source", "q", "sz",
                cap=10, alpha=0.5, epochs=bad,
            )


def test_srp_multi_sig_term_budget_dispatch(spark):
    """The codegen term budget (r14 verdict What's wrong #2), at every
    table count: above SIG_UNROLL_MAX_TERMS the signature projection
    renders its per-plane dots as HOF strings (CodegenFallback leaves
    — the stage compiles; below, janino's 64 KB method limit fails
    the whole stage into interpreted mode). Pins (a) the dispatch
    boundary on the PLAN (at-budget plan carries no HOF dot, the
    first over-budget config does) for L=2/3 tables and for one
    table of 8 vs 12 bits, and (b) bucket VALUES bitwise equal across
    the two forms — each over-budget table signature matches the
    explicitly-unrolled single-table rendering of the same planes
    (the UNROLL_MAX_DIM guarantee, now exercised at the term-budget
    boundary too). The executed no-fallback side is
    tests/test_codegen_gate.py's fresh-JVM sweep."""
    import numpy as np

    assert sim.SIG_UNROLL_MAX_TERMS == 512  # measured r15 ceiling

    rng = np.random.RandomState(11)
    rows = [(i, (v / np.linalg.norm(v)).tolist())
            for i, v in enumerate(rng.randn(8, 64))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # dim 64: L=2·b=4 → 512 terms (at budget, unrolled);
    #         L=3·b=4 → 768 terms (over, HOF dots)
    at = sim._srp_sig(df, "vec_id", "embedding", 64, 4, 42, 2)
    over = sim._srp_sig(df, "vec_id", "embedding", 64, 4, 42, 3)
    at_plan = at._jdf.queryExecution().analyzed().toString()
    over_plan = over._jdf.queryExecution().analyzed().toString()
    assert "zip_with" not in at_plan
    assert "zip_with" in over_plan

    # value equality: table t of the HOF form == the unrolled
    # single-table signature over the same planes (seed + t)
    got = {r["__id"]: r["__buckets"] for r in
           over.select("__id", "__buckets").collect()}
    for t in range(3):
        planes = sim.srp_planes(64, 4, 42 + t)
        want = {r.vec_id: r.b for r in df.select(
            "vec_id",
            sim.srp_signature("embedding", planes, hof=False).alias("b"),
        ).collect()}
        assert {k: v[t] for k, v in got.items()} == want

    # one table: b=8 → 512 terms (at budget, unrolled); b=12 → 768
    # terms (over, HOF dots) — the budget is not a multi-table rule
    at1 = sim._srp_sig(df, "vec_id", "embedding", 64, 8, 42)
    over1 = sim._srp_sig(df, "vec_id", "embedding", 64, 12, 42)
    assert "zip_with" not in at1._jdf.queryExecution().analyzed().toString()
    assert "zip_with" in over1._jdf.queryExecution().analyzed().toString()
    got1 = {r["__id"]: r["bucket"] for r in
            over1.select("__id", "bucket").collect()}
    want1 = {r.vec_id: r.b for r in df.select(
        "vec_id",
        sim.srp_signature("embedding", sim.srp_planes(64, 12, 42),
                          hof=False).alias("b"),
    ).collect()}
    assert got1 == want1


def test_srp_multi_table_compat_and_recall_dominance(spark):
    """q239's operator (srp_near_dup_frames at num_tables=L): (a) ONE
    table reproduces the uncapped srp_bucket_near_dup_pairs exactly
    (table 0's planes are the single-table planes — seed+0), so the
    multi-table composition provably reuses the single-table
    semantics; (b) more tables can
    only ADD verified pairs (candidate sets are unions over tables —
    a superset theorem), and on planted-cluster geometry they
    strictly do; (c) the frames contract (oversized report + released
    cached band frame) holds with a tiny cap."""
    import numpy as np

    rng = np.random.RandomState(5)
    centers = rng.randn(6, 16)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(120):
        g = rng.randn(16)
        v = centers[i % 6] + 0.55 * g / np.linalg.norm(g)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.5, dim=16, num_bits=4, seed=42)

    one = {(r.id1, r.id2, r.cosine_sim) for r in
           sim.srp_bucket_near_dup_pairs(df, "vec_id", "embedding",
                                         **kw).collect()}
    mt1 = {(r.id1, r.id2, r.cosine_sim) for r in
           sim.srp_near_dup_frames(df, "vec_id", "embedding",
                                   num_tables=1, **kw)["pairs"].collect()}
    mt3 = {(r.id1, r.id2, r.cosine_sim) for r in
           sim.srp_near_dup_frames(df, "vec_id", "embedding",
                                   num_tables=3, **kw)["pairs"].collect()}
    assert mt1 == one  # table-0 compat
    assert mt1 <= mt3  # superset theorem
    assert len(mt3) > len(mt1)  # tables buy recall on clusters

    with storage.scope() as s:
        frames = sim.srp_near_dup_frames(
            df, "vec_id", "embedding", num_tables=3, max_bucket_size=10,
            **kw,
        )
        over = frames["oversized"].collect()
        assert over and all(r.bucket_n > 10 for r in over)
        assert frames["pairs"].count() <= len(mt3)  # cap only removes
        assert len(s.caches) == 1
        # r14 advisor: the eager signature checkpoint is owned by the
        # scope — its exit must actually drop the storage blocks
        assert len(s.checkpoints) == 1
        jsc = spark.sparkContext._jsc.sc()
        ck_ids = {f._jdf.queryExecution().analyzed().rdd().id()
                  for f in s.checkpoints}
        assert ck_ids <= {i.id() for i in jsc.getRDDStorageInfo()}
    # the release does not block: wait for the block manager
    deadline = time.monotonic() + 30
    while (ck_ids & {i.id() for i in jsc.getRDDStorageInfo()}
           and time.monotonic() < deadline):
        time.sleep(0.1)
    assert not (ck_ids & {i.id() for i in jsc.getRDDStorageInfo()})

    with pytest.raises(ValueError, match="num_tables"):
        sim.srp_near_dup_frames(df, "vec_id", "embedding",
                                num_tables=0, **kw)

    # CROSS-corpus form (q240): the L=1 ref index + probe emits
    # exactly the pairs the former separately implemented batch cross
    # operator emitted on these inputs (pinned literally from it);
    # L=3 only adds; the index frames expose the bit/table counts the
    # query side must sign with (the srp_ref_index_frames num_bits
    # contract)
    new_df = df.filter(F.col("vec_id") % 2 == 1)
    ref_df = df.filter(F.col("vec_id") % 2 == 0)
    s1 = {
        (13, 10, 0.703625), (13, 46, 0.521966), (43, 10, 0.515797),
        (61, 10, 0.790159), (61, 46, 0.591375), (61, 76, 0.520622),
        (103, 10, 0.501193),
    }
    frames = {
        L: sim.srp_ref_index_frames(
            ref_df, "vec_id", "embedding", dim=16, num_bits=4,
            num_tables=L,
        )
        for L in (1, 3)
    }
    assert frames[1]["num_tables"] == 1
    assert frames[3]["num_bits"] == 4 and frames[3]["num_tables"] == 3
    cross = {
        L: {(r.id_new, r.id_ref, r.cosine_sim) for r in
            sim.cross_srp_pairs_indexed(
                new_df, frames[L]["index"], "vec_id", "embedding",
                0.5, dim=16, num_bits=4, num_tables=L,
            ).collect()}
        for L in (1, 3)
    }
    assert cross[1] == s1  # L=1 pinned pair set
    assert cross[1] <= cross[3]  # tables only add
    # multi-collision pairs are emitted once
    assert len(cross[3]) == len({(a, b) for a, b, _ in cross[3]})

    # kNN twin: per-query recall is monotone in tables at equal bits
    # (the multiprobe dominance theorem inherited — the re-rank is by
    # TRUE cosine, so a superset candidate set can only displace an
    # exact-top-k member with an exact-better one), and the approx
    # list never exceeds k
    qs = df.filter(F.col("vec_id") < 12)
    rec = {
        L: {r.query_id: (r.hits or 0, r.n_approx or 0)
            for r in sim.ann_recall_at_k(
                df, qs, "vec_id", "embedding", k=3, dim=16, num_bits=5,
                num_tables=L,
            ).collect()}
        for L in (1, 3)
    }
    assert set(rec[1]) == set(rec[3])
    assert all(rec[3][q][0] >= rec[1][q][0] for q in rec[1])
    assert any(rec[3][q][0] > rec[1][q][0] for q in rec[1])
    assert all(n <= 3 for _, n in rec[3].values())


def test_choose_srp_config_replays_selection_rule(spark):
    """q238's operator: the ladder rows are hard_negative_recall's
    verbatim, exactly ONE row is chosen, and the chosen row replays
    the documented rule (cheapest config clearing target, cost key
    2·bits + (1−mp) maximized; best-hits-then-cheapest fallback when
    nothing clears) — derived independently in python from the same
    ladder. Both branches exercised: a clearable target and an
    impossible one."""
    import numpy as np

    rng = np.random.RandomState(11)
    centers = rng.randn(5, 16)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(40):
        g = rng.randn(16)
        v = centers[i % 5] + 0.6 * g / np.linalg.norm(g)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    configs = ((2, True), (4, False))

    def expected_choice(rows, target):
        # independent python replay of the rule over the returned
        # EVIDENCE rows (the ladder is deterministic given the seed,
        # and its values are q236-oracle-gated — no need to rerun it)
        ck = lambda r: 2 * r.num_bits + (1 - r.multiprobe)  # noqa: E731
        met = [r for r in rows if r.hits * 1000 >= target * r.n_exact]
        if met:
            pick = max(met, key=ck)
        else:
            pick = max(rows, key=lambda r: (r.hits, ck(r)))
        return (pick.num_bits, pick.multiprobe)

    first = None
    for target in (50, 1000):
        got = sim.choose_srp_config(
            df, "vec_id", "embedding", k=3, dim=16, dup_threshold=0.95,
            target_recall_permille=target, configs=configs,
        ).collect()
        evidence = {(r.num_bits, r.multiprobe): (r.n_exact, r.hits, r.recall)
                    for r in got}
        assert len(evidence) == len(configs)  # full ladder returned
        if first is None:
            first = evidence
        else:
            assert evidence == first  # target changes the pick only
        chosen = [r for r in got if r.chosen]
        assert len(chosen) == 1
        assert (chosen[0].num_bits, chosen[0].multiprobe) == \
            expected_choice(got, target)
        for r in got:
            assert r.met_target == (r.hits * 1000 >= target * r.n_exact)
        if target == 1000 and not any(r.met_target for r in got):
            # the miss is visible, the pick still deterministic
            assert chosen[0].hits == max(r.hits for r in got)

    with pytest.raises(ValueError, match="target_recall_permille"):
        sim.choose_srp_config(
            df, "vec_id", "embedding", k=3, dim=16, dup_threshold=0.95,
            target_recall_permille=0,
        )


def test_srp_ref_index_num_bits_contract(spark):
    """r13 advisor (medium): an auto-picked bit count the query side
    cannot recover is silent wrong results (it would sign with the
    default 8 and match nothing). srp_ref_index_frames must RETURN
    the resolved bits (auto and passthrough); the index-only wrapper
    must reject num_bits=None outright."""
    import numpy as np

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    frames = sim.srp_ref_index_frames(
        df, "vec_id", "embedding", dim=8, num_bits=None
    )
    assert frames["num_bits"] == sim.recommended_num_bits(30)
    # a query side signing with the returned bits actually matches
    got = sim.cross_srp_pairs_indexed(
        df, frames["index"], "vec_id", "embedding",
        threshold=0.99, dim=8, num_bits=frames["num_bits"],
    )
    assert got.filter(F.col("id_new") == F.col("id_ref")).count() == 30
    # passthrough case returns the passed value unchanged
    assert sim.srp_ref_index_frames(
        df, "vec_id", "embedding", dim=8, num_bits=5
    )["num_bits"] == 5


def test_hard_negatives_indexed_highdim_matches_reference(spark):
    """The dim > UNROLL_MAX_DIM checkpoint path of
    hard_negatives_indexed against an engine-free python replay
    (left-to-right folds throughout, the _dot_hof_sql order): same
    buckets, same multiprobe candidates, same exclusion, same
    ranking — so the high-dim dispatch (r12 verdict ask #2) changes
    the COST model only, never the rows."""
    import math

    dim, bits, k, n = 320, 3, 3, 60
    assert dim > sim.UNROLL_MAX_DIM
    base = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < n).select("vec_id", "embedding").collect()
    # tile 64 -> 320 (5 rotated blocks, the --dim fixture recipe)
    vecs = {}
    for r in base:
        v = [float(x) for x in r.embedding]
        big = []
        for b in range(5):
            rot = (b * 5) % 64
            big.extend(v[rot:] + v[:rot])
        vecs[r.vec_id] = big
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    clusters_rows = [(i, i % 7) for i in vecs]  # synthetic exclusion
    clusters = spark.createDataFrame(
        clusters_rows, "vec_id long, cluster long"
    )
    got = {(r.query_id, r.neg_rank): (r.neighbor_id, r.cosine_sim)
           for r in sim.hard_negatives_indexed(
               df, "vec_id", "embedding", clusters, k=k, dim=dim,
               num_bits=bits, seed=7, multiprobe=True).collect()}

    def ltr_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    planes = sim.srp_planes(dim, num_bits=bits, seed=7)
    bucket = {
        i: sum((1 << b) for b in range(bits)
               if ltr_dot([float(p) for p in planes[b]], v) > 0.0)
        for i, v in vecs.items()
    }
    cl = dict(clusters_rows)
    want = {}
    for q in vecs:
        probed = {bucket[q]} | {bucket[q] ^ (1 << b) for b in range(bits)}
        cand = []
        for c in vecs:
            if c == q or cl[c] == cl[q] or bucket[c] not in probed:
                continue
            cos = round(
                ltr_dot(vecs[q], vecs[c])
                / (math.sqrt(ltr_dot(vecs[q], vecs[q]))
                   * math.sqrt(ltr_dot(vecs[c], vecs[c]))), 6)
            cand.append((-cos, c))
        for rank, (negcos, c) in enumerate(sorted(cand)[:k], start=1):
            want[(q, rank)] = (c, -negcos)
    assert got == want


def test_hard_negative_recall_theorems(spark):
    """hard_negative_recall's structural guarantees, independent of
    fixture geometry: hits <= n_exact; recall = round(hits/n_exact);
    and at equal bits, multiprobe recall >= single-probe recall — a
    THEOREM, because multiprobe's candidate set is a superset and any
    candidate that displaces an exact-top-k member from the indexed
    top-k would itself belong to the exact top-k (same deterministic
    tiebreak both sides)."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter(F.col("vec_id") < 120)
    out = {(r.num_bits, r.multiprobe): r for r in sim.hard_negative_recall(
        emb, "vec_id", "embedding", k=4, dim=64, dup_threshold=0.35,
        configs=((2, False), (2, True), (3, True)),
    ).collect()}
    assert set(out) == {(2, 0), (2, 1), (3, 1)}
    for r in out.values():
        assert 0 <= r.hits <= r.n_exact
        assert r.recall == round(r.hits / r.n_exact, 6)
        assert r.n_queries > 0
    assert out[(2, 1)].recall >= out[(2, 0)].recall


def test_census_plan_matches_legacy_aggregates(mega_band):
    """r12 census consolidation: the single (keys, bucket_n, anchor_id)
    census must be value-equivalent to the three r11 aggregates it
    replaced — the oversized_buckets report, the
    oversized_bucket_star_pairs seeds, and the oversized-key set — on
    a planted mega-bucket corpus, including the collected-LocalRelation
    fast path (census here is 1 row, far under COLLECT_KEY_LIMIT)."""
    n_over, census = dd._counted_census_plan(mega_band, "doc_id", 50)
    assert n_over == 1

    # report == legacy oversized_buckets (rows and columns)
    report = {tuple(r) for r in census.collect()}
    legacy = {tuple(r) for r in
              dd.oversized_buckets(mega_band, "doc_id", 50).collect()}
    assert report == legacy == {(0, 7, 5000, 0)}
    assert census.columns == dd.oversized_buckets(
        mega_band, "doc_id", 50).columns

    # the legacy anchor-star recovery the census anchors must reproduce
    star = {(r.id1, r.id2) for r in
            dd.oversized_bucket_star_pairs(mega_band, "doc_id", 50).collect()}
    assert star == {(0, i) for i in range(1, 5000)}

    # the self-path tail's candidates == candidate_pairs, and its
    # census/count are the census above
    cand, tail_census, tail_n = dd._census_candidates(
        mega_band, "doc_id", 50, False)
    fed = {(r.id1, r.id2) for r in cand.collect()}
    rederived = {(r.id1, r.id2) for r in
                 dd.candidate_pairs(mega_band, "doc_id", 50).collect()}
    assert fed == rederived
    assert tail_n == n_over
    assert {tuple(r) for r in tail_census.collect()} == report
    # only the 3-member bucket expands: mega bucket dropped, pairs from
    # {1e6, 1e6+1, 1e6+2}
    assert fed == {(10**6, 10**6 + 1), (10**6, 10**6 + 2),
                   (10**6 + 1, 10**6 + 2)}
    # recover_oversized adds exactly the anchor-star pairs
    recovered, _, _ = dd._census_candidates(mega_band, "doc_id", 50, True)
    assert {(r.id1, r.id2) for r in recovered.collect()} == fed | star


def test_census_candidates_dedup_pairs_once(spark):
    """With recover_oversized the bucket expansion and the anchor-star
    pairs are unioned raw and deduplicated once: the optimized plan
    holds exactly one (id1, id2) Aggregate (the earlier form had
    three: the expansion's, the star pairs' and the union's), and the
    rows are the expansion pairs plus the reference anchor-star
    recovery. Both bands plant the same 60-member and 3-member
    buckets, so every pair arrives twice before the dedup."""
    rows = [(b, 7, i) for b in (0, 1) for i in range(60)] + [
        (b, 9, j) for b in (0, 1) for j in (100, 101, 102)
    ]
    band = spark.createDataFrame(rows, ["band_idx", "band_hash", "doc_id"])
    cand, _, n_over = dd._census_candidates(band, "doc_id", 50, True)
    assert n_over == 2
    plan = cand._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Aggregate \[id1#\d+L?, id2#\d+L?\]", plan)) == 1
    got = [(r.id1, r.id2) for r in cand.collect()]
    star = {(r.id1, r.id2) for r in
            dd.oversized_bucket_star_pairs(band, "doc_id", 50).collect()}
    assert star == {(0, i) for i in range(1, 60)}
    assert len(got) == len(set(got))
    assert set(got) == star | {(100, 101), (100, 102), (101, 102)}


def test_census_empty_case_is_local_and_lazy_free(spark):
    """Clean-corpus short-circuit: zero oversized keys must yield a
    collected EMPTY LocalRelation census — consumers of the report
    frame (near_dup_frames callers observing truncation) then pay ZERO
    further aggregation jobs, and candidate generation skips the
    anti-join entirely."""
    rows = [(0, h, i) for h in (1, 2, 3) for i in range(3)]
    band = spark.createDataFrame(rows, ["band_idx", "band_hash", "doc_id"])
    n_over, census = dd._counted_census_plan(band, "doc_id", 50)
    assert n_over == 0
    plan = census._jdf.queryExecution().optimizedPlan().toString()
    # empty-python-built frame (LocalRelation or empty LogicalRDD) —
    # the point is that NO aggregate subtree survives to re-run
    assert ("LocalRelation" in plan or "LogicalRDD" in plan)
    assert "Aggregate" not in plan
    assert census.count() == 0
    cand, _, tail_n = dd._census_candidates(band, "doc_id", 50, False)
    assert tail_n == 0
    assert "Join" not in cand._jdf.queryExecution().optimizedPlan().toString()


def test_line_repetition_stats_planted_and_shuffle_free(spark):
    """q235's Gopher line-rule semantics on planted geometry: a
    template doc (same line repeated) maxes both signals; a doc with
    ONE long repeated line among short unique ones moves the char
    fraction far more than the line fraction (why Gopher thresholds
    both); empty/null docs report zeros. And the plan is per-row
    arithmetic only — NO exchange."""
    long = "x" * 96
    rows = [
        (1, "buy now\nbuy now\nbuy now\nbuy now"),   # 4 identical lines
        (2, "alpha\nbeta\ngamma"),                     # all distinct
        (3, f"{long}\n{long}\na\nb\nc"),             # char-heavy dup
        (4, "  \n\n  "),                               # whitespace only
        (5, None),
        # CRLF corpus (r12 advice): a bare-\n split leaves '\r' on
        # every line ('foo\r' != 'foo') and both signals read 0
        (6, "buy now\r\nbuy now\r\nbuy now\r\nbuy now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           ts.line_repetition_stats(df, "doc_id", "text").collect()}

    assert out[1].n_lines == 4 and out[1].n_dup_lines == 3
    assert out[1].dup_line_frac == 0.75
    assert out[1].n_line_chars == 28 and out[1].n_dup_line_chars == 21
    assert out[1].dup_line_char_frac == 0.75

    assert out[2].n_dup_lines == 0 and out[2].dup_line_char_frac == 0.0

    # 5 lines, 1 dup → line frac 0.2; chars 192+3, dup chars 96 → 0.49
    r3 = out[3]
    assert r3.n_lines == 5 and r3.n_dup_lines == 1
    assert r3.dup_line_frac == 0.2
    assert r3.n_line_chars == 195 and r3.n_dup_line_chars == 96
    assert r3.dup_line_char_frac == round(96 / 195, 6)

    for d in (4, 5):
        r = out[d]
        assert (r.n_lines, r.n_dup_lines, r.dup_line_frac,
                r.n_line_chars, r.n_dup_line_chars,
                r.dup_line_char_frac) == (0, 0, 0.0, 0, 0, 0.0)

    # CRLF text dedups identically to LF text — same rows as doc 1
    r6 = out[6]
    assert (r6.n_lines, r6.n_dup_lines, r6.dup_line_frac,
            r6.n_line_chars, r6.n_dup_line_chars,
            r6.dup_line_char_frac) == (4, 3, 0.75, 28, 21, 0.75)

    plan = ts.line_repetition_stats(
        df, "doc_id", "text"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_scope_release_returns_storage_to_baseline(spark):
    # r16 (r15 advisor / verdict ask #3): dsir_logratio, the NB
    # model/scorer and temperature_mixture_weights pin cached frames
    # their returned DataFrames depend on; long-lived sessions run
    # each call in a storage scope. Probe: three consecutive scopes,
    # storage returns to baseline after each.
    from conftest import wait_for_background_sweeps

    from us_immigration_data_lake_spark.operators import sampling as sp
    from us_immigration_data_lake_spark.operators import training as tr

    sc = spark.sparkContext

    def stored_ids() -> set:
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    wait_for_background_sweeps()  # sweeps pin storage concurrently
    spark.catalog.clearCache()
    base = stored_ids()
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} common text token{i % 11}", i % 3)
         for i in range(60)],
        ["doc_id", "text", "label"],
    )
    tgt = spark.createDataFrame(
        [(1000 + i, "common text token3") for i in range(10)],
        ["doc_id", "text"],
    )

    for _ in range(3):
        with storage.scope() as s:
            sp.dsir_logratio(
                docs, tgt, "doc_id", "text", num_buckets=64,
            ).write.format("noop").mode("overwrite").save()
            model = tr.naive_bayes_model(
                docs, "doc_id", "text", "label", num_buckets=64,
            )
            tr.naive_bayes_classify(
                docs, model, "doc_id", "text", num_buckets=64,
            ).write.format("noop").mode("overwrite").save()
            sp.temperature_mixture_weights(
                docs.select("label", F.length("text").alias("sz")),
                "label", "sz",
            ).write.format("noop").mode("overwrite").save()
            assert len(s.caches) == 6  # 3 dsir + kb + all_feats + per
            assert stored_ids() - base  # the pins are live in the scope
        # no storage entry NEW since the baseline survives the scope
        # (id-set, not count: the ContextCleaner may asynchronously
        # reap other tests' dead blocks mid-test in suite context;
        # polled: the release does not block)
        deadline = time.monotonic() + 30
        while stored_ids() - base and time.monotonic() < deadline:
            time.sleep(0.1)
        assert stored_ids() - base == set()


def test_maybe_spread_by_id_guard(spark):
    # r16 spread-policy guard: a serial (1-partition) input spreads to
    # defaultParallelism; an already-parallel input passes through
    # with its partitioning untouched (the r15 revert rule).
    par = spark.sparkContext.defaultParallelism
    df = spark.range(100).withColumnRenamed("id", "doc_id")

    serial = df.coalesce(1)
    assert serial.rdd.getNumPartitions() == 1
    spread = dd.maybe_spread_by_id(serial, "doc_id")
    assert spread.rdd.getNumPartitions() == par

    wide = df.repartition(4, "doc_id")
    assert dd.maybe_spread_by_id(wide, "doc_id").rdd.getNumPartitions() == 4
