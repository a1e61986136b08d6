"""Embedding similarity search (SURVEY.md §2.10): brute-force cosine
top-k as the exact baseline, and a random-hyperplane (SRP) LSH bucketed
variant as the 100 TB path.

The float32 embedding arrays are cast to double FIRST so both the dot
product and the norms accumulate in double — bitwise-reproducible and
comparable to external oracles computing in double.

Scale design:
- brute-force: broadcast the (small) query set against the corpus —
  embarrassingly parallel map + per-query top-k (window). Correct but
  O(|corpus|·|queries|): the baseline only.
- SRP-LSH: each vector gets a b-bit signature (sign of dot with b
  fixed random hyperplanes, seed-deterministic); search joins only
  vectors sharing the signature bucket, optionally multi-probing the
  Hamming-1 neighbor buckets (``multiprobe=True``). Shuffles on the
  bucket key instead of broadcasting the corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from us_immigration_data_lake_spark.operators import storage


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# Widest vector the UNROLLED dot-product form may be used at (r12
# verdict ask #2 — the high-dimension regime). The unrolled sum is a
# left-associative chain, one Catalyst analyzer stack frame per
# element: COLD-session measured on this JVM, a dim-384 chain
# analyzes fine and dim-512 dies with java.lang.StackOverflowError —
# and the boundary is NOT stable (a session that ramped up through
# smaller plans first JIT-compiled the analyzer's recursion into
# smaller frames and survived dim 768). Half the measured cold floor
# for margin. Above this width every dot/cosine/signature renders as
# the HOF string (aggregate over zip_with) — a WIDE-but-SHALLOW tree
# whose fold order is identical, so values stay bitwise-equal.
UNROLL_MAX_DIM = 256

# Widest signature projection (num_tables · num_bits · dim multiply-
# add terms) that may render unrolled, at EVERY table count L,
# L=1 included. The limit it guards is janino's 64 KB per-method
# bytecode cap, not analyzer stack depth (UNROLL_MAX_DIM): the
# projection computing a row's L signatures inlines into a single
# generated method (and, on the cross-corpus query side, into the
# join stage's consume method), and when that method fails to compile
# Spark silently interprets the ENTIRE stage — the r6 q181 4.7×-cost
# class. One table of 12 bits at dim 64 (768 terms) hits it exactly
# like three tables of 4. Measured r15 (tests/codegen_probe.py,
# both the checkpoint context and the join-inlined cross context):
# 512 terms compile, 768 fail — in both contexts and regardless of
# the (L, bits) split. 512 is therefore the measured ceiling, kept
# exactly (not halved like UNROLL_MAX_DIM: that boundary drifts with
# JIT state, this one is a deterministic bytecode count) so that
# every ≤512-term plan stays byte-identical; the suite gate
# (tests/test_codegen_gate.py) fails the build if a new composition
# ever pushes a stage past the limit anyway.
SIG_UNROLL_MAX_TERMS = 512


def _dot_hof_sql(a: str, b: str) -> str:
    """HOF dot product as one parsed SQL string: same left-to-right
    0.0-seeded fold as the unrolled form (bitwise-equal values), tree
    depth O(1) instead of O(dim). Interpreted per element — the
    high-dim path, where the unrolled chain overflows the analyzer
    stack (see UNROLL_MAX_DIM)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _dot_fixed_sql(a: str, b: str, dim: int) -> str:
    """Dot product for a KNOWN vector width, rendered as ONE SQL
    string. Up to UNROLL_MAX_DIM the sum is unrolled; two wins over
    the HOF form (zip_with/aggregate):

    - zip_with/aggregate evaluate interpreted, one lambda call per
      element — unrolling keeps the whole expression inside
      whole-stage codegen (~25% faster on the brute-force KNN hot
      loop, A/B-measured at sf0.1);
    - building the unrolled tree operator-by-operator costs ~4·dim
      py4j round-trips PER dot product (3.5 s of driver time on q24's
      plan construction alone); one parsed string is one round-trip.

    Above UNROLL_MAX_DIM the unrolled chain StackOverflows the
    Catalyst analyzer (cold-session measured; see the constant), so
    the HOF string is emitted instead — same fold order, bitwise-
    equal values, depth-O(1) tree.

    The leading 0.0D seed and left-associative addition reproduce
    F.aggregate's fold exactly, so values are bitwise-equal across
    both forms (and to the DuckDB oracles generated against them)."""
    if dim > UNROLL_MAX_DIM:
        return _dot_hof_sql(a, b)
    terms = " + ".join(f"{a}[{d}] * {b}[{d}]" for d in range(dim))
    return f"(0.0D + {terms})"


def _cosine_fixed_sql(a: str, b: str, dim: int) -> str:
    return (
        f"({_dot_fixed_sql(a, b, dim)} / "
        f"(sqrt({_dot_fixed_sql(a, a, dim)}) * "
        f"sqrt({_dot_fixed_sql(b, b, dim)})))"
    )


def _cosine_maybe_fixed(a: str, b: str, dim: int | None) -> Column:
    """Cosine between two array<double> COLUMN NAMES; unrolled codegen
    expression when the width is known, HOF fallback otherwise."""
    return (
        F.expr(_cosine_fixed_sql(a, b, dim))
        if dim
        else cosine(F.col(a), F.col(b))
    )


def cosine_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast queries × corpus →
    score → per-query window top-k (deterministic tiebreak on corpus
    id). Returns (query_id, neighbor_id, cosine_sim). Pass ``dim``
    when the vector width is known to unroll the dot product into
    codegen (bitwise-identical values, see _dot_fixed_sql)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _cosine_maybe_fixed("qv", "cv", dim), 6
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", F.col("rn").cast("long").alias("rn"))
    )


def cosine_knn_pandas(
    corpus: DataFrame,
    queries_pdf_rows: list[tuple],
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Arrow-batched pandas variant of brute-force KNN — the sanctioned
    shape for Python in the hot path (SURVEY.md §2.8: pandas_udf beats
    row-at-a-time by 10-100×; native expressions beat both, so this
    exists as the escape hatch for numpy-only math, exercised in tests
    against the native implementation).

    ``queries_pdf_rows``: [(query_id, vector-list), ...] — shipped to
    executors via closure (small query sets only, same constraint as
    the broadcast in cosine_knn).
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    qids = np.array([q[0] for q in queries_pdf_rows])
    qvecs = np.array([q[1] for q in queries_pdf_rows], dtype=np.float64)
    qnorm = np.sqrt((qvecs * qvecs).sum(axis=1))

    out_schema = StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("cosine_sim", DoubleType()),
    ])

    def _batches(it):
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            norms = np.sqrt((vecs * vecs).sum(axis=1))
            sims = (vecs @ qvecs.T) / np.outer(norms, qnorm)
            rows = []
            for ci, cid in enumerate(ids):
                for qi, qid in enumerate(qids):
                    if cid != qid:
                        rows.append((int(qid), int(cid), round(float(sims[ci, qi]), 6)))
            yield pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine_sim"])

    scored = corpus.select(id_col, vec_col).mapInPandas(_batches, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: exact all-pairs on the
    given frame (the verification-grade baseline — restrict the input
    or use srp_lsh buckets as the candidate generator at scale; an
    unrestricted all-pairs over 100 TB of vectors is O(n²) by
    definition, no engine saves you)."""
    a = df.select(
        F.col(id_col).alias("id1"), _as_double(vec_col).alias("v1")
    )
    b = df.select(
        F.col(id_col).alias("id2"), _as_double(vec_col).alias("v2")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2",
            F.round(cosine(F.col("v1"), F.col("v2")), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def srp_signature(
    vec_col: str, planes: np.ndarray, hof: bool | None = None
) -> Column:
    """b-bit sign signature of the array<double> column named
    ``vec_col``: bit i = 1 iff dot(v, planes[i]) > 0. Planes are
    embedded as double literals (seed-fixed) in ONE rendered SQL
    expression — pure JVM arithmetic, no UDF, no nondeterminism, and
    one py4j round-trip instead of ~5·bits·dim building the tree
    operator-by-operator (driver-side plan construction was the
    dominant cost of the LSH queries at gate scale). repr() literals
    round-trip IEEE-754 doubles exactly, and the unrolled left-fold
    matches the previous HOF-aggregate fold bit-for-bit.

    Above UNROLL_MAX_DIM each per-plane dot renders as the HOF string
    over a literal plane ARRAY instead of the unrolled chain (which
    StackOverflows the analyzer there — see UNROLL_MAX_DIM): an array
    literal is one wide-but-shallow node, and the HOF fold order is
    identical, so bucket assignments are bit-identical across the two
    forms (tested).

    ``hof=True`` forces the HOF dot form BELOW UNROLL_MAX_DIM too —
    the term-budget dispatch (see SIG_UNROLL_MAX_TERMS), which every
    SRP operator applies through one builder at any table count:
    once a projection's unrolled signatures (L tables · bits · dim
    terms) pass the budget, the generated method exceeds janino's
    64 KB limit and the WHOLE stage falls back to interpreted
    evaluation, which costs more than interpreting just the dots
    (each HOF dot is a CodegenFallback leaf; the stage around it
    still compiles). hof=None keeps the per-plane width rule."""
    parts = []
    dim = planes.shape[1] if hasattr(planes, "shape") else len(planes[0])
    for i, plane in enumerate(planes):
        if hof or dim > UNROLL_MAX_DIM:
            lits = ", ".join(f"{float(x)!r}D" for x in plane)
            dot = _dot_hof_sql(vec_col, f"array({lits})")
        else:
            terms = " + ".join(
                f"{vec_col}[{j}] * {float(x)!r}D"
                for j, x in enumerate(plane)
            )
            dot = f"(0.0D + {terms})"
        parts.append(
            f"shiftleft(CASE WHEN {dot} > 0.0D THEN 1L ELSE 0L END, {i})"
        )
    return F.expr("(" + " | ".join(parts) + ")")


def srp_planes(dim: int, num_bits: int = 12, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(num_bits, dim)


def recommended_num_bits(
    n_rows: int,
    *,
    target_occupancy: int = 8,
) -> int:
    """The SRP plane-count rule as code (r12 verdict ask #4): pick
    ``num_bits`` so expected bucket occupancy ``n_rows / 2**num_bits``
    stays ~constant as the corpus grows — the discipline SCALE.md
    measures twice (cross-corpus dedup: "num_bits ≈ 8 + log2(ref
    scale)" held the ref-axis slope at 1.4×; q233 mining: bits 6→10
    at 10× ran 6.9× cheaper than fixed bits). With occupancy held,
    the within-bucket pair volume Σ|bucket|² ≈ n·occupancy is LINEAR
    in the corpus instead of quadratic.

    ``num_bits = clamp(round(log2(n_rows / target_occupancy)))`` —
    rounding to the nearest integer keeps realized occupancy within
    √2× of the target (each whole bit halves/doubles it). Defaults:

    - ``target_occupancy=8`` — the DEDUP-pair rule. Pairs need only
      survive a cosine threshold, so small buckets cost little recall;
      reproduces SCALE.md's measured ladder (2 k rows → 8 bits,
      20 k → 11).
    - pass ``target_occupancy=24`` at CANDIDATE-GENERATION sites
      (kNN / hard-negative mining), where each query must see enough
      same-bucket candidates to fill k after exclusion filtering;
      reproduces q233's measured 2 k → 6 bits, 20 k → 10.

    Recall per pair falls as (1 − θ/π)**bits — at corpus scale run
    wider signatures or multiple independent tables (the MinHash
    banding analog) and let q221's calibration loop price the trade
    before deployment. The clamp's floor of 4 bits covers tiny corpora
    (16 buckets keeps the self-join off near-cross-join shapes); its
    ceiling of 24 bits caps the literal-plane expression size (bits·dim
    terms must stay inside JVM codegen limits).

    Operators accept ``num_bits=None`` → this rule applied to a
    ``count()`` of their corpus side — one eager aggregation job at
    plan-build time, the same priced discipline as the cap census."""
    import math

    if n_rows <= 0:
        return 4
    bits = round(math.log2(max(n_rows, 1) / target_occupancy))
    return max(4, min(24, int(bits)))


def _best_cells(vec: Column, centroids: list[list[float]], n: int) -> Column:
    """The ``n`` nearest centroids (by cosine) to ``vec`` as an array of
    (neg_sim, cell) structs. Centroids ship as literal arrays, so this
    is pure JVM expression arithmetic — shared by IVF assignment at
    query time (ivf_knn) and by Lloyd iteration at training time."""
    cents = [F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    scored = F.array(*[
        F.struct(
            (-cosine(vec, c)).alias("neg"), F.lit(i).cast("long").alias("cell")
        )
        for i, c in enumerate(cents)
    ])
    return F.slice(F.array_sort(scored), 1, n)


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 5,
) -> list[list[float]]:
    """Lloyd's k-means over the embedding column — trains the cell
    centroids that ``ivf_knn`` takes as input, in-engine.

    Seeding is a deterministic uniform sample: the k vectors whose
    ``md5('42' || id)`` sorts lowest (one TakeOrderedAndProject job, no
    RNG state, same k rows on any cluster layout). Each Lloyd pass
    assigns every vector to its nearest current centroid (literal
    arrays — the same expression ivf_knn uses) and recomputes per-cell
    per-dimension means via posexplode + hash agg: partial aggregation
    means only ~k*dim rows per partition cross the shuffle, and the
    k*dim result (the model, not data) returns to the driver each pass
    — the same shape MLlib's k-means uses. Empty cells keep their
    previous centroid. Cosine assignment + unnormalized mean is
    spherical k-means (cosine is scale-invariant in the centroid).

    Scale: iters × (one scan + one k*dim shuffle). The collect is
    k*dim doubles, never corpus rows.
    """
    base = corpus.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("v")
    )
    seed_rows = (
        base.withColumn(
            "_r",
            F.md5(F.concat_ws("|", F.lit("42"), F.col("_id").cast("string"))),
        )
        .orderBy("_r")
        .limit(k)
        .select("v")
        .collect()
    )
    centroids = [[float(x) for x in r.v] for r in seed_rows]
    if len(centroids) < k:
        raise ValueError(f"corpus has only {len(centroids)} vectors, need k={k}")
    for _ in range(iters):
        assigned = base.withColumn(
            "cell", _best_cells(F.col("v"), centroids, 1)[0]["cell"]
        )
        sums = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        dim = len(centroids[0])
        fresh: dict[int, list[float]] = {}
        for r in sums:
            fresh.setdefault(int(r.cell), [0.0] * dim)[int(r.pos)] = r.s / r.n
        centroids = [fresh.get(i, centroids[i]) for i in range(k)]
    return centroids


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    centroids: list[list[float]],
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style approximate KNN: vectors are assigned to their nearest
    centroid (the inverted-file cell); a query probes its ``nprobe``
    nearest cells and re-ranks exactly within them.

    Centroids are caller-provided (``train_ivf_centroids``, or any
    offline model) and ship as literals — the assignment is pure
    JVM expression arithmetic. Scale shape: corpus shuffles once on
    cell id; queries replicate ×nprobe; the join is cell-id equi, never
    a corpus broadcast.
    """

    def best_cells(vec: Column, n: int) -> Column:
        return _best_cells(vec, centroids, n)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).withColumn("cell", best_cells(F.col("cv"), 1)[0]["cell"])
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).withColumn(
        "cell", F.explode(F.transform(best_cells(F.col("qv"), nprobe), lambda s: s["cell"]))
    )
    scored = (
        c.join(q, on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def _srp_sig(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_bits: int,
    seed: int,
    num_tables: int = 1,
    names: tuple[str, str] = ("__id", "__v"),
) -> DataFrame:
    """The one SRP signature projection every SRP operator builds on:
    ``(__id, __v, bucket, __n)`` at one table, ``(__id, __v,
    __buckets array<long>, __n)`` at ``num_tables`` L > 1 — table t's
    planes are seeded ``seed + t``, so table 0 is the single-table
    bucketing exactly. ``__n`` is the L2 norm the 1-dot pair cosine
    (_pair_cosine) divides by; a consumer that never reads it prunes
    it from the plan. ``names`` renames the id and vector columns for
    a caller whose plan reads them under its own names.

    Pure per-row expressions, so a streaming frame flows through
    unchanged. A caller that reads the frame more than once
    checkpoints it — see srp_bucket_near_dup_pairs for why that
    barrier is load-bearing (double execution + codegen 64 KB
    collapse).

    All L signatures render into this ONE projection: above
    SIG_UNROLL_MAX_TERMS combined terms (L·num_bits·dim) every
    per-plane dot renders as a HOF string, at any L — so the stage
    still compiles, only the dots are interpreted, and bucket values
    stay bitwise-identical (the UNROLL_MAX_DIM guarantee). At or
    below the budget the unrolled form is kept."""
    if num_tables < 1:
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    id_name, v = names
    hof = num_tables * num_bits * dim > SIG_UNROLL_MAX_TERMS
    sigs = [
        srp_signature(v, srp_planes(dim, num_bits, seed + t), hof=hof)
        for t in range(num_tables)
    ]
    sig = df.select(
        F.col(id_col).alias(id_name), _as_double(vec_col).alias(v)
    )
    if num_tables == 1:
        sig = sig.withColumn("bucket", sigs[0])
    else:
        sig = sig.withColumn("__buckets", F.array(*sigs))
    return sig.withColumn(
        "__n", F.expr(f"sqrt({_dot_fixed_sql(v, v, dim)})")
    )


def _srp_tables(
    sig: DataFrame, num_tables: int, *cols, band: bool = False
) -> tuple[DataFrame, list[str]]:
    """Rows of an ``_srp_sig`` frame keyed for a bucket join, and the
    join keys:

    - L=1: one row per vector, keyed on the scalar ``bucket``. A pair
      meets in at most one bucket, so a join emits it at most once and
      needs no duplicate drop (the zero-state streaming probe of
      streaming.dedup relies on this).
    - L>1: ``__buckets`` posexplodes into one (band_idx, bucket) row
      per table. A pair colliding in several tables joins once per
      table, so every caller that emits pairs drops the repeats.

    ``band=True`` names the bucket ``band_hash`` and always carries
    ``band_idx`` (0 at L=1): the band-frame shape the text path's
    bucket machinery (dedup.candidate_pairs) reads."""
    key = "band_hash" if band else "bucket"
    if num_tables > 1:
        return (
            sig.select(*cols,
                       F.posexplode("__buckets").alias("band_idx", key)),
            ["band_idx", key],
        )
    if band:
        return (
            sig.select(*cols, F.lit(0).alias("band_idx"),
                       F.col("bucket").alias(key)),
            ["band_idx", key],
        )
    return sig.select(*cols, "bucket"), ["bucket"]


def _probe_hamming1(q: DataFrame, num_bits: int) -> DataFrame:
    """``q`` with each row's ``bucket`` replaced by itself and its
    ``num_bits`` Hamming-1 neighbours, one row each — the multiprobe
    query side (1 + num_bits probes per query)."""
    probes = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(num_bits)
        ],
    )
    return q.withColumn("bucket", F.explode(probes))


def srp_lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    num_bits: int = 12,
    seed: int = 42,
    multiprobe: bool = False,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share the SRP bucket; exact cosine
    re-rank within bucket. At 100 TB the bucket join replaces the
    corpus broadcast; recall is tuned by num_bits (fewer bits → bigger
    buckets → higher recall, more compute).

    ``multiprobe=True`` additionally probes every Hamming-1 neighbor of
    the query's bucket (a near neighbor that landed barely on the other
    side of ONE hyperplane is the dominant miss mode). Each query then
    hits 1 + num_bits buckets, so candidate volume grows ~(1+b)× — the
    recall/compute knob that doesn't change the corpus-side layout
    (only the QUERY side replicates; the corpus still shuffles once on
    its single bucket key).

    ``num_tables=L > 1`` is the OTHER recall lever (q239's, applied to
    kNN): L independent plane tables (table t seeded ``seed + t``;
    table 0 is the single-table bucketing), candidates share a bucket
    in ANY table — per-neighbor candidate recall 1 − (1−p^b)^L.
    Unlike multiprobe this DOES replicate the corpus side (L rows per
    corpus vector, the multi-table index), and a pair colliding in
    several tables is counted once before scoring. Because the
    re-rank is by TRUE cosine, growing the candidate set can only
    improve recall against the exact top-k (a displaced candidate is
    displaced by an exact-better one) — the multiprobe dominance
    theorem, inherited; and the two levers compose (multiprobe then
    probes Hamming-1 within every table)."""

    def side(df: DataFrame, id_name: str, v_name: str):
        sig = _srp_sig(df, id_col, vec_col, dim, num_bits, seed,
                       num_tables, names=(id_name, v_name))
        return _srp_tables(sig, num_tables, id_name, v_name)

    c, keys = side(corpus, "neighbor_id", "cv")
    q, _ = side(queries, "query_id", "qv")
    if multiprobe:
        q = _probe_hamming1(q, num_bits)
    cand = c.join(q, on=keys).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    if num_tables > 1:
        # one vote per pair regardless of how many tables it collided
        # in (qv/cv ride along — identical on every duplicate, so the
        # drop is deterministic)
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(
            _cosine_maybe_fixed("qv", "cv", dim), 6
        ).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cosine_sim")
    )


def srp_bucket_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    num_bits: int | None = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs sought ONLY within an SRP
    bucket — the scale path for cosine_near_dup_pairs (whose all-pairs
    cross join is the verification baseline). The SemDeDup shape
    (Abbas et al. 2023): partition the embedding space (there by
    k-means cluster, here by seed-fixed random-hyperplane sign
    buckets — deterministic, trainingless), then run exact pairwise
    similarity inside each cell only.

    Plan: one signature projection (literal-plane JVM arithmetic, no
    UDF), one equi-join on the bucket key, exact cosine on the
    survivors — pairs materialize only through a shared bucket, so
    cost is Σ over buckets of |bucket|², never |corpus|². Recall
    tunes with num_bits (fewer bits → bigger buckets → more recall,
    more compute); a pair split across buckets is missed by design,
    exactly as SemDeDup only dedups within a cluster.

    The signature frame (id, vector, L2 norm, bucket) is materialized
    ONCE with an eager localCheckpoint — it feeds BOTH sides of the
    self-join, so without the barrier every signature (and norm)
    computes twice, and worse, projection collapse inlines the
    bits·dim-term signature expressions plus a 3·dim-term cosine into
    the join stage's single consume method, which blows the JVM's
    64 KB method limit ("Code grows beyond 64 KB") — whole-stage
    codegen then pays a multi-second compile attempt and falls back
    to INTERPRETED evaluation of those giant trees for every pair
    (r6 root-cause of q181's 11.7 s bench time; 4.7× faster after).
    With norms precomputed corpus-side (linear), the per-pair stage
    is a plain dim-term dot ÷ norm product — small enough to stay
    inside codegen at any pair volume. sqrt-then-multiply is the
    same float sequence as the previous sqrt(dot)·sqrt(dot) form, so
    values are bit-identical.

    Returns (id1, id2, cosine_sim) with id1 < id2 and
    round(cosine, 6) >= threshold.

    ``num_bits=None`` → ``recommended_num_bits(df.count())`` (the
    dedup-occupancy rule; one eager count job at plan-build time).
    """
    from us_immigration_data_lake_spark.operators.dedup import (
        maybe_spread_by_id,
    )

    if num_bits is None:
        num_bits = recommended_num_bits(df.count())
    # Spread the input first (r16 re-adjudication, per call site): the
    # checkpoint's only consumers here are the two self-join map
    # sides, and the guarded spread of a serial scan won solo A/B
    # (q181 3.34 → 2.82 s median). The CAPPED path
    # (srp_near_dup_frames → q187/q188/q233) does not: its census/
    # candidate/verify fan-out measured a consistent LOSS with
    # 32-partition signatures (q188 6.85 → 9.0-9.4 s solo medians).
    # At cluster scale the input arrives parallel and the guard makes
    # the spread a no-op.
    sig = storage.checkpoint(_srp_sig(
        maybe_spread_by_id(df, id_col), id_col, vec_col, dim, num_bits,
        seed,
    ))
    a = sig.select(
        F.col("__id").alias("id1"), F.col("__v").alias("v1"),
        F.col("__n").alias("n1"), "bucket",
    )
    b = sig.select(
        F.col("__id").alias("id2"), F.col("__v").alias("v2"),
        F.col("__n").alias("n2"), "bucket",
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2",
            F.round(_pair_cosine(dim), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _pair_cosine(dim: int) -> F.Column:
    """Cosine of (v1, v2) from precomputed norms (n1, n2)."""
    return F.expr(f"{_dot_fixed_sql('v1', 'v2', dim)} / (n1 * n2)")


def srp_near_dup_frames(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    num_bits: int = 8,
    seed: int = 42,
    max_bucket_size: int = 1000,
    recover_oversized: bool = False,
    num_tables: int = 1,
) -> dict[str, DataFrame]:
    """srp_bucket_near_dup_pairs with the SAME mega-bucket skew guard
    the MinHash text path has (operators/dedup.py:near_dup_frames):
    an SRP bucket is Σ|bucket|² work, and with a FIXED number of
    planes bucket occupancy grows linearly with the corpus — so pair
    volume grows quadratically (measured: 21× q181 wall-clock at 3×
    rows before capping existed). Buckets over ``max_bucket_size``
    are excluded from all-pairs candidate generation and, with
    ``recover_oversized``, contribute anchor-star candidates
    (member ↔ bucket-min, linear in bucket size) instead; exact
    cosine verification then filters both kinds identically, so a
    dense semantic cluster still collapses to one survivor in
    connected-components dedup rather than exploding one reducer.

    ``num_tables`` = L > 1 is the MinHash-BANDING analog for
    embeddings (q239): L INDEPENDENT hyperplane tables (table t's
    planes seeded ``seed + t``, so table 0 is the single-table
    bucketing exactly), a candidate pair needs to share a bucket in
    ANY table, exact cosine verifies. Per-pair recall rises from p^b
    (one table) to 1 − (1−p^b)^L with p = 1 − θ/π — the OTHER recall
    lever next to multiprobe: probes recover Hamming-1 neighbors of
    one partition, independent tables resample the partition itself.
    Cost is Σ over (table, bucket) of |bucket|², L× the single-table
    candidate volume at equal bits: spend it to BUY recall at the
    same bucket granularity, with num_bits still growing
    ~log(corpus) (recommended_num_bits) to hold per-table occupancy.

    The text path's bucket machinery is reused verbatim: the SRP
    bucket rides the band_hash slot and the table index the band_idx
    slot (0 at L=1), so the counted census, the cap, oversized
    observability and OOM-safe strategy selection can never drift
    between MinHash banding and SRP at any L. A pair colliding in
    several tables is emitted once (candidate_pairs dedups inside
    the bucket expand). Returns ``{"pairs": (id1, id2, cosine_sim),
    "oversized": one row per capped (band_idx, bucket),
    "n_oversized": int}``; the signature checkpoint and the
    band-frame cache belong to the caller's ``storage.scope()``.
    """
    from us_immigration_data_lake_spark.operators.dedup import (
        _census_candidates,
    )

    # one barrier for the signature stage: it feeds the band frame
    # AND the verify join's vector/norm lookups
    sig = storage.checkpoint(_srp_sig(
        df, id_col, vec_col, dim, num_bits, seed, num_tables
    ))
    # the census and the candidate expansion both scan the bucket
    # frame; cache the three tiny columns so the signature stage is
    # read once.
    band_df = storage.cache(_srp_tables(sig, num_tables, "__id",
                                        band=True)[0])
    # ONE bucket census shared by the key count, the anchor-star seeds
    # and the oversized report — the same tail as dedup.near_dup_frames,
    # so cap-site cost can never drift between the two pipelines.
    cand, oversized, n_over = _census_candidates(
        band_df, "__id", max_bucket_size, recover_oversized
    )
    v1 = sig.select(
        F.col("__id").alias("id1"), F.col("__v").alias("v1"),
        F.col("__n").alias("n1"),
    )
    v2 = sig.select(
        F.col("__id").alias("id2"), F.col("__v").alias("v2"),
        F.col("__n").alias("n2"),
    )
    pairs = (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .select(
            "id1", "id2",
            F.round(_pair_cosine(dim), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    return {
        "pairs": pairs,
        "oversized": oversized,
        # counted by the census already — the near_dup_frames contract
        "n_oversized": n_over,
    }


def srp_ref_index_frames(
    ref_df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    num_bits: int | None = 8,
    max_bucket_size: int = 1000,
    num_tables: int = 1,
) -> dict[str, DataFrame | int]:
    """The REFERENCE-side index for CROSS-corpus SEMANTIC dedup —
    which embeddings of a NEW batch are cosine near-dups of a fixed
    REFERENCE corpus (this week's crawl vs the training set you
    already have, paraphrases included): ``{"index": (bucket, id_ref,
    v2, n2), "oversized": (bucket, bucket_n, anchor_id), "num_bits":
    int, "num_tables": int}``. The index holds the reference's capped
    SRP bucket members (``max_bucket_size`` smallest ids per bucket)
    joined to their vectors and precomputed norms, so cosine
    verification needs no second look at the reference; ``oversized``
    makes the truncation observable. The embedding twin of
    dedup.cross_ref_index_frames: a one-shot ("cold") cross dedup is
    this build followed by ``cross_srp_pairs_indexed``; an amortized
    or streaming ingest builds once and probes every batch or
    micro-batch (streaming.dedup). The reference never self-joins (at
    100 TB its self-pairs are most of the work the cross question
    never needs), and a vector's bucket does not depend on which
    frame it sits in. No anchor-star recovery: a capped bucket
    retains cap verifiable representatives and there is no
    within-side clustering to preserve.

    ``num_tables`` = L > 1 indexes the reference under L independent
    plane tables (srp_near_dup_frames's banding lever, q240): an
    incoming batch or stream recovers a near-dup if it collides in
    ANY table (1 − (1−p^b)^L per-pair recall at L× index size and
    candidate volume). Every key then gains the table index:
    ``index`` is (band_idx, bucket, id_ref, v2, n2) and ``oversized``
    is per (band_idx, bucket).

    Bounded per-key state (the r8 form collect_list'd the full bucket
    before slicing): cap-smallest-ids via the two-phase
    dedup.capped_bucket_members — one count+min census finds the rare
    oversized buckets, only their members pay the spillable row_number
    sort, the common ≤cap buckets pass through a broadcast anti-join
    (r9 verdict ask #1: the r9 row_number form sorted EVERY bucket);
    ``oversized`` IS that census (no second aggregation, no job to
    read when it was collected). The cap is per key,
    the SAME machinery the banded text index uses, so truncation
    semantics are shared and oracle-gated on the text path. The
    signature stage is checkpointed once per build (the cap's scans
    and the vector join all read it); the checkpoint belongs to the
    caller's ``storage.scope()``.

    ``num_bits=None`` → ``recommended_num_bits(ref_df.count())`` —
    SCALE.md's ref-axis rule ("num_bits ≈ 8 + log2(ref scale)") as
    code: one eager count per index BUILD, amortized with the index.
    The new side must sign with the SAME bits and tables, so the
    RESOLVED values are returned under ``"num_bits"`` (always an int,
    whether auto-picked or passed through) and ``"num_tables"`` —
    pass them to cross_srp_pairs_indexed / the streaming wrapper. A
    query side signing differently silently matches nothing."""
    from us_immigration_data_lake_spark.operators.dedup import (
        capped_bucket_members,
    )

    if num_bits is None:
        num_bits = recommended_num_bits(ref_df.count())
    sig_ref = storage.checkpoint(_srp_sig(
        ref_df, id_col, vec_col, dim, num_bits, 42, num_tables
    ))
    band, keys = _srp_tables(sig_ref, num_tables, "__id")
    capped, oversized = capped_bucket_members(
        band.select(*keys, "__id"), "__id", max_bucket_size,
        key_cols=tuple(keys),
    )
    index = capped.select(*keys, F.col("__id").alias("id_ref")).join(
        sig_ref.select(
            F.col("__id").alias("id_ref"),
            F.col("__v").alias("v2"),
            F.col("__n").alias("n2"),
        ),
        "id_ref",
    )
    return {"index": index, "oversized": oversized, "num_bits": num_bits,
            "num_tables": num_tables}


def cross_srp_pairs_indexed(
    new_df: DataFrame,
    ref_index: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    num_bits: int = 8,
    num_tables: int = 1,
) -> DataFrame:
    """Cross-corpus SEMANTIC near-dup pairs of a NEW batch (or STREAM —
    every new-side operation is a per-row expression, so a streaming
    frame flows through unchanged; streaming.dedup wraps this) against
    an ``srp_ref_index_frames`` index. Per
    new row: SRP bucket signature + norm (pure arithmetic, no shuffle,
    no checkpoint — the batch path's localCheckpoint barrier is an
    optimization the single downstream consumer here doesn't need),
    then ONE equi-join on the bucket key with the cosine verify
    inline. Plane parameters (``num_bits``, ``num_tables``) must match
    the index build — read them back from srp_ref_index_frames.

    At one table a vector has exactly ONE bucket, so a pair can
    surface at most once — append-mode emission needs no dedup state
    at all; the batch (q192) and the stream (q204) share one oracle
    SQL. At L > 1 tables the join is on (band_idx, bucket) and a pair
    colliding in several tables is emitted ONCE (dropDuplicates on
    the verified pair — the cosine is a pure function of the pair, so
    the drop is deterministic). On a stream that drop is
    watermark-bounded dedup state (the text twin's q195 pattern), not
    free — one table + multiprobe keeps the zero-state property if
    that matters more than recall."""
    sig = _srp_sig(new_df, id_col, vec_col, dim, num_bits, 42, num_tables)
    new, keys = _srp_tables(
        sig, num_tables, F.col("__id").alias("id_new"),
        F.col("__v").alias("v1"), F.col("__n").alias("n1"),
    )
    pairs = (
        new.join(ref_index, keys)
        .select(
            "id_new",
            "id_ref",
            F.round(_pair_cosine(dim), 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    if num_tables > 1:
        pairs = pairs.dropDuplicates(["id_new", "id_ref"])
    return pairs


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    num_bits: int = 8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication decision over an
    embedding column: SRP-bucketed near-dup pairs →
    connected-components clustering → keep-smallest-id-per-cluster
    (operators/dedup.py machinery — same survivor convention as the
    MinHash text path, so text and embedding dedup compose). Returns
    (id, cluster, keep) for EVERY input row; rows in no pair are
    singleton clusters that keep themselves.

    ``max_bucket_size`` DEFAULTS to the guarded srp_near_dup_frames
    path (cap=1000 + anchor-star recovery, matching near_dup_pairs's
    text-side default): with a fixed plane count, SRP bucket occupancy
    grows linearly with corpus size and within-bucket pair volume
    quadratically — the r6 scaling probe measured the uncapped plan at
    31× wall-clock for 10× rows, the capped one at 1.4×. Pass
    ``max_bucket_size=None`` explicitly for the uncapped
    exact-within-bucket SemDeDup gate semantics (small corpora /
    oracle replay only — never the 100 TB configuration)."""
    from us_immigration_data_lake_spark.operators.dedup import (
        dedup_survivors,
    )

    if max_bucket_size is None:
        pairs = srp_bucket_near_dup_pairs(
            df, id_col, vec_col, threshold, dim, num_bits=num_bits
        )
    else:
        pairs = srp_near_dup_frames(
            df, id_col, vec_col, threshold, dim, num_bits=num_bits,
            max_bucket_size=max_bucket_size, recover_oversized=True,
        )["pairs"]
    return dedup_survivors(df, pairs.select("id1", "id2"), id_col)


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid, "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011): split the vector into
# n_sub subspaces, vector-quantize each against a small per-subspace
# codebook, and approximate distances from the code words alone
# (ADC — asymmetric distance computation). PQ is the COMPRESSION leg
# of large-scale ANN: a 64-dim float64 vector becomes n_sub small
# ints, so a 100 TB corpus's index fits in a fraction of the space,
# while IVF cells (above) remain the PRUNING leg — ivfpq_knn below
# composes both, the structure of a production IVF-PQ index.
#
# Engine-portability: every distance is integer-ized per (subspace,
# code) — CAST(ROUND(sqdist * 1e6) AS BIGINT) of a left-associative
# double chain over literal centroids — so ADC sums are exact BIGINT
# adds (order-independent across partial aggregation) and an external
# engine replays encode, probe, and scoring bit-for-bit.
# ---------------------------------------------------------------------------


def sq_dist_fixed_sql(
    vec: str, centroid: list[float], offset: int, one_based: bool
) -> str:
    """Unrolled squared-L2 distance between ``vec[offset:offset+d]``
    and a literal centroid, as ONE SQL string (same codegen rationale
    as _dot_fixed_sql). ``one_based`` renders DuckDB's 1-based array
    indexing; addition is left-associative in both engines, so the
    double result is bit-identical."""
    base = 1 if one_based else 0
    terms = " + ".join(
        f"({vec}[{offset + j + base}]-({c!r}))*({vec}[{offset + j + base}]-({c!r}))"
        for j, c in enumerate(centroid)
    )
    return f"(CAST(0.0 AS DOUBLE) + {terms})"


def sq_dist_c_sql(
    vec: str, centroid: list[float], offset: int, one_based: bool
) -> str:
    """``sq_dist_fixed_sql`` scaled to exact micro-units (BIGINT)."""
    return (
        f"CAST(ROUND({sq_dist_fixed_sql(vec, centroid, offset, one_based)}"
        f" * 1000000) AS BIGINT)"
    )


def argmin_code_sql(
    vec: str, centroids: list[list[float]], offset: int, one_based: bool
) -> str:
    """Index of the nearest centroid (ties → lowest index, via struct
    sort on (integer distance, index)) — the PQ encoder / IVF coarse
    assigner as one portable expression. Spark spelling uses
    named_struct + array_sort; callers on other engines build the
    equivalent list_sort (see q157's oracle)."""
    structs = ", ".join(
        f"named_struct('d', {sq_dist_c_sql(vec, c, offset, one_based)}, 'c', {i})"
        for i, c in enumerate(centroids)
    )
    return f"array_sort(array({structs}))[0].c"


def pq_codebooks(
    dim: int, n_sub: int, k_codes: int, seed: int = 42
) -> list[list[list[float]]]:
    """Seed-fixed random codebooks (codebooks[s][c] is a sub_dim
    vector) — the literal-parameter model for gate queries, same role
    as srp_planes / q92's centroids. Production models come from
    pq_train_codebooks."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    rng = np.random.RandomState(seed)
    sub = dim // n_sub
    return [
        [[float(x) for x in rng.randn(sub)] for _ in range(k_codes)]
        for _ in range(n_sub)
    ]


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, codebooks: list[list[list[float]]]
) -> DataFrame:
    """(id, codes array<int>): per subspace, the nearest codebook
    entry. Pure map-side JVM expressions — at 100 TB this is the
    one-pass compression job whose output (a few bytes/vector)
    replaces the raw embedding column in the index."""
    sub = len(codebooks[0][0])
    codes = ", ".join(
        argmin_code_sql("__pqv", cb, s * sub, one_based=False)
        for s, cb in enumerate(codebooks)
    )
    return df.select(
        F.col(id_col),
        _as_double(vec_col).alias("__pqv"),
    ).select(id_col, F.expr(f"array({codes})").alias("codes"))


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_sub: int,
    k_codes: int,
    iters: int = 5,
) -> list[list[list[float]]]:
    """In-engine PQ training: independent Lloyd k-means per subspace
    over the SLICED vectors, all subspaces in ONE pass per iteration
    (the subspace id rides the exploded rows, so iteration cost is one
    scan + one (n_sub·k·sub_dim)-row shuffle regardless of n_sub).
    Seeding mirrors train_ivf_centroids: per subspace, the k vectors
    with the lowest md5('42' || sub || id) — deterministic on any
    cluster layout. Empty cells keep their previous centroid."""
    first = corpus.select(_as_double(vec_col).alias("v")).first()
    if first is None:
        raise ValueError("pq_train_codebooks: empty corpus")
    dim = len(first.v)
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    sub = dim // n_sub
    base = corpus.select(
        F.col(id_col).alias("_id"), _as_double(vec_col).alias("v")
    ).select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("v", s * sub + 1, sub).alias("sv"),
                    )
                    for s in range(n_sub)
                ]
            )
        ).alias("e"),
    ).select("_id", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))

    from pyspark.sql import Window as _W

    seed_rank = F.row_number().over(
        _W.partitionBy("s").orderBy(
            F.md5(
                F.concat_ws(
                    "|", F.lit("42"), F.col("s").cast("string"),
                    F.col("_id").cast("string"),
                )
            )
        )
    )
    seed_rows = (
        base.withColumn("_rn", seed_rank).filter(F.col("_rn") <= k_codes).collect()
    )
    books: list[list[list[float]]] = [[None] * k_codes for _ in range(n_sub)]  # type: ignore[list-item]
    for r in seed_rows:
        books[int(r.s)][int(r._rn) - 1] = [float(x) for x in r.sv]
    for s in range(n_sub):
        if any(c is None for c in books[s]):
            raise ValueError(
                f"subspace {s}: corpus too small for k_codes={k_codes}"
            )
    for _ in range(iters):
        code_case = (
            "CASE s "
            + " ".join(
                f"WHEN {s} THEN {argmin_code_sql('sv', books[s], 0, False)}"
                for s in range(n_sub)
            )
            + " END"
        )
        assigned = base.withColumn("c", F.expr(code_case))
        sums = (
            assigned.select("s", "c", F.posexplode("sv").alias("pos", "x"))
            .groupBy("s", "c", "pos")
            .agg(F.sum("x").alias("sum_x"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        fresh: dict[tuple[int, int], list[float]] = {}
        for r in sums:
            fresh.setdefault((int(r.s), int(r.c)), [0.0] * sub)[int(r.pos)] = (
                r.sum_x / r.n
            )
        books = [
            [fresh.get((s, c), books[s][c]) for c in range(k_codes)]
            for s in range(n_sub)
        ]
    return books


def ivfpq_knn(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ approximate KNN: coarse cells prune (only nprobe cells'
    codes are touched per query), PQ codes compress (the join carries
    (cell, subspace, code) ints, never raw vectors), and ADC scores
    (per query, a small (subspace, code) → distance table, broadcast;
    the corpus side just sums its n_sub looked-up BIGINTs).

    Scale shape: corpus encodes map-side and shuffles once on cell id;
    both query-side frames (probed cells, distance tables) are
    queries×small and broadcast; the aggregate is an exact-integer
    partial-agged sum. No raw corpus vector crosses a shuffle and
    nothing is all-pairs. Returns (query_id, neighbor_id, adist_c)
    with ties broken by neighbor_id."""
    n_sub = len(codebooks)
    sub = len(codebooks[0][0])

    cell_expr = F.expr(argmin_code_sql("__pqv", coarse_centroids, 0, False))
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__pqv")
        )
        .withColumn("cell", cell_expr)
        .withColumn(
            "codes",
            F.expr(
                "array("
                + ", ".join(
                    argmin_code_sql("__pqv", cb, s * sub, False)
                    for s, cb in enumerate(codebooks)
                )
                + ")"
            ),
        )
        .select("neighbor_id", "cell", F.posexplode("codes").alias("s", "code"))
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__pqv")
    )
    cell_structs = ", ".join(
        f"named_struct('d', {sq_dist_c_sql('__pqv', cc, 0, False)}, 'c', {i})"
        for i, cc in enumerate(coarse_centroids)
    )
    probed = q.select(
        "query_id",
        F.explode(
            F.expr(
                f"transform(slice(array_sort(array({cell_structs})), 1, {nprobe}),"
                " x -> x.c)"
            )
        ).alias("cell"),
    )
    # one projection PER SUBSPACE, unioned: a single array over all
    # n_sub × k_codes distance structs inlines every unrolled
    # sq-dist chain into one generate_doConsume method, which blows
    # janino's 64 KB method limit — whole-stage codegen then logs
    # "Failed to compile" and interprets the stage every run. Each
    # union arm carries only k_codes structs (1/n_sub the code), so
    # every stage stays compiled; the union is map-side on a
    # queries-sized frame, nothing changes in the dataflow.
    def _sub_table(s: int, cb: list[list[float]]) -> DataFrame:
        structs = ", ".join(
            f"named_struct('code', {ci},"
            f" 'pdist_c', {sq_dist_c_sql('__pqv', cb[ci], s * sub, False)})"
            for ci in range(len(cb))
        )
        return q.select(
            "query_id",
            F.lit(s).alias("s"),
            F.explode(F.expr(f"array({structs})")).alias("t"),
        ).select(
            "query_id",
            "s",
            F.col("t.code").alias("code"),
            F.col("t.pdist_c").alias("pdist_c"),
        )

    table = _sub_table(0, codebooks[0])
    for s, cb in enumerate(codebooks[1:], start=1):
        table = table.unionAll(_sub_table(s, cb))

    scored = (
        c.join(F.broadcast(probed), "cell")
        .join(F.broadcast(table), ["query_id", "s", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pdist_c").cast("long").alias("adist_c"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist_c"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adist_c")
    )


def ann_recall_at_k(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    num_bits: int = 12,
    multiprobe: bool = False,
    num_tables: int = 1,
) -> DataFrame:
    """Recall@k of the SRP-LSH approximate kNN against the exact
    brute-force ground truth — the QUALITY metric for the ANN family
    (q24's plan is the scale path; this prices what it trades away,
    per query, with the same deterministic tiebreaks on both sides).
    Returns one row per query: (query_id, n_exact, n_approx, hits,
    recall) with recall = hits / n_exact (exact/approx sets are both
    deterministic — cosine DESC, neighbor_id ASC — so two engines
    agree on every member), ordered by query_id.

    Scale: the ground-truth side is the brute-force broadcast plan —
    recall measurement is an OFFLINE calibration run over a sampled
    query set (tune num_bits/multiprobe until recall clears target,
    then deploy the approximate plan); it is not the serving path."""
    exact = cosine_knn(corpus, queries, id_col, vec_col, k=k, dim=dim)
    approx = srp_lsh_knn(
        corpus, queries, id_col, vec_col, k=k, dim=dim,
        num_bits=num_bits, multiprobe=multiprobe,
        num_tables=num_tables,
    )
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    n_exact = e.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    n_approx = a.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    hits = (
        e.join(a, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    return (
        n_exact.join(n_approx, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)).cast("double")
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def hard_negatives(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int,
    dim: int,
    dup_threshold: float,
) -> DataFrame:
    """Contrastive hard-negative mining: for every vector, the ``k``
    highest-cosine candidates OUTSIDE its exact near-dup cluster —
    the training-pair generator for embedding models (hard negatives
    are what make contrastive losses learn; random negatives are too
    easy). Exclusion is CLUSTER-transitive, not pairwise: a near-dup
    of a near-dup is still the same content, and pushing it away as a
    "negative" poisons the space — so duplicates (pairs with
    round(cosine, 6) >= dup_threshold) are clustered by connected
    components first and a candidate is ineligible iff it shares the
    query's cluster. Rankings tie-break (cosine DESC, neighbor_id
    ASC), so two engines agree on every emitted pair.

    Returns (query_id, neighbor_id, cosine_sim, neg_rank) with
    neg_rank 1..k per query.

    Scale: this is the VERIFICATION-grade all-pairs form — run it on
    the restricted/sampled mining slice (the standard offline shape,
    like ann_recall_at_k). At corpus scale use ``hard_negatives_indexed``
    below: srp_lsh_knn's candidate generation (probe depth > k to
    survive exclusion) against the cluster frame the dedup pipeline
    already maintains; the cluster-exclusion semantics here are the
    contract that path matches (property-tested on the probe-recalled
    slice)."""
    from us_immigration_data_lake_spark.operators.dedup import (
        dedup_survivors,
    )

    pairs = cosine_near_dup_pairs(df, id_col, vec_col, dup_threshold)
    clusters = dedup_survivors(
        df, pairs.select("id1", "id2"), id_col
    ).select(F.col(id_col), F.col("cluster"))
    a = df.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv")
    ).join(
        clusters.select(
            F.col(id_col).alias("query_id"),
            F.col("cluster").alias("q_cluster"),
        ),
        "query_id",
    )
    b = df.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("cv")
    ).join(
        clusters.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("cluster").alias("c_cluster"),
        ),
        "neighbor_id",
    )
    from pyspark.sql import Window

    scored = (
        a.crossJoin(b)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .filter(F.col("q_cluster") != F.col("c_cluster"))
        .select(
            "query_id",
            "neighbor_id",
            # unrolled-codegen cosine when the width is known — same
            # left-to-right summation order as the HOF form, so oracle
            # parity holds (r11 advisor: dim was accepted but unused,
            # leaving the ~25% codegen win of knn_pairs on the table
            # for exactly this brute-force shape)
            F.round(_cosine_maybe_fixed("qv", "cv", dim), 6)
            .alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= k)
    )


def hard_negatives_indexed(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    clusters: DataFrame,
    *,
    k: int,
    dim: int,
    num_bits: int | None = 6,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """The SCALE path of ``hard_negatives`` (whose cluster-exclusion
    semantics are the contract this must match): candidate negatives
    come from the SRP-LSH index instead of an all-pairs cross join —
    each vector scores only the corpus members sharing its sign bucket
    (plus, with ``multiprobe``, every Hamming-1 probe bucket — probe
    depth 1+num_bits buckets per query, the ">k candidate depth"
    recall knob that survives the exclusion filter), exactly
    srp_lsh_knn's candidate generation. One equi-join on the bucket
    key: the corpus shuffles once on its single bucket, only the query
    side replicates under multiprobe — no CartesianProduct anywhere in
    the plan, so this is NOT lint-exempt, unlike the all-pairs form.

    ``clusters`` is the (id_col, cluster) frame the dedup pipeline
    already maintains (dedup_survivors over whichever near-dup pair
    graph the corpus uses); ids absent from it form singleton clusters.
    Exclusion and ranking replicate hard_negatives verbatim: a
    candidate is ineligible iff it shares the query's cluster, and the
    per-query ranking tie-breaks (cosine DESC, neighbor_id ASC) — so
    on any query whose true top-k all land in probed buckets, the two
    forms emit identical rows (property-tested).

    Approximation (priced offline by ann_recall_at_k, q221's loop): a
    true hard negative more than one hyperplane away from the query's
    bucket is never scored, and — when the cluster graph itself is
    bucket-bounded (srp_bucket_near_dup_pairs) — a near-dup pair
    missed by the cluster graph can surface as a "negative". Both are
    the standard SemDeDup-era trade; tune num_bits/multiprobe until
    q221-style recall clears target, then deploy this plan.

    Scaling discipline (measured, SCALE.md r12): at FIXED num_bits the
    bucket join is still Σ|bucket|² — grow num_bits ~ log(corpus) so
    occupancy stays constant (10× corpus: bits 6→10 ran 6.9× faster,
    ~120× below projected all-pairs), and re-price recall with q221.
    ``num_bits=None`` applies exactly that rule:
    ``recommended_num_bits(df.count(), target_occupancy=24)`` — the
    candidate-generation occupancy that reproduces the measured 2 k→6,
    20 k→10 ladder (one eager count job at plan-build time).

    Implementation note (A/B-measured, SCALE.md r12 + r13): at
    MODERATE dims the inline signature + 3-dot unrolled cosine wins —
    the checkpoint + precomputed-norm variant measured ~1.5× SLOWER
    cold at the dim-64 10× fixture (bisect: the 1-dot ÷ n1·n2 form
    itself regresses on this shape). At HIGH dims the trade flips:
    the unrolled 3-dot cosine can't exist above UNROLL_MAX_DIM
    (analyzer StackOverflow), and with the HOF cosine interpreted
    per element, recomputing every signature and paying 3 dots per
    pair loses to materializing the signature frame once and paying
    1 dot ÷ n1·n2 (A/B-measured at dim 768, SCALE.md r13). The
    dispatch threshold is UNROLL_MAX_DIM; both paths share exclusion
    and ranking semantics and the same float sequence (n1·n2 is
    sqrt(dot)·sqrt(dot) verbatim), so results are identical
    (tested).

    Returns (query_id, neighbor_id, cosine_sim, neg_rank 1..k)."""
    if num_bits is None:
        num_bits = recommended_num_bits(df.count(), target_occupancy=24)
    wide = dim > UNROLL_MAX_DIM
    sig = _srp_sig(df, id_col, vec_col, dim, num_bits, seed)
    if wide:
        sig = storage.checkpoint(sig)
    base = (
        sig.join(
            clusters.select(F.col(id_col).alias("__id"), F.col("cluster")),
            "__id", "left",
        )
        .withColumn("cluster", F.coalesce("cluster", F.col("__id")))
    )
    # the moderate-dim cosine never reads n1/n2, so the plan prunes
    # them (and the norm) away
    q = base.select(
        F.col("__id").alias("query_id"), F.col("__v").alias("qv"),
        F.col("__n").alias("n1"),
        F.col("cluster").alias("q_cluster"), "bucket",
    )
    c = base.select(
        F.col("__id").alias("neighbor_id"), F.col("__v").alias("cv"),
        F.col("__n").alias("n2"),
        F.col("cluster").alias("c_cluster"), "bucket",
    )
    if multiprobe:
        q = _probe_hamming1(q, num_bits)
    if wide:
        pair_cos = F.expr(_dot_fixed_sql("qv", "cv", dim)) / (
            F.col("n1") * F.col("n2")
        )
    else:
        pair_cos = _cosine_maybe_fixed("qv", "cv", dim)
    # Pin the bucket-join exchanges at defaultParallelism (guide §2.5:
    # CPU-bound stage vs size-based coalescing — the spread_by_id
    # rationale applied to a JOIN): the join's OWN ENSURE_REQUIREMENTS
    # exchanges are AQE-coalescible, and the pair stage's input BYTES
    # are tiny while its per-pair cosine CPU is the whole cost, so AQE
    # coalesced it to 4 tasks at sf0.1 (measured: 3.2 s stage span,
    # 9.4 s executor CPU on 4 tasks; 32 explicit partitions run the
    # same CPU in ~0.4 s span — q233 7.4 s → 5.4 s wall). An explicit
    # numPartitions repartition is not AQE-coalescible and satisfies
    # the join's distribution requirement, so no extra exchange is
    # planned on either side.
    par = df.sparkSession.sparkContext.defaultParallelism
    scored = (
        c.repartition(par, F.col("bucket"))
        .join(q.repartition(par, F.col("bucket")), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(F.col("q_cluster") != F.col("c_cluster"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(pair_cos, 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= k)
    )


def hard_negative_recall(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int,
    dim: int,
    dup_threshold: float,
    configs: tuple[tuple[int, bool], ...] = ((2, False), (2, True),
                                             (4, True), (6, True)),
) -> DataFrame:
    """NEGATIVE recall of the indexed hard-negative miner against the
    all-pairs ground truth — q221's calibration idiom applied to
    mining (r12 verdict ask #3: q233's speed axis had no quality
    axis). ann_recall_at_k prices srp_lsh_knn's NEIGHBOR recall, but
    mining usefulness depends on how many of the true top-k hard
    NEGATIVES (post cluster-exclusion) the probed buckets recover —
    a different quantity, because exclusion eats part of every
    bucket's candidates and rank k refills from whatever survives.

    Both sides share the SAME exclusion clusters (the exact pair
    graph's connected components, ``hard_negatives``'s own frame), so
    the measured gap isolates CANDIDATE-GENERATION coverage — exactly
    the knob num_bits/multiprobe tunes. Per config (num_bits,
    multiprobe): micro-averaged recall = |indexed ∩ exact| / |exact|
    over all (query, neighbor) pairs.

    Returns one row per config: (num_bits, multiprobe 0/1, n_queries,
    n_exact, hits, recall), ordered by (num_bits, multiprobe).

    Scale: the ground-truth side is the all-pairs plan — this is an
    OFFLINE calibration loop over the restricted mining slice (run it
    at bits b-1/b/b+1 around recommended_num_bits's pick, deploy the
    cheapest config whose recall clears target; SCALE.md r13 pairs
    these recalls with q233's speed ladder). The exact side and the
    cluster frame are built ONCE (eager checkpoint) and reused by
    every config."""
    from us_immigration_data_lake_spark.operators.dedup import (
        dedup_survivors,
    )

    exact = hard_negatives(
        df, id_col, vec_col, k=k, dim=dim, dup_threshold=dup_threshold
    )
    e = storage.checkpoint(exact.select("query_id", "neighbor_id"))
    pairs = cosine_near_dup_pairs(df, id_col, vec_col, dup_threshold)
    clusters = storage.checkpoint(
        dedup_survivors(df, pairs.select("id1", "id2"), id_col)
        .select(F.col(id_col), F.col("cluster"))
    )
    out = None
    for bits, mp in configs:
        idx = hard_negatives_indexed(
            df, id_col, vec_col, clusters, k=k, dim=dim, num_bits=bits,
            multiprobe=mp,
        )
        marked = e.join(
            idx.select("query_id", "neighbor_id").withColumn(
                "__hit", F.lit(1)
            ),
            ["query_id", "neighbor_id"], "left",
        )
        stat = marked.agg(
            F.count_distinct("query_id").cast("long").alias("n_queries"),
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("hits"),
        ).select(
            F.lit(bits).cast("long").alias("num_bits"),
            F.lit(int(mp)).cast("long").alias("multiprobe"),
            "n_queries", "n_exact", "hits",
            F.round(
                F.col("hits").cast("double") / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
        out = stat if out is None else out.unionByName(stat)
    return out.orderBy("num_bits", "multiprobe")


def choose_srp_config(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int,
    dim: int,
    dup_threshold: float,
    target_recall_permille: int,
    configs: tuple[tuple[int, bool], ...] = ((2, False), (2, True),
                                             (4, True), (6, True)),
) -> DataFrame:
    """The q236 deployment rule AS CODE: run hard_negative_recall over
    the candidate ladder and mark the CHEAPEST config whose negative
    recall clears the target — "run the ladder at bits b−1/b/b+1,
    deploy the cheapest config whose recall clears target" (SCALE.md
    r13/r14), executed instead of prose. Returns the full ladder (the
    evidence, one row per config) with two extra columns:

    - ``met_target``: hits·1000 ≥ target·n_exact — exact BIGINT
      arithmetic on both engine sides, no float-threshold ambiguity;
    - ``chosen``: true on exactly ONE row — the cheapest config
      meeting the target, or, when none does, the best-recall config
      (cheapest among ties) so the caller still gets a deterministic
      deployment pick plus the visible miss (all met_target false).

    Cost order is the measured one (SCALE.md r14 clustered ladder:
    miner cost falls ~5× from bits 4→8 while multiprobe multiplies
    candidate volume ~(bits+1)×): HIGHER bits cheaper, and at equal
    bits single-probe cheaper than multiprobe — encoded as the key
    ``2·num_bits + (1 − multiprobe)``, maximized. n_exact is
    config-independent (the ground truth is built once), so the
    fallback's max-hits comparison needs no recall division.

    Everything after the ladder is arithmetic over ≤ |configs| rows —
    one broadcast join of two scalar aggregates, no window, no sort
    assumptions; at 100 TB this remains an offline calibration run
    whose cost is the ladder's (exact side built once, checkpointed,
    reused per config — hard_negative_recall's contract)."""
    if not 0 < target_recall_permille <= 1000:
        raise ValueError(
            f"target_recall_permille must be in (0, 1000], "
            f"got {target_recall_permille}"
        )
    ladder = hard_negative_recall(
        df, id_col, vec_col, k=k, dim=dim, dup_threshold=dup_threshold,
        configs=configs,
    )
    cost_key = (F.lit(2) * F.col("num_bits")
                + (F.lit(1) - F.col("multiprobe"))).cast("long")
    meets = (
        F.col("hits") * F.lit(1000)
        >= F.lit(int(target_recall_permille)) * F.col("n_exact")
    )
    ranked = ladder.withColumn("__ck", cost_key).withColumn(
        "met_target", meets
    )
    pick = ranked.agg(
        F.max(F.when(F.col("met_target"), F.col("__ck")))
        .alias("__pick_meet"),
        F.max(F.struct(F.col("hits"), F.col("__ck")))
        .getField("__ck")
        .alias("__pick_best"),
    )
    return (
        ranked.crossJoin(F.broadcast(pick))
        .select(
            "num_bits", "multiprobe", "n_queries", "n_exact", "hits",
            "recall", "met_target",
            (
                F.col("__ck")
                == F.coalesce(F.col("__pick_meet"), F.col("__pick_best"))
            ).alias("chosen"),
        )
        .orderBy("num_bits", "multiprobe")
    )
