"""Deduplication operators (SURVEY.md §2.10): exact, MinHash+LSH,
SimHash, n-gram Jaccard.

All hashing is JVM-side ``xxhash64`` (seeded, deterministic across
runs/partitions) — no Python in the hot path. The MinHash family of k
hash functions is derived from ONE base shingle hash by re-hashing
``h0 + i`` (splitmix-style mixing via xxhash64), so each row pays one
string hash + k long hashes instead of k string hashes.

Scale design (100 TB):
- signatures: pure per-row array arithmetic — each doc's hashed
  shingle set is one array column; minhash i = array_min of a
  per-element rehash. ZERO shuffles in the signature stage (r1 used
  explode + two groupBy passes; the array formulation removes both
  full shuffles of |corpus|×|shingles| rows at identical hash-call
  count).
- candidate generation: shuffle on (band_idx, band_hash) only; bucket
  skew is capped by ``max_bucket_size`` (a mega-bucket of near-identical
  boilerplate would otherwise produce O(n²) pairs on one task — cap,
  count, report, and optionally recover via linear anchor-star pairs).
- verification: exact Jaccard via array_intersect on the two hashed
  shingle sets, joined by id — no re-tokenization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from us_immigration_data_lake_spark.functions.text import normalized_text, tokens
from us_immigration_data_lake_spark.operators import storage
from us_immigration_data_lake_spark.operators.storage import local_frame


def spread_by_id(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition on the id with an EXPLICIT partition count
    (defaultParallelism). A column-only ``repartition(F.col(id))`` is
    an AQE-re-optimizable exchange, and on a small-bytes frame AQE's
    size-based coalescing collapses it to ONE task — the signature /
    tokenize stages downstream are CPU-bound in tokens, not bytes, so
    the 64 MB advisory target is exactly the wrong policy (measured:
    the sf0.1 new-batch MinHash stage ran 6.25 s on the coalesced
    single task vs 0.60 s with the explicit count,
    scripts/cross_scale_probe.py). An explicit numPartitions pins the
    exchange against coalescing; defaultParallelism = total cores, the
    right spread for a CPU-bound stage at any cluster size."""
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )


def maybe_spread_by_id(df: DataFrame, id_col: str) -> DataFrame:
    """``spread_by_id`` behind the SPREAD-POLICY GUARD (r15 verdict
    ask #7) — the rule three A/B'd spreads distilled to:

        spread ONLY when the stage is otherwise SERIAL and its CPU
        dominates the downstream task-count overhead the spread
        induces.

    r15 kept one spread (the dsir gram stage: single-row-group scan,
    seconds of tokenize+md5 CPU) and REVERTED two (the SRP signature
    frame and the BPE word census: small materialized frames whose
    every downstream consumer then ran defaultParallelism tiny tasks —
    q187 2.28→3.13, q181 4.21→4.79, q194 1.29→1.59 norm). This helper
    spreads only an input that arrives as ONE partition, so an
    already-parallel frame can never be blanket-exchanged again.

    Cost note: ``df.rdd.getNumPartitions()`` plans the frame — cheap
    on materialized inputs (checkpoint/cache/LocalRelation) and scans,
    real work on deep lazy lineage. Use this at operator entry points
    over sources or materialized frames; unconditional
    ``spread_by_id`` remains correct where the input is a raw scan
    whose CPU-heavy follow-up is the documented reason to spread."""
    if df.rdd.getNumPartitions() > 1:
        return df
    return spread_by_id(df, id_col)


def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct word n-gram shingles per document. Documents shorter
    than n tokens contribute their whole normalized text as the single
    shingle (so they can still be exact-matched). ``carry_cols`` are
    passed through unchanged (e.g. an event-time column for the
    watermarked streaming path)."""
    # tokens(lower(x)) ≡ tokens(normalized_text(x)) — the \s+ split +
    # empty-token filter already collapses/strips whitespace, so the
    # normalized_text regex pass is pure overhead here (~25% of the
    # shingle stage at sf0.1, A/B-measured). normalized_text remains in
    # the short-doc fallback below, where the collapsed FORM is the
    # value.
    tok = tokens(F.lower(F.col(text_col)))
    if n == 2:
        # bigram fast path: one zip_with pass; the generic form pays a
        # per-gram slice (O(n·k) array copies per document)
        # NB slice length must stay well under int32 max: Spark computes
        # start+length in int, so a 2^31-1 length overflows and yields
        # an empty slice (degrading every shingle to a unigram)
        grams = F.zip_with(
            tok,
            F.slice(tok, 2, F.size(tok)),
            lambda x, y: F.concat_ws(" ", x, y),
        )
        grams = F.slice(grams, 1, F.greatest(F.size(tok) - 1, F.lit(1)))
    else:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(tok) - n),
            lambda i: F.array_join(F.slice(tok, i + 1, n), " "),
        )
    sh = F.when(F.size(tok) >= n, grams).otherwise(
        F.array(normalized_text(F.col(text_col)))
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.array_distinct(sh).alias("shingles"),
    )


def _shingle_hash(col, portable: bool):
    """64-bit (or portable 60-bit) hash of one shingle string — the
    SINGLE definition both the signature chain and the verify sets use.
    ``portable=True`` swaps xxhash64 for ``md5_long``
    (functions/hashing.py) so an external SQL engine can reproduce the
    value — the correctness-gate mode (q55); xxhash64 is the perf path."""
    from us_immigration_data_lake_spark.functions.hashing import md5_long

    return md5_long(col) if portable else F.xxhash64(col)


def _mix_hash(h, i: int, portable: bool):
    """The i-th MinHash function applied to a shingle hash ``h``.
    Portable mode mixes in the STRING domain — BIGINT renders
    identically in every engine, so md5('i|h') is reproducible where
    arithmetic mixing is not (h+i overflow wraps in Spark, errors in
    DuckDB)."""
    from us_immigration_data_lake_spark.functions.hashing import md5_long

    if portable:
        return md5_long(F.concat_ws("|", F.lit(i).cast("string"), h.cast("string")))
    return F.xxhash64(h + F.lit(i))


def hashed_shingle_sets(
    shingle_df: DataFrame, id_col: str, portable: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, hs) with hs = the document's distinct shingle hashes as ONE
    array column — the working form for both signature generation and
    hashed-set verification. Keeping the set per-row (instead of
    exploding) means everything derived from it is shuffle-free."""
    return shingle_df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.array_distinct(
            F.transform("shingles", lambda s: _shingle_hash(s, portable))
        ).alias("hs"),
    )


def _signatures_from_sets(
    hs_df: DataFrame, id_col: str, num_hashes: int, portable: bool,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    the i-th rehash of the shingle hash (xxhash64(h + i), or portably
    md5_long(i || '|' || h)). Pure per-row array arithmetic — no
    explode, no aggregation, no shuffle."""
    # NB each lambda must take exactly ONE parameter: pyspark dispatches
    # on lambda arity, and a two-arg lambda (e.g. `lambda h, i=i`)
    # becomes an (element, index) lambda with the array INDEX silently
    # overriding the default — wrong signatures, found by the q55
    # oracle. The hash index is bound per loop iteration instead.
    def _min_mixed(i: int):
        return F.array_min(
            F.transform("hs", lambda h: _mix_hash(h, i, portable))
        )

    return hs_df.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("hs"),
        F.array(*[_min_mixed(i) for i in range(num_hashes)]).alias("signature"),
    )


def band_structs(bands: int, rows: int, portable: bool = False):
    """The exploded band-key array expression over a ``signature``
    column — shared by lsh_bands and the streaming cross-dedup path
    (streaming/dedup.py carries extra columns through the explode, so
    it can't use lsh_bands' two-column projection)."""
    def _band_key(b: int):
        joined = F.concat_ws(",", *[
            F.element_at("signature", b * rows + r + 1).cast("string")
            for r in range(rows)
        ])
        return joined if portable else F.xxhash64(joined)

    return F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            _band_key(b).alias("band_hash"),
        )
        for b in range(bands)
    ])


def lsh_bands(
    sig_df: DataFrame, id_col: str, bands: int, rows: int,
    portable: bool = False,
) -> DataFrame:
    """Band the signature: band_hash = xxhash64 of the band's slice
    (stringified — array args hash element-wise fine via concat_ws).
    Portable mode keeps the raw comma-joined slice as the band key
    (string): no hash at all, so any engine reproduces the buckets."""
    out = sig_df.select(
        F.col(id_col),
        F.explode(band_structs(bands, rows, portable)).alias("band"),
    )
    return out.select(id_col, "band.band_idx", "band.band_hash")


def oversized_buckets(
    band_df: DataFrame, id_col: str, max_bucket_size: int = 1000
) -> DataFrame:
    """The band buckets candidate_pairs DROPS (size > cap): one row per
    mega-bucket with its size and anchor (smallest) member id. Run this
    alongside candidate_pairs so the truncation is observable — a >cap
    bucket is usually a boilerplate cluster worth handling as a group
    (e.g. keep one member) rather than pairwise.

    count+min aggregates only — NO member-id list. The r8 form
    collected the full id array per bucket, which materialized an
    unbounded aggregation-buffer row (~8 GB for a 10⁹-member bucket)
    on exactly the degenerate input this guard exists for; count and
    min are map-side-combinable constants per key."""
    return (
        band_df.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_n"),
             F.min(id_col).alias("anchor_id"))
        .filter(F.col("bucket_n") > max_bucket_size)
    )


def oversized_bucket_star_pairs(
    band_df: DataFrame, id_col: str, max_bucket_size: int = 1000
) -> DataFrame:
    """Linear-cost candidate recovery for the buckets candidate_pairs
    drops: pair every member of a mega-bucket with the bucket's
    smallest id (the anchor) instead of all-pairs. O(bucket) rows per
    bucket, not O(bucket²), so a million-doc boilerplate cluster costs
    a million candidate rows on one key — shuffleable, not explosive.
    Downstream Jaccard verification still applies, so false-positive
    bucket members are discarded; true boilerplate clusters end up
    connected through the anchor and collapse to one survivor in
    connected-components dedup.

    Bounded state: anchors come from count+min aggregates (constant
    per-key buffer), then one equi-join back to the band frame fans
    each mega-bucket member out against its anchor — no collect_list,
    so a 10⁹-member bucket streams through the join instead of
    buffering as one array row."""
    anchors = (
        band_df.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("__n"), F.min(id_col).alias("id1"))
        .filter(F.col("__n") > max_bucket_size)
        .select("band_idx", "band_hash", "id1")
    )
    return (
        band_df.join(anchors, ["band_idx", "band_hash"])
        .select("id1", F.col(id_col).alias("id2"))
        .filter(F.col("id1") < F.col("id2"))
        .dropDuplicates()
    )


# Oversized-key sets up to this many rows ride an explicit broadcast
# (~2M (int, long) keys ≈ the session's 64 MB autoBroadcastJoinThreshold
# in unsafe-row bytes); beyond it the cap joins fall back to unhinted
# (AQE-planned) joins rather than force a multi-GB broadcast.
BROADCAST_KEY_LIMIT = 2_000_000
# ...and sets up to this many rows are collected to the driver and
# re-shipped as a literal LocalRelation — the keys cross the driver
# either way under a broadcast, and a local frame saves re-running
# the key-aggregation subtree in each of the two cap joins.
COLLECT_KEY_LIMIT = 100_000


def _counted_census_plan(
    band_df: DataFrame, id_col: str, max_bucket_size: int,
    key_cols: tuple[str, ...] = ("band_idx", "band_hash"),
) -> tuple[int, DataFrame]:
    """THE oversized-bucket census, the only one on the engine's cap
    paths: ``(n, (key_cols…, bucket_n, anchor_id))`` — count + min(id)
    per band bucket, filtered to > cap, with ``n`` its row count. Every
    cap site answers "which buckets exceed the cap, and by how much?"
    once, here, and derives everything else from it (the r11 form
    asked three times over the same cached band frame — a count-only
    key aggregate, a count+min anchor aggregate and a count+min report
    aggregate — measured as q182's 2.06× anchor-normalized regression
    plus a consistent +15-20% on the whole cap family):

    - ``n`` picks the join strategy, and ``n == 0`` (the clean-corpus
      case) skips the cap joins entirely;
    - ``select(key_cols)`` is the anti/semi-join key set;
    - ``anchor_id`` seeds the anchor-star recovery pairs;
    - the census itself IS the oversized report (the
      ``oversized_buckets`` row shape), so reading it costs no job
      when it was collected.

    Strategy ladder: ONE bounded limit-collect both decides and
    fetches (r16: the r15 form paid two driver actions, count then
    collect, and at bench scale the action round-trip IS the cap
    site's cost) — up to COLLECT_KEY_LIMIT rows come back as a
    broadcast literal LocalRelation (an empty one at 0 rows: an
    unconditional second collect() re-ran the whole aggregation on
    every clean cap site, a measured ~1.4× on q20's bench in an early
    r12 build); above it (pathological high-duplication corpus), one
    extra count picks a broadcast hint up to BROADCAST_KEY_LIMIT and
    an unhinted AQE plan beyond. count and min are constant per-key
    aggregation buffers — map-side combinable, no sort.

    Contract on ``band_df``: the census and the joins that consume it
    scan it separately, so callers hand in a frame that is both (1)
    cheap to rescan (a cached frame or a shuffle output) and (2)
    DETERMINISTIC across rescans: if the cache is evicted and the
    input re-evaluates non-deterministically (sampling,
    monotonically_increasing_id, first/any aggregates), the census and
    the join phases can disagree — an over-cap bucket slipping through
    whole, or members of a flagged bucket dropped. Every in-engine
    band frame is a pure hash of (id, text/vector), so this holds by
    construction; external callers must preserve it. EAGER: one
    census job."""
    census = (
        band_df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("bucket_n"),
             F.min(id_col).alias("anchor_id"))
        .filter(F.col("bucket_n") > max_bucket_size)
    )
    head = census.limit(COLLECT_KEY_LIMIT + 1).collect()
    if len(head) <= COLLECT_KEY_LIMIT:
        return len(head), F.broadcast(
            local_frame(census.sparkSession, head, census.schema)
        )
    n = census.count()
    return n, F.broadcast(census) if n <= BROADCAST_KEY_LIMIT else census


def capped_bucket_members(
    band_df: DataFrame, id_col: str, max_bucket_size: int,
    key_cols: tuple[str, ...] = ("band_idx", "band_hash"),
) -> tuple[DataFrame, DataFrame]:
    """``(capped, census)``: keep the ``max_bucket_size`` smallest
    ``id_col`` values per band bucket, preserving every column of
    ``band_df`` — the cap-smallest primitive behind the cross-corpus
    reference indexes — together with the _counted_census_plan census
    that decided it, which the index builders return as their
    ``oversized`` report.

    Two-phase (r9 verdict ask #1; strategy rework r11): the census
    finds and counts the rare oversized keys first; zero keys — the
    common case — pass the band frame through untouched (the r9 form
    sorted EVERY bucket; the r10 form still paid a broadcast
    anti-join). Otherwise the ≤cap buckets pass an anti-join against
    the census keys (broadcast when the count says it fits, unhinted
    AQE plan when a pathological corpus makes it huge) and only the
    flagged keys' members pay the spillable row_number sort, confined
    to the semi-joined branch. Semantics identical in every branch;
    EAGER (one census job), with the census's
    rescannable-AND-deterministic contract on ``band_df``."""
    n_over, census = _counted_census_plan(
        band_df, id_col, max_bucket_size, key_cols
    )
    if n_over == 0:
        return band_df, census
    keys = list(key_cols)
    over = census.select(*keys)
    common = band_df.join(over, keys, "left_anti")
    w = Window.partitionBy(*keys).orderBy(id_col)
    rare = (
        band_df.join(over, keys, "left_semi")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket_size)
        .drop("__rn")
    )
    return common.unionByName(rare), census


def _census_candidates(
    band_df: DataFrame, id_col: str, max_bucket_size: int,
    recover_oversized: bool,
) -> tuple[DataFrame, DataFrame, int]:
    """The self-dedup cap site's whole tail — census → bounded pair
    expansion → optional anchor-star union → report — as
    ``(candidate pairs (id1, id2), census, n_oversized)``; the census
    is the oversized report. candidate_pairs, near_dup_frames and
    srp_near_dup_frames all run through it, so each pays exactly one
    census aggregation.

    The census keys drop the >cap buckets first (no anti-join at all
    when there are none), and THEN the survivors are collected into
    per-bucket arrays — bounded by construction, since every surviving
    bucket has ≤ max_bucket_size members — and pairs are expanded
    inside the array. The r9 form reached the same bound via a window
    count, which sorted EVERY bucket to answer a question (is this
    bucket oversized?) that a hash count answers without sorting — a
    measured +8-19% constant factor on the common case. Singleton
    buckets flow through the collect (buffer of one) and drop at the
    size filter. ``recover_oversized`` adds each mega-bucket's
    anchor-star pairs (member ↔ bucket-min, linear in bucket size)."""
    n_over, census = _counted_census_plan(band_df, id_col, max_bucket_size)
    rows = band_df.select("band_idx", "band_hash", id_col)
    kept = (
        rows if n_over == 0
        else rows.join(census.select("band_idx", "band_hash"),
                       ["band_idx", "band_hash"], "left_anti")
    )
    buckets = (
        kept.groupBy("band_idx", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select("ids")
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id1"), y.alias("id2")),
            ),
        )
    )
    cand = buckets.select(F.explode(pairs_arr).alias("p")).select(
        "p.id1", "p.id2"
    )
    if recover_oversized and n_over > 0:
        # the census's anchor_id IS min(id) per oversized bucket: one
        # equi-join fans each mega-bucket member out against its anchor
        anchors = census.select(
            "band_idx", "band_hash", F.col("anchor_id").alias("id1")
        )
        cand = cand.unionByName(
            band_df.join(anchors, ["band_idx", "band_hash"])
            .select("id1", F.col(id_col).alias("id2"))
            .filter(F.col("id1") < F.col("id2"))
        )
    # one pair-key dedup over the union: a pair shared by several bands
    # (or by the expansion and the stars) collapses here, once
    return cand.dropDuplicates(), census, n_over


def candidate_pairs(
    band_df: DataFrame, id_col: str, max_bucket_size: int = 1000,
) -> DataFrame:
    """Pairs of ids sharing a band bucket, id1 < id2; mega-buckets are
    dropped (boilerplate clusters would quadratically explode one
    reducer) — detect them with ``oversized_buckets`` on the same
    band frame, or take the census from near_dup_frames. Bounded
    two-phase expansion (_census_candidates); EAGER (one census job),
    with the census's rescannable-AND-deterministic contract on
    ``band_df``."""
    return _census_candidates(band_df, id_col, max_bucket_size, False)[0]


def verify_jaccard_hashed(
    pairs: DataFrame, hashset_df: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard on hashed shingle SETS (array<long>) for candidate
    pairs — the Jaccard of the shingle sets modulo 64-bit hash
    collisions (~2^-64 per shingle pair, negligible), at a fraction of
    the shuffle width of the raw shingle arrays."""
    s1 = hashset_df.select(F.col(id_col).alias("id1"), F.col("hs").alias("hs1"))
    s2 = hashset_df.select(F.col(id_col).alias("id2"), F.col("hs").alias("hs2"))
    inter = F.size(F.array_intersect("hs1", "hs2")).cast("long")
    union = (F.size("hs1") + F.size("hs2")).cast("long") - inter
    return (
        pairs.join(s1, "id1").join(s2, "id2")
        .select(
            "id1", "id2",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    recover_oversized: bool = False,
    portable: bool = False,
) -> dict[str, DataFrame]:
    """MinHash-LSH near-duplicate detection with its intermediate
    frames exposed, so callers (the corpus pipeline) can observe the
    truncation candidate_pairs applies instead of inheriting it
    silently. Returns:

    - ``pairs``: verified near-dup pairs (id1, id2, jaccard)
    - ``oversized``: the >max_bucket_size band buckets that all-pairs
      generation skipped (band_idx, band_hash, bucket_n, anchor_id)
    - ``n_oversized``: that frame's row count as a plain int — the
      census already counted it, so stats consumers (CorpusStats)
      never pay a count() action on the report frame

    The hashed-shingle and band caches belong to the caller's
    ``storage.scope()``.

    With ``recover_oversized=True``, each mega-bucket additionally
    contributes anchor-star candidates (member ↔ bucket-min, linear in
    bucket size) that flow through the same Jaccard verification — a
    boilerplate mega-cluster then still collapses to one survivor in
    connected-components dedup rather than leaking wholesale.

    ``portable=True`` runs the whole pipeline on md5-based hashes
    (functions/hashing.py) so an external SQL engine can replay it
    hash-for-hash (q55's oracle does); xxhash64 remains the default
    perf path."""
    rows = num_hashes // bands
    # single-file parquet sources arrive as ONE scan task (a parquet
    # row group cannot split); shingle generation is the CPU-heavy step
    # so spread it across the cluster first — at 100 TB the source is
    # many files and this is a no-op-cost hash exchange on the id
    sh = shingles(spread_by_id(df, id_col), id_col, text_col, shingle_n)

    # The ENTIRE signature stage is per-row array arithmetic — no
    # explode, no aggregation, no shuffle. Each doc keeps its hashed
    # shingle SET as one array; minhash i is array_min of a per-element
    # rehash. Same hash-call count as the exploded groupBy formulation
    # (r1's design), but the only shuffles left in the pipeline are the
    # band-bucket groupBy and the verify joins — at 100 TB that removes
    # two full shuffles of |corpus|×|shingles| rows. (Bounded per-row
    # cost: a document's shingle array is document-sized, never
    # corpus-sized.)
    hs_arr = hashed_shingle_sets(sh, id_col, portable)
    # cached: consumed by the signature/banding chain AND the verify
    # join. ~|docs| rows of long arrays — orders of magnitude smaller
    # than r1's exploded (doc, shingle-hash) cache.
    storage.cache(hs_arr)
    sig = _signatures_from_sets(hs_arr, id_col, num_hashes, portable)
    band_df = lsh_bands(sig, id_col, bands, rows, portable)
    # The two-phase cap scans the band frame twice (key counts, then
    # the anti-join collect); cache it so the num_hashes-per-doc
    # signature stage runs once. Tiny rows — (id, band_idx int,
    # band_hash long) × bands per doc.
    storage.cache(band_df)
    # ONE bucket census (key count + strategy pick + anchor-star seeds
    # + the oversized report all derive from it)
    cand, oversized, n_over = _census_candidates(
        band_df, id_col, max_bucket_size, recover_oversized
    )
    return {
        "pairs": verify_jaccard_hashed(cand, hs_arr, id_col, threshold),
        "oversized": oversized,
        # the census already counted the oversized buckets — callers
        # that only need the NUMBER (CorpusStats) read this instead of
        # paying a count() action on the report frame (r16)
        "n_oversized": n_over,
    }


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    portable: bool = False,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate detection, entirely on
    hashed shingles: per-row hashed-shingle arrays → per-row minhash
    signatures (shuffle-free), banding, bucket self-join, and a
    hashed-set exact-Jaccard verify. ``max_bucket_size`` passes
    through to candidate generation (near_dup_frames documents the
    truncation; oversized buckets are silently dropped HERE — use
    near_dup_frames directly to observe or recover them)."""
    return near_dup_frames(
        df, id_col, text_col, shingle_n=shingle_n, num_hashes=num_hashes,
        bands=bands, threshold=threshold, portable=portable,
        max_bucket_size=max_bucket_size,
    )["pairs"]


def cross_dedup_survivors(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """The NEW rows that are NOT near-dups of the reference corpus — a
    one-shot cross dedup: ``cross_ref_index_frames`` over the
    reference, ``cross_near_dup_pairs_indexed`` for the batch, and the
    pairs fed into one left-anti join. The reference passes through
    unchanged (it is the kept set by definition); within-new
    duplicates are out of scope here — run near_dup_pairs/
    dedup_survivors on the survivors if the new batch needs its own
    dedup (the corpus pipeline does both). The index build's caches
    belong to the caller's ``storage.scope()``."""
    index = cross_ref_index_frames(
        ref_df, id_col, text_col, shingle_n=shingle_n,
        num_hashes=num_hashes, bands=bands,
        max_bucket_size=max_bucket_size, portable=portable,
    )["index"]
    matched = (
        cross_near_dup_pairs_indexed(
            new_df, index, id_col, text_col, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands, threshold=threshold,
            portable=portable,
        )
        .select(F.col("id_new").alias(id_col))
        .dropDuplicates()
    )
    return new_df.join(matched, on=id_col, how="left_anti")


def cross_ref_index_frames(
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 1000,
    portable: bool = False,
) -> dict[str, DataFrame]:
    """The REFERENCE-side index for CROSS-corpus near-dup detection —
    which documents of a NEW batch are MinHash-LSH near-dups of a
    fixed REFERENCE corpus: the incremental-ingest shape of dedup
    (dedupe this week's crawl against the training set you already
    have) and the fuzzy complement of exact-n-gram decontamination
    (``decontaminate`` above). Returns ``{"index": (band_idx,
    band_hash, id_ref, hs_r), "oversized": (band_idx, band_hash,
    bucket_n, anchor_id)}``: the reference's capped LSH band buckets
    joined to its hashed shingle sets, so verification needs no second
    look at the reference, plus the buckets the cap truncated. Probe
    it with ``cross_near_dup_pairs_indexed`` — a one-shot ("cold")
    cross dedup is this build followed by that probe
    (``cross_dedup_survivors``), an amortized ingest builds once and
    probes every batch, the stream probes every micro-batch
    (streaming.dedup).

    Not expressible as near_dup_frames over the union: the union's
    pair graph includes new-new and ref-ref pairs, whose candidate
    cost (and bucket-cap pressure) the cross question never needs —
    at 100 TB the reference is the big side, so skipping its
    self-join is most of the work. The reference is never deduped
    against itself and never modified.

    Skew cap: per band bucket the reference keeps its
    ``max_bucket_size`` smallest ids, so one boilerplate mega-bucket
    costs O(new_k · cap) join rows, not O(new_k · ref_k). Capping ref
    (not new) keeps per-new-doc recall degradation bounded and
    observable through ``oversized``; there is no anchor-star recovery
    — a capped bucket still retains ``cap`` verifiable
    representatives per band, and a new doc near-identical to the
    cluster collides with them in every band. Ids are unique per
    (band_idx, band_hash) — one band per band_idx per doc — so
    cap-smallest-ids semantics are exact. The cap is the two-phase
    ``capped_bucket_members`` (one count+min census finds the rare >cap
    keys, the common ≤cap buckets pass a broadcast anti-join
    untouched, only flagged keys pay the spillable sort); bounded
    per-key state throughout. ``oversized`` IS that census, so reading
    it costs no further job when the census was collected (the common
    tiny/empty case).

    The build caches the reference's hashed-shingle frame (it feeds
    the signature stage AND the index's verify columns) and its band
    frame (the census and the cap's common and rare branches all scan
    it), so the 64-hash signature stage runs once per build; both
    caches belong to the caller's ``storage.scope()``. EAGER: one
    census job. ``portable=True``
    selects md5-based hashing throughout so an external engine replays
    every bucket and signature (functions/hashing.py); xxhash64
    remains the perf path."""
    rows = num_hashes // bands
    ref_sh = shingles(
        spread_by_id(ref_df, id_col), id_col, text_col, shingle_n
    )
    ref_hs = storage.cache(hashed_shingle_sets(ref_sh, id_col, portable))
    ref_sig = _signatures_from_sets(ref_hs, id_col, num_hashes, portable)
    ref_bands = storage.cache(ref_sig.select(
        F.col(id_col).alias("id_ref"),
        F.explode(band_structs(bands, rows, portable)).alias("band"),
    ).select("id_ref", "band.band_idx", "band.band_hash"))
    capped, oversized = capped_bucket_members(
        ref_bands, "id_ref", max_bucket_size
    )
    index = capped.select("band_idx", "band_hash", "id_ref").join(
        ref_hs.select(F.col(id_col).alias("id_ref"), F.col("hs").alias("hs_r")),
        "id_ref",
    )
    return {"index": index, "oversized": oversized}


def cross_near_dup_pairs_indexed(
    new_df: DataFrame,
    ref_index: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    portable: bool = False,
    event_time_col: str | None = None,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Cross-corpus near-dup pairs ``(id_new, id_ref, jaccard)`` of a
    NEW batch or stream against a reference index
    (``cross_ref_index_frames(...)["index"]``): the reference is
    scanned, shingled, signed and banded when the index is built; each
    batch pays only its own signature pass + one equi-join on the band
    key. Shingle/hash/band parameters must match the index build
    (band hashes are pure functions of them).

    Plan shape (identical for batch and streaming input — the
    streaming twin IS this function over a readStream frame): the new
    side's hashed shingle set is CARRIED through the band explode
    (``bands``× fan-out of one array column) so verification is inline
    in the single join — no second join against the new side, no
    cache to manage, zero state. Exact hashed-set Jaccard (int/int
    ratio), threshold filter, then a pair-key dropDuplicates (the
    same pair collides in several bands; jaccard is a pure function of
    the pair so any kept row is THE row).

    A batch input is spread before the CPU-bound signature arithmetic
    — a small batch parquet is often ONE scan split, and 64 rehashes
    of every shingle on one core dominates the whole plan (measured
    6.2 s of a 7.4 s run before the fix, scripts/cross_scale_probe.py).
    A stream is not: micro-batches arrive pre-partitioned by the
    source and the per-row hot path stays shuffle-free.

    ``event_time_col`` + ``watermark_delay`` select the BOUNDED-STATE
    streaming form: the event-time column is carried through the
    per-row signature chain, ``withWatermark`` is applied before the
    pair dedup, and the dedup becomes ``dropDuplicatesWithinWatermark``
    — state for a pair key is EVICTED once the watermark passes its
    event time, so an infinite stream holds only the recent window's
    pairs instead of every pair ever emitted. A pair's band collisions
    all originate from one stream row (the reference side is static),
    so they land in one micro-batch and within-watermark dedup loses
    nothing; only a re-arrival of the same id_new AFTER the delay can
    re-emit a pair — the documented tradeoff vs the unbounded default.
    Batch mode ignores both (the plain pair dropDuplicates runs).
    """
    rows = num_hashes // bands
    streaming = new_df.isStreaming
    if not streaming:
        new_df = spread_by_id(new_df, id_col)
    carry = (event_time_col,) if event_time_col and streaming else ()
    sh = shingles(new_df, id_col, text_col, shingle_n, carry_cols=carry)
    hs = hashed_shingle_sets(sh, id_col, portable, carry_cols=carry)
    sig = _signatures_from_sets(hs, id_col, num_hashes, portable,
                                carry_cols=carry)
    new_bands = sig.select(
        F.col(id_col).alias("id_new"),
        *[F.col(c) for c in carry],
        F.col("hs").alias("hs_n"),
        F.explode(band_structs(bands, rows, portable)).alias("band"),
    ).select("id_new", *carry, "hs_n", "band.band_idx", "band.band_hash")

    inter = F.size(F.array_intersect("hs_n", "hs_r")).cast("long")
    union = (F.size("hs_n") + F.size("hs_r")).cast("long") - inter
    scored = (
        new_bands.join(ref_index, ["band_idx", "band_hash"])
        .select(
            "id_new",
            *carry,
            "id_ref",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if carry and watermark_delay:
        return (
            scored.withWatermark(event_time_col, watermark_delay)
            .dropDuplicatesWithinWatermark(["id_new", "id_ref"])
            .drop(event_time_col)
        )
    return (
        scored.drop(*carry)
        .dropDuplicates(["id_new", "id_ref"])
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, portable: bool = False
) -> DataFrame:
    """SimHash over token hashes: bit b of the result is the sign of
    sum over tokens of ±1 at bit b (count-weighted). One explode + one
    aggregate; the per-bit sums are partial-aggregated map-side.

    Default: 64-bit signatures from xxhash64 (the perf path).
    ``portable=True``: 60-bit signatures from ``md5_long``
    (functions/hashing.py) — bit-identical reproducible in any engine
    with md5, so the result can be checked by an external SQL oracle
    (q21). Signature width differs, Hamming-distance semantics don't.
    """
    from us_immigration_data_lake_spark.functions.hashing import (
        MD5_LONG_BITS,
        md5_long,
    )

    n_bits = MD5_LONG_BITS if portable else 64
    hash_col = md5_long("t") if portable else F.xxhash64("t")
    # tokens(lower(x)) ≡ tokens(normalized_text(x)), minus a full-text
    # regex pass — see shingles()
    tok_df = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("t")
    ).withColumn("h", hash_col)
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    agg = tok_df.groupBy(id_col).agg(*bit_sums)
    sim = None
    for b in range(n_bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select(F.col(id_col), sim.alias("simhash"))


def hamming64(a, b) -> F.Column:
    """Hamming distance of two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def dedup_exact_by_content(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact content dedup keeping the smallest id per normalized
    text: groupBy the 16-byte md5 fingerprint (never the raw text —
    shuffling full documents to dedup them doubles the I/O), then a
    semi-join back to the original rows."""
    survivors = (
        df.groupBy(F.md5(normalized_text(F.col(text_col))).alias("__fp"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, on=id_col, how="left_semi")


# Graphs of up to this many UNDIRECTED edges (rows of the pair frame,
# one per pair) are collected to the driver and labeled with a single
# union-find pass instead of the distributed label-propagation loop —
# the COLLECT_KEY_LIMIT rationale applied to the CC graph (guide §1.2:
# the dominant cost of the loop at any graph size below this is DRIVER
# round-trips, ~2 actions + rounds×(1 action + broadcast jobs); r16
# probes measured q181 at 72 jobs / 5.1 s driver-only and q188 at 105
# jobs / 8.9 s driver-only, about half of each query's wall). The
# driver holds the edges as collected PySpark ``Row`` objects — a
# tuple, its field-name dict and two boxed ints, about 340 bytes each
# (tracemalloc: 16 MB for 50k edges of 64-bit ids), not 16 bytes per
# edge — plus the union-find dict; near-dup graphs are SPARSE by
# construction (pairs survive a similarity threshold), so at 100 TB
# the loop path below remains the scale fallback. 0 forces the loop.
CC_LOCAL_EDGE_LIMIT = 50_000

_CC_INTEGRAL_TYPES = ("long", "integer", "int", "short", "byte", "bigint")


def _cc_local_labels(rows) -> list[tuple]:
    """Union-find over collected (one-direction) edges; labels every node
    with the smallest id reachable — bit-identical to the fixpoint the
    distributed loop converges to (tests pin parity). Union-by-min
    keeps each tree's root = the component's minimum, so the final
    find IS the label."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        s, d = row[0], row[1]
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            if rd < rs:
                rs, rd = rd, rs
            parent[rd] = rs
    return sorted((x, find(x)) for x in parent)


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Duplicate clustering: connected components over the near-dup
    pair graph of (id1, id2) rows. Returns (id, cluster) where
    cluster = smallest id reachable.

    Scale ladder (r16): the one-direction edge set is materialized
    once (eager localCheckpoint — pairs compute exactly once on every
    path); if it holds ≤ CC_LOCAL_EDGE_LIMIT edges of integral ids, the
    labels are computed on the DRIVER by one union-find pass — same
    fixpoint, zero loop actions (a small graph's loop cost is ~all
    driver round-trips: 2 + rounds actions plus per-round broadcast
    jobs). Larger or non-integral graphs take the distributed loop:

    each round fuses neighbor-min propagation with ONE pointer jump
    (label := label of my label) by unioning the label edges
    (id → cluster) into the edge set before the per-node min — the
    same O(log diameter)-class convergence as a separate jump join,
    in ONE join + ONE aggregation per round. max_iter=20 covers
    diameters far beyond any real near-dup chain. The loop is
    driver-coordinated but every step is a DataFrame job; lineage is
    truncated per round with an eager localCheckpoint (the classic
    iterative-algorithm trap). If the loop still exhausts max_iter
    without converging, it raises instead of silently
    returning split clusters (which would leak duplicates into a
    corpus build).

    Cost shape (r6 baseline, r15 fusion; measured on q181's sf0.1 SRP
    graph + a 3000-node chain):
    - the changed-label count rides the checkpoint job as an
      ``observe()`` metric instead of a second join+count pass — one
      Spark job per round, not two;
    - labels seed with min(id, min(neighbor)): the first neighbor-min
      round folds into initialization, one round and one
      distinct-shuffle cheaper than identity seeding;
    - the jump rides the neighbor-min join as |V| extra label-edge
      rows instead of a THIRD join per round (r15, guide §2.4 "share
      one exchange"): 2 joins → 1 join + 1 union per round, removing
      the duplicated stepped subtree and its broadcast job. A/B on
      q181's sf0.1 graph: identical labels, same 9 rounds, wall
      4.19 s → 3.07 s for the loop. The fused jump reads the label of
      the PRE-round cluster (the separate-join form read the
      post-neighbor-min one), so worst-case chains pay ~2 extra
      rounds (3000-chain: 11 → 13, still within max_iter=20; the default
      bump 16 → 20 restores the pre-fusion convergence headroom on
      deep chains — r15 advisor) — at
      2/3 the per-round cost;
    - a SECOND jump per round changed neither round count nor labels
      on either graph — only per-round cost (r6, re-confirmed r15 on
      the clustered-geometry graph);
    - rounds are NOT batched into composed multi-iteration plans:
      each iteration references its predecessor multiple times, so an
      unbroken k-iteration plan re-executes subplans ~3^k times
      (measured 9× slower at k=2) — the per-round checkpoint is what
      caps that, the same multi-reference blowup the MATERIALIZED
      hints fix in the DuckDB oracles.
    """
    # one scope: the edge checkpoint and every superseded round's
    # labels are released on return; the labels returned move to the
    # caller's scope
    with storage.scope() as s:
        return s.hand_off(_components(pairs, max_iter))


def _components(pairs: DataFrame, max_iter: int) -> DataFrame:
    a, b = "id1", "id2"
    # the ONE-direction edge set is what materializes: checkpointing
    # the symmetric union would evaluate the pairs plan once per
    # branch. The union below is lazy (its schema carries the widened
    # id type) and only the loop path ever reads it.
    edges = storage.checkpoint(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    # SCALE-ADAPTIVE ladder (r16; the _counted_census_plan pattern): the
    # checkpoint above already materialized the edge set (pairs compute
    # exactly once either way), so one bounded limit-collect decides —
    # small graph ⇒ label on the driver in one pass (zero loop actions,
    # zero per-round broadcast jobs); anything larger ⇒ the distributed
    # loop below, untouched. Type-gated to integral ids so Python's
    # min() ordering can never diverge from Spark's (non-integral ids
    # always take the loop).
    id_type = sym.schema["src"].dataType
    if id_type.typeName() in _CC_INTEGRAL_TYPES:
        head = edges.limit(CC_LOCAL_EDGE_LIMIT + 1).collect()
        if len(head) <= CC_LOCAL_EDGE_LIMIT:
            out_schema = T.StructType([
                T.StructField("id", id_type),
                T.StructField("cluster", id_type),
            ])
            # broadcast-hinted: the frame is DRIVER-sized by the limit
            # above (≤ 2·CC_LOCAL_EDGE_LIMIT nodes), so every survivor
            # join against the corpus becomes a broadcast hash join
            # instead of shuffling the corpus side into a sort-merge
            # (guide §3.1)
            return F.broadcast(
                local_frame(
                    pairs.sparkSession, _cc_local_labels(head), out_schema
                )
            )

    labels = storage.checkpoint(
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("__m"))
        .select("id", F.least(F.col("id"), F.col("__m")).alias("cluster"))
    )

    converged = False
    for _ in range(max_iter):
        # graph edges + label edges (id → cluster): the per-node min
        # over THIS edge set is min(neighbor labels, label-of-label)
        # — neighbor-min and the pointer jump in one join+aggregation.
        label_edges = labels.select(
            F.col("id").alias("src"), F.col("cluster").alias("dst")
        )
        e2 = sym.unionByName(label_edges)
        neighbor_min = (
            e2.join(
                labels.select(
                    F.col("id").alias("n_id"), F.col("cluster").alias("n_cl")
                ),
                e2.dst == F.col("n_id"),
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("n_cl").alias("n_cluster"))
        )
        new_cl = F.least(
            F.col("cluster"), F.coalesce("n_cluster", F.col("cluster"))
        )
        obs = Observation()
        labels = storage.checkpoint(
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                new_cl.alias("cluster"),
                (new_cl != F.col("cluster")).cast("long").alias("__chg"),
            )
            .observe(obs, F.sum("__chg").alias("changed"))
            .drop("__chg")
        )
        # obs.get blocks until the QueryExecution success event for the
        # eager localCheckpoint above is delivered; there is no timeout
        # hook on Observation. If the listener bus ever dropped that
        # event (job cancelled mid-action, listener backlog overflow)
        # this would hang rather than error — acceptable today because
        # the checkpoint runs through withAction (event emission and
        # action completion are the same code path), but know the
        # failure mode before adding async cancellation around this loop.
        if not (obs.get["changed"] or 0):
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    return labels


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Keep-one-per-cluster dedup decision: every doc gets its cluster
    (docs in no pair form singleton clusters) and a keep flag — the
    smallest id in each cluster survives, the LLM-corpus convention."""
    comps = connected_components(pairs)
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(comps, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("cluster", F.col("id")).alias("cluster"),
        )
    )
    return out.withColumn("keep", (F.col(id_col) == F.col("cluster")))


def dedup_survivors_by(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score,
) -> DataFrame:
    """Keep-BEST-per-cluster dedup decision: like ``dedup_survivors``
    (smallest id wins) but the survivor is the cluster member with the
    highest ``score`` (a Column over ``df``'s columns — e.g. text
    length for the keep-the-longest-duplicate policy, or a quality
    score), ties broken by smallest id so retries can't flip the
    choice. Cluster labels stay the smallest reachable id (label
    choice is independent of the survivor policy). Returns (id,
    cluster, keep).

    Plan: the components fixpoint is pairs-sized; the survivor pick is
    ONE max-struct aggregate on the cluster key joined back on the
    same key (clusters are corpus-cardinality — singletons included —
    so the survivor frame shuffles, never broadcasts). No window sort
    over the corpus."""
    comps = connected_components(pairs)
    labeled = (
        df.select(F.col(id_col).alias("id"), score.alias("__score"))
        .join(comps, on="id", how="left")
        .select(
            "id",
            F.coalesce("cluster", F.col("id")).alias("cluster"),
            "__score",
        )
    )
    # max of (score, -id) picks highest score, then smallest id
    best = labeled.groupBy("cluster").agg(
        F.max(F.struct(F.col("__score"), (-F.col("id")).alias("__nid")))
        .alias("__best")
    ).select("cluster", (-F.col("__best.__nid")).alias("__survivor"))
    return (
        labeled.join(best, "cluster")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            (F.col("id") == F.col("__survivor")).alias("keep"),
        )
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥1 word
    5-gram with any benchmark document (the n-gram-overlap test used
    to scrub eval sets out of training corpora; n=5 is a conventional
    choice — long enough that shared grams mean real overlap).

    Returns (id, n_shared_shingles) for flagged docs only — the rows a
    pipeline would anti-join away.

    Scale shape: benchmark sets are small (thousands of eval prompts)
    while the corpus is the 100 TB side, so the benchmark's distinct
    shingles are BROADCAST and the corpus never shuffles its text —
    one explode + broadcast semi-ish join + groupBy(doc) count.
    Distinct-per-side shingles keep the join output bounded by
    (corpus shingles) x 1, not a cross blowup on repeated grams.
    """
    c_sh = (
        shingles(corpus, id_col, text_col, n=5)
        .select(id_col, F.explode("shingles").alias("shingle"))
    )
    b_sh = (
        shingles(benchmark, id_col, text_col, n=5)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    return (
        c_sh.join(F.broadcast(b_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("shingle")).alias("n_shared_shingles"))
    )


def postings_jaccard_pairs(
    shingled: DataFrame,
    id_col: str,
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT pairwise Jaccard via an inverted index (postings lists) —
    the shuffle-native scale path for set similarity. The all-pairs
    form (q19: self-join + array_intersect per pair) touches every
    document pair; here a pair materializes ONLY through a shared
    shingle:

      explode(shingles) → self-join on the shingle (the postings join)
      → count shared shingles per (id1, id2) → join per-doc set sizes
      → jaccard = inter / (|A| + |B| - inter).

    Every step is a key-shuffle (no cross join, no broadcast of the
    corpus); cost is Σ over shingles of |posting|², concentrated in
    high-document-frequency shingles. ``max_doc_freq`` drops postings
    longer than the cap before pairing — the standard guard against a
    stopword shingle exploding quadratically. With a cap the
    intersection counts are a LOWER bound (pairs sharing only capped
    shingles are missed), so results become candidate-grade; leave it
    None for exact parity.

    Input: ``shingled`` as produced by ``shingles()`` — (id_col,
    shingles array, plus any blocking cols the caller joined in).
    Output: (id1, id2, jaccard) with id1 < id2, jaccard >= min_jaccard
    when min_jaccard > 0 (pairs with zero shared shingles never
    appear, matching the all-pairs form's inter > 0 filter).
    """
    sized = shingled.select(
        F.col(id_col).alias("__id"),
        F.size("shingles").cast("long").alias("__sz"),
        F.explode("shingles").alias("shingle"),
    )
    if max_doc_freq is not None:
        sized = sized.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        ).filter(F.col("__df") <= max_doc_freq).drop("__df")
    a = sized.select(
        F.col("__id").alias("id1"), F.col("__sz").alias("sz1"), "shingle"
    )
    b = sized.select(
        F.col("__id").alias("id2"), F.col("__sz").alias("sz2"), "shingle"
    )
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2", "sz1", "sz2")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    jaccard = F.col("inter").cast("double") / (
        (F.col("sz1") + F.col("sz2") - F.col("inter")).cast("double")
    )
    out = inter.select("id1", "id2", jaccard.alias("jaccard"))
    if min_jaccard > 0.0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def doc_segments(
    df: DataFrame, id_col: str, text_col: str, seg_words: int = 10
) -> DataFrame:
    """Split each document into fixed-width word windows — the
    segment axis for sub-document dedup/boilerplate analysis (the
    role paragraphs play in CCNet-style pipelines; this corpus is
    single-line, so the window is positional). Returns (id, seg_id,
    seg) with seg_id 0-based in document order; the last segment may
    be short. Pure map-side: split + sequence + explode + slice."""
    words = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    return (
        df.select(F.col(id_col), words.alias("__words"), n_segs.alias("__n"))
        .select(
            id_col,
            "__words",
            F.explode(F.sequence(F.lit(0), F.col("__n") - 1)).alias("seg_id"),
        )
        .select(
            id_col,
            "seg_id",
            F.concat_ws(
                " ",
                F.slice(
                    F.col("__words"),
                    F.col("seg_id") * seg_words + 1,
                    seg_words,
                ),
            ).alias("seg"),
        )
    )


def boilerplate_segments(
    segments: DataFrame, id_col: str, min_docs: int = 2
) -> DataFrame:
    """Segment hashes appearing in >= min_docs DISTINCT documents —
    the repeated-content (boilerplate) set. One shuffle on the
    16-byte hash; raw segment text never shuffles."""
    return (
        segments.select(F.col(id_col), F.md5("seg").alias("seg_hash"))
        .groupBy("seg_hash")
        .agg(F.countDistinct(id_col).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Sub-document boilerplate removal: drop every fixed-width word
    window whose content repeats across >= min_docs documents, then
    reassemble each document from its surviving windows in order.
    Returns (id, n_segments, n_kept, cleaned_md5) — the md5 of the
    reassembled text (a digest, so the gate compares full content
    without shipping text through the comparator).

    Scale: the boilerplate set is hashes-only (broadcastable: its
    size is bounded by repeated content, not corpus size), the
    reassembly is one groupBy over (doc, seg) rows with an in-group
    array_sort — no window sort over the corpus, no self-join.
    A 100 TB corpus pays: segment scan → hash-key shuffle for the
    boilerplate census → broadcast anti-join → per-doc regroup.
    """
    segs = doc_segments(df, id_col, text_col, seg_words)
    boiler = boilerplate_segments(segs, id_col, min_docs).select("seg_hash")
    flagged = segs.withColumn("__h", F.md5("seg")).join(
        F.broadcast(boiler),
        F.col("__h") == F.col("seg_hash"),
        "left_anti",
    )
    totals = segs.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments")
    )
    kept = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_id", "seg"))
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )
    return totals.join(kept, id_col, "left").select(
        id_col,
        "n_segments",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("cleaned_md5", F.md5(F.lit(""))).alias("cleaned_md5"),
    )


def prefix_jaccard_pairs(
    shingled: DataFrame,
    id_col: str,
    threshold_permille: int,
) -> DataFrame:
    """Prefix-filtered EXACT set-similarity join (the All-Pairs /
    SSJoin prefix optimization: Bayardo, Ma, Srikant WWW'07;
    Chaudhuri, Ganti, Kaushik ICDE'06): a pair with Jaccard >= t must
    share at least one token among each set's first
    ``p = |s| - ceil(t·|s|) + 1`` tokens under a GLOBAL canonical
    order — ascending document frequency, ties by token — so
    candidates materialize only through shared PREFIX tokens instead
    of every shared token (postings_jaccard_pairs) or every pair
    (the q19 all-pairs form). Rare tokens go first, so the hottest
    (stopword-like) postings never generate candidates at all — this
    is the guard max_doc_freq approximates, derived instead of tuned.

    Entirely exact integer arithmetic: the threshold is permille, the
    prefix length uses ceil-division, and the final test is
    ``inter·1000 >= t_pm·(|A|+|B|-inter)`` — no float ever decides a
    pair. Returns (id1, id2, inter, union_sz, jaccard_permille) for
    pairs meeting the threshold, id1 < id2.

    Scale: token df is one hash agg; per-doc ranking is one window by
    id; candidate generation shuffles only prefix postings (bounded by
    (1-t)·|s|+1 per set); verification joins candidates against full
    token lists — |cand|·|s| rows, never |corpus|².
    """
    if not 0 < threshold_permille <= 1000:
        raise ValueError("threshold_permille must be in (0, 1000]")
    t = int(threshold_permille)
    toks = shingled.select(
        F.col(id_col).alias("__id"), F.explode("shingles").alias("tok")
    ).distinct()
    df_counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("__df")
    )
    sized = toks.withColumn(
        "__sz", F.count(F.lit(1)).over(Window.partitionBy("__id")).cast("long")
    )
    ranked = (
        sized.join(df_counts, "tok")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__id").orderBy("__df", "tok")
            ),
        )
        .withColumn(
            "__p", F.expr(f"__sz - ((__sz * {t} + 999) div 1000) + 1")
        )
    )
    prefix = ranked.filter(F.col("__rn") <= F.col("__p")).select(
        "__id", "tok", "__sz"
    )
    # size-ratio filter (safe: J >= t forces inter >= t·union >= t·max
    # size, and inter <= min size, so 1000·min >= t·max) — kills
    # length-incompatible candidates before the verify join pays for
    # them; the standard companion to the prefix bound in All-Pairs
    size_ok = F.least(F.col("sz1"), F.col("sz2")) * 1000 >= F.lit(
        t
    ) * F.greatest(F.col("sz1"), F.col("sz2"))
    cand = (
        prefix.select(
            F.col("__id").alias("id1"), "tok", F.col("__sz").alias("sz1")
        )
        .join(
            prefix.select(
                F.col("__id").alias("id2"), "tok", F.col("__sz").alias("sz2")
            ),
            "tok",
        )
        .filter((F.col("id1") < F.col("id2")) & size_ok)
        .select("id1", "id2", "sz1", "sz2")
        .distinct()
    )
    a_toks = toks.select(F.col("__id").alias("id1"), "tok")
    b_toks = toks.select(F.col("__id").alias("id2"), "tok")
    verified = (
        cand.join(a_toks, "id1")
        .join(b_toks, ["id2", "tok"], "inner")
        .groupBy("id1", "id2", "sz1", "sz2")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    union_sz = F.col("sz1") + F.col("sz2") - F.col("inter")
    return (
        verified.filter(F.col("inter") * 1000 >= F.lit(t) * union_sz)
        .select(
            "id1",
            "id2",
            "inter",
            union_sz.cast("long").alias("union_sz"),
            F.expr("CAST((inter * 1000) div (sz1 + sz2 - inter) AS BIGINT)")
            .alias("jaccard_permille"),
        )
    )


def _build_concurrently(sc, builders: list) -> list:
    """Run zero-argument plan builders on parallel driver threads and
    return their results in order.

    The threads are ``pyspark.InheritableThread``s, so the caller's
    local properties (job group, job tags, scheduler pool) reach every
    eager job a builder runs, and each builder runs in a copy of the
    caller's ``contextvars`` context, so its pins land in the caller's
    ``storage.scope()``. Each builder also tags its own jobs; when
    one builder raises, the siblings' jobs are cancelled by that tag
    until they have stopped, and the first error is re-raised."""
    import contextvars
    import uuid

    from pyspark import InheritableThread

    run_id = uuid.uuid4().hex
    tags = [f"dedup.build-{run_id}-{i}" for i in range(len(builders))]
    results: list = [None] * len(builders)
    errors: list = []  # in the order they were raised

    def run(i: int, ctx: contextvars.Context) -> None:
        sc.addJobTag(tags[i])
        try:
            results[i] = ctx.run(builders[i])
        except BaseException as e:  # re-raised on the caller's thread
            errors.append(e)

    threads = [
        InheritableThread(run, args=(i, contextvars.copy_context()))
        for i in range(len(builders))
    ]
    for t in threads:
        t.start()
    while any(t.is_alive() for t in threads):
        for t, tag in zip(threads, tags):
            if errors and t.is_alive():
                sc.cancelJobsWithTag(tag)
            t.join(timeout=0.2)
    if errors:
        raise errors[0]
    return results


def joint_near_dup_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vec_col: str,
    dim: int,
    jaccard_threshold: float = 0.5,
    cosine_threshold: float = 0.9,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    num_bits: int = 8,
    max_bucket_size: int = 1000,
    portable: bool = False,
) -> DataFrame:
    """Joint TEXT + SEMANTIC near-duplicate dedup: a document is a
    duplicate if it is a MinHash-LSH text near-dup OR an SRP-bucketed
    embedding near-dup of a survivor — the union of both pair graphs
    feeds ONE connected-components pass, so a chain like
    (A ~text~ B ~semantic~ C) collapses to a single survivor even
    though no single modality links A to C. This is the dedup a real
    corpus build runs when both a text fingerprint and an embedding
    exist per document: paraphrases (caught semantically, missed
    lexically) and boilerplate edits (caught lexically, possibly far
    apart in embedding space) fall in the same sweep.

    Both candidate generators run with their mega-bucket guards
    (near_dup_frames + srp_near_dup_frames, anchor-star recovery on),
    so the union inherits the 100 TB skew bounds of each path; the
    edge union is a distinct over two already-bounded pair frames,
    and the CC cost is driven by the combined edge count, not by any
    all-pairs blowup. Returns (id, cluster, keep) for every input row
    (dedup_survivors convention: smallest id per cluster survives).
    """
    from us_immigration_data_lake_spark.operators.similarity import (
        srp_near_dup_frames,
    )

    # The two candidate generators are INDEPENDENT until the edge
    # union, and each runs eager driver actions while building (bucket
    # census limit-collect; the SRP side also its signature
    # checkpoint). Build them on two driver threads (guide §2.6 —
    # actions are only sequential because the driver calls them
    # sequentially): the text side's census jobs and the SRP side's
    # signature/census jobs overlap instead of serializing, and so
    # does their JVM-side planning. Both builders are pure plan
    # constructors over the same input frame; the union below is the
    # only synchronization point.
    def _text_pairs() -> DataFrame:
        return near_dup_frames(
            df, id_col, text_col, shingle_n=shingle_n,
            num_hashes=num_hashes, bands=bands,
            threshold=jaccard_threshold,
            max_bucket_size=max_bucket_size, recover_oversized=True,
            portable=portable,
        )["pairs"].select("id1", "id2")

    def _sem_pairs() -> DataFrame:
        return srp_near_dup_frames(
            df, id_col, vec_col, cosine_threshold, dim,
            num_bits=num_bits,
            max_bucket_size=max_bucket_size, recover_oversized=True,
        )["pairs"].select("id1", "id2")

    text_pairs, sem_pairs = _build_concurrently(
        df.sparkSession.sparkContext, [_text_pairs, _sem_pairs]
    )
    pairs = text_pairs.unionByName(sem_pairs).dropDuplicates()
    return dedup_survivors(df, pairs, id_col)


# ---------------------------------------------------------------------------
# Exact substring dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better", ACL 2022 — the ExactSubstr pass): remove
# repeated runs of >= k tokens ACROSS documents, keeping exactly one
# occurrence corpus-wide.  The paper builds a suffix array over the
# concatenated corpus — a single-machine structure.  The Spark shape is
# a k-token shingle inverted index: a position is part of a repeated
# substring iff the k-shingle starting there occurs more than once in
# the corpus, and maximal repeated spans are the merged intervals of
# the non-canonical duplicated positions (canonical = corpus-smallest
# (id, pos) per shingle, so one occurrence always survives and retries
# can't flip which).  Any repeat of length L >= k is covered exactly
# (every one of its L-k+1 shingles is duplicated; their union is the
# whole span); repeats shorter than k are invisible — the paper's own
# threshold semantics.
# The reference has no substring-level operator (whole-row dedup only,
# etl.py:209 dropDuplicates) — this is part of the mandated
# training-data-pipeline surface, complementing MinHash whole-doc
# near-dup (near_dup_pairs above).
# ---------------------------------------------------------------------------


def repeated_substring_occurrences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    portable: bool = False,
    min_count: int = 2,
) -> DataFrame:
    """Non-canonical duplicated k-shingle positions: (id, pos, h) for
    every token position whose k-token shingle occurs >= ``min_count``
    times corpus-wide, EXCLUDING each shingle's canonical (smallest
    (id, pos)) occurrence.  Building block for
    ``repeated_substring_spans``; exposed for tests/diagnostics.

    Plan shape: the shingle hash array is pure per-row arithmetic (one
    O(k) slice+join per position, zero shuffles — same layout as the
    MinHash signature stage); the only wide stages are one
    posexplode'd window over the shingle hash (count + row_number per
    h — partial-agg-free but state is one 8-byte hash key) and the
    per-doc span window downstream.  Hashes are 60-bit md5_long when
    ``portable`` (DuckDB-replayable) else xxhash64 (perf path) — a
    random collision would stitch two unrelated positions into one
    "repeat", at odds ~n²/2^60: acceptable for dedup (the paper's
    suffix array is exact; at 100 TB swap in a 128-bit hash before
    worrying, not a suffix array)."""
    tok = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("id"), tok.alias("__t")).filter(
        F.size("__t") >= k
    )
    hashes = F.transform(
        F.sequence(F.lit(0), F.size("__t") - k),
        lambda p: _shingle_hash(
            F.array_join(F.slice(F.col("__t"), p + 1, k), " "), portable
        ),
    )
    occ = base.select("id", F.posexplode(hashes).alias("pos", "h"))
    w = Window.partitionBy("h")
    marked = (
        occ.select(
            "id",
            "pos",
            "h",
            F.count("*").over(w).alias("__n"),
            F.row_number()
            .over(w.orderBy("id", "pos"))
            .alias("__rn"),
        )
        .filter((F.col("__n") >= min_count) & (F.col("__rn") > 1))
        .select("id", "pos", "h")
    )
    return marked


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    portable: bool = False,
    min_count: int = 2,
) -> DataFrame:
    """Maximal repeated-substring spans per document: (id, span_start,
    span_end, span_tokens) in 0-based token coordinates, end exclusive.
    A span is the merged union of [pos, pos+k) intervals over the
    non-canonical duplicated positions — the token ranges an
    ExactSubstr dedup pass deletes.  Interval merge is the classic
    sorted running-max: per-doc window (docs are small relative to
    partitions, so the partitionBy(id) sort never sees corpus-scale
    skew)."""
    marked = repeated_substring_occurrences(
        df, id_col, text_col, k=k, portable=portable, min_count=min_count
    )
    wd = Window.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = marked.select(
        "id",
        "pos",
        (F.col("pos") > F.coalesce(prev_end, F.lit(-1)))
        .cast("long")
        .alias("__new"),
    )
    spans = (
        flagged.select(
            "id",
            "pos",
            F.sum("__new")
            .over(wd.rowsBetween(Window.unboundedPreceding, 0))
            .alias("__span"),
        )
        .groupBy("id", "__span")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
        )
        .select(
            F.col("id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )
    return spans.withColumnRenamed("id", id_col)


def remove_repeated_substrings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    portable: bool = False,
) -> DataFrame:
    """ExactSubstr dedup applied: every input row with its cleaned text
    (tokens inside repeated spans deleted; the canonical occurrence of
    each repeat survives corpus-wide), plus per-doc accounting:
    (id, clean_text, n_tokens, removed_tokens, n_spans).

    Text is rebuilt by single-space-joining the kept tokens — the
    tokenizer's whitespace normalization, same convention as
    ``normalized_text``.  The span set is already merged/disjoint, so
    the keep test is one F.exists per token over the doc's own span
    array (per-row HOF, no token-level shuffle — only the spans frame
    shuffles, which is span-cardinality, not token-cardinality)."""
    spans = repeated_substring_spans(
        df, id_col, text_col, k=k, portable=portable
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__spans"),
        F.sum("span_tokens").alias("removed_tokens"),
        F.count("*").alias("n_spans"),
    )
    tok = tokens(F.lower(F.col(text_col)))
    joined = (
        df.select(F.col(id_col), tok.alias("__t"))
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            "__t",
            F.coalesce(
                "__spans",
                F.array().cast("array<struct<s:int,e:int>>"),
            ).alias("__spans"),
            F.coalesce("removed_tokens", F.lit(0)).alias("removed_tokens"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        )
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
    )
    kept = F.filter(F.col("__t"), lambda x, i: ~covered(i))
    return joined.select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__t").cast("long").alias("n_tokens"),
        F.col("removed_tokens").cast("long").alias("removed_tokens"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD 1995 — public):
# the third candidate-generation family next to LSH banding and
# prefix-filtered set-similarity. Sort the corpus by a blocking key,
# pair each row with its w nearest neighbors in sort order, verify
# exactly. Complements LSH where near-dups share a PREFIX/sort-locality
# rather than a hashed band (typos late in the document, numbered
# boilerplate variants) and its candidate count is exactly n·w by
# construction — no bucket-skew failure mode at all.
# ---------------------------------------------------------------------------


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    key_prefix_len: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Verified near-dup pairs (id1, id2, jaccard) from the
    sorted-neighborhood method: rows ranked by (normalized-text prefix
    of ``key_prefix_len`` chars, id) — a TOTAL order, so ranks are
    run-stable — and every row is a candidate against the ``window``
    rows that follow it. Exact hashed-shingle Jaccard verification,
    identical semantics to the LSH path's verify stage.

    Plan shape at 100 TB: the rank is windows.global_row_number's
    two-phase form (range exchange + parallel per-partition windows —
    never a single-partition global window); candidate generation
    explodes each row to ``window`` (rank+k) probes and equi-joins on
    rank — n·w rows through one hash join, no skew possible since rank
    is unique. One range exchange + one equi-join + the verify join;
    candidate volume is EXACTLY n·w (vs LSH's data-dependent bucket
    sums), the method's defining trade: bounded cost, recall limited
    to sort-local duplicates."""
    from us_immigration_data_lake_spark.operators.windows import (
        global_row_number,
    )

    keyed = df.select(
        F.col(id_col),
        F.col(text_col),
        F.substring(normalized_text(F.col(text_col)), 1, key_prefix_len).alias(
            "__key"
        ),
    )
    ranked = global_row_number(keyed, ["__key", id_col], rank_col="__rank")

    probes = ranked.select(
        F.col(id_col).alias("id1"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(window)),
                lambda k: F.col("__rank") + k,
            )
        ).alias("__rank"),
    )
    cand = probes.join(
        ranked.select(F.col(id_col).alias("id2"), "__rank"), "__rank"
    ).select("id1", "id2")

    hs = hashed_shingle_sets(
        shingles(spread_by_id(df, id_col), id_col, text_col, shingle_n),
        id_col,
        portable,
    )
    return verify_jaccard_hashed(cand, hs, id_col, threshold)


def multi_pass_sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    key_prefix_len: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """The CANONICAL multi-pass sorted-neighborhood method (Hernández
    & Stolfo, SIGMOD 1995 — the paper's key insight is that no single
    sort key suffices): three INDEPENDENT passes, each a full
    sorted-neighborhood run over a different total order, candidate
    sets unioned, ONE shared exact-Jaccard verify. A duplicate pair
    whose texts diverge in the first characters (invisible to the
    prefix order) is adjacent under the reversed or token-sorted
    order — each pass covers the others' defining blind spot:

    - pass 1: ``key_prefix_len`` chars of the normalized text (the
      single-pass key — catches shared openings);
    - pass 2: same prefix of the REVERSED normalized text (catches
      shared endings: 'ACME corp' / 'the ACME corp');
    - pass 3: same prefix of the token-SORTED normalized text
      (catches reorderings: 'john smith' / 'smith john').

    Pairs canonicalize (least, greatest) before the union dedup —
    different passes discover the same pair in different rank
    orientations. Output column semantics match
    ``sorted_neighborhood_pairs`` except id1 < id2 always (the
    single-pass op orients by rank).

    Scale: 3× the single-pass cost by construction — three two-phase
    range exchanges (windows.global_row_number, never a
    single-partition window), three exactly-n·w candidate joins, one
    verify over ≤ 3·n·w deduped pairs. Still no data-dependent skew
    mode: ranks are unique per pass. (sorted_neighborhood_pairs
    measured 2.0× at 10× rows, SCALE.md; this is a constant multiple
    of that plan.)"""
    from us_immigration_data_lake_spark.operators.windows import (
        global_row_number,
    )

    norm = normalized_text(F.col(text_col))
    token_sorted = F.array_join(
        F.array_sort(F.filter(F.split(norm, " "), lambda t: t != F.lit(""))),
        " ",
    )
    keys = [
        F.substring(norm, 1, key_prefix_len),
        F.substring(F.reverse(norm), 1, key_prefix_len),
        F.substring(token_sorted, 1, key_prefix_len),
    ]

    cand = None
    for key in keys:
        keyed = df.select(F.col(id_col), key.alias("__key"))
        ranked = global_row_number(keyed, ["__key", id_col], rank_col="__rank")
        probes = ranked.select(
            F.col(id_col).alias("__a"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(window)),
                    lambda k: F.col("__rank") + k,
                )
            ).alias("__rank"),
        )
        pass_cand = probes.join(
            ranked.select(F.col(id_col).alias("__b"), "__rank"), "__rank"
        ).select(
            F.least("__a", "__b").alias("id1"),
            F.greatest("__a", "__b").alias("id2"),
        )
        cand = pass_cand if cand is None else cand.unionByName(pass_cand)

    hs = hashed_shingle_sets(
        shingles(spread_by_id(df, id_col), id_col, text_col, shingle_n),
        id_col,
        portable,
    )
    return verify_jaccard_hashed(cand.dropDuplicates(), hs, id_col, threshold)


# ---------------------------------------------------------------------------
# Bounded edit-distance similarity join (PassJoin segment scheme: Li,
# Deng, Wang & Feng, ICDE 2011 — public; the r7 q-gram scheme, Gravano
# et al. VLDB 2001, measured quadratic in gram frequency and was
# replaced, SCALE.md r8): the fourth matching family next to LSH
# banding, prefix-filtered set-similarity, and sorted-neighborhood.
# Candidates from exact segment occurrence (d edits cannot touch all
# d+1 segments), verified with the exact JVM levenshtein —
# approximate STRING matching where the set-similarity family
# measures token overlap.
# ---------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_distance: int = 2,
) -> DataFrame:
    """All pairs (id1, id2, distance) with levenshtein(s1, s2) <=
    ``max_distance``, id1 < id2 — COMPLETE (the pruning provably loses
    nothing; the spec-oracle in q197 checks against the brute-force
    definition) without an n² candidate stage. Candidate generation is
    PassJoin's segment scheme (Li, Deng, Wang & Feng, ICDE 2011):

    - SEGMENT branch (every string with L ≥ d+1): split each string
      into d+1 contiguous segments (lengths ⌊L/(d+1)⌋ / ⌈L/(d+1)⌉,
      deterministic given L). If ed(s, t) ≤ d, at most d edit
      operations touch s, and d+1 segments mean at least ONE segment
      has no operation inside it — it survives in t as an exact
      contiguous substring, start-shifted by the net indel count
      before it, which is ≤ d. So: an INDEX side emits each string's
      (length, segment_idx, segment) keys; a PROBE side emits, per
      string t and per partner length l ∈ [len(t)−d, len(t)] (the
      longer side always probes DOWNWARD, covering every orientation),
      the substrings of t at the segment-j window [p_j(l)−d, p_j(l)+d];
      candidates are ONE equi-join on (l, j, substring). Exact
      ~L/(d+1)-char substring equality at an aligned position is far
      more selective than any shared-q-gram scheme: the r8 probe
      measured the 3-gram self-join at sum(freq²) = 28M candidates for
      5000 16-char strings (8× wall-clock at 3× rows — gram frequency
      skew is quadratic), and prefix-filtering (Chaudhuri 2006) only
      cut it 3× because d·q+1 = 7 of 14 grams stayed in every prefix.
      Segment keys have no analogous hot-key failure on natural text;
      residual skew comes only from true duplicate clusters, whose
      output is itself quadratic (no complete algorithm beats its own
      output size).
    - SHORT branch (pairs with BOTH lengths ≤ 2d — exactly the pairs
      whose shorter side can be under d+1 chars and thus has no
      nonempty-segment guarantee): length-band equi-join, each string
      probing the upward bands [L .. L+d] against the partner's exact
      length (the shorter side always reaches the longer), ids
      canonicalized least/greatest.

    A pair whose lengths straddle both branches' conditions can be
    found twice — the branch union dedups before verification.
    Verification is ``F.levenshtein`` (JVM Wagner-Fischer, codegen'd)
    on the candidate set only, plus the free |ΔL| ≤ d length filter.
    Scale: one census-free segment equi-join + one band-key shuffle +
    pair-local verify; index fan-out is d+1 rows per string, probe
    fan-out ≤ (d+1)²·(2d+1) rows per string (45 at d=2) — constants,
    not corpus-dependent."""
    if max_distance < 0:
        raise ValueError(f"max_distance must be >= 0, got {max_distance}")
    d = int(max_distance)
    parts = d + 1

    s = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(str_col).cast("int").alias("__l"),
    ).filter(F.col("__s").isNotNull())
    s = spread_by_id(s, "__id")

    # segment start (1-based) and length for segment j of a length-l
    # string: base = l div parts, rem = l % parts; the first rem
    # segments are one char longer.
    def seg_start(l: str, j: str) -> str:
        return f"(1 + {j} * ({l} div {parts}) + least({j}, {l} % {parts}))"

    def seg_len(l: str, j: str) -> str:
        return f"(({l} div {parts}) + if({j} < {l} % {parts}, 1, 0))"

    indexable = s.filter(F.col("__l") >= parts)
    idx = indexable.select(
        F.col("__id").alias("__iid"),
        F.col("__l").alias("l"),
        F.explode(
            F.expr(
                f"""transform(sequence(0, {d}), j -> struct(
                      j AS j,
                      substring(__s, {seg_start('__l', 'j')},
                                {seg_len('__l', 'j')}) AS sub))"""
            )
        ).alias("seg"),
    ).select("__iid", "l", F.col("seg.j").alias("j"), F.col("seg.sub").alias("sub"))

    # probe windows: for partner length l and segment j, the exact
    # occurrence in THIS string starts within [p_j(l)-d, p_j(l)+d],
    # clamped to valid substring starts. sequence() would raise on an
    # empty range, so the window is generated to greatest(lo, hi) and
    # filtered back down — an inverted clamp yields zero probes.
    probe = indexable.select(
        F.col("__id").alias("__pid"),
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(greatest(__l - {d}, {parts}), __l), l ->
                      flatten(transform(sequence(0, {d}), j ->
                        transform(
                          filter(
                            sequence(greatest(1, {seg_start('l', 'j')} - {d}),
                                     greatest(greatest(1, {seg_start('l', 'j')} - {d}),
                                              least(__l - {seg_len('l', 'j')} + 1,
                                                    {seg_start('l', 'j')} + {d}))),
                            st -> st <= least(__l - {seg_len('l', 'j')} + 1,
                                              {seg_start('l', 'j')} + {d})),
                          st -> struct(
                            l AS l, j AS j,
                            substring(__s, st, {seg_len('l', 'j')}) AS sub))))))"""
            )
        ).alias("p"),
    ).select("__pid", F.col("p.l").alias("l"), F.col("p.j").alias("j"), F.col("p.sub").alias("sub"))

    cand_seg = (
        probe.join(idx, ["l", "j", "sub"])
        .filter(F.col("__pid") != F.col("__iid"))
        .select(
            F.least("__pid", "__iid").alias("id1"),
            F.greatest("__pid", "__iid").alias("id2"),
        )
        .dropDuplicates()
    )

    # short branch: pairs where BOTH sides are <= 2d (the only shape
    # whose shorter side can be < d+1 chars: |dL| <= d bounds the
    # longer side by 2d). Each string probes the UPWARD bands
    # [L .. L+d] against the partner's exact length, so the shorter
    # side of any qualifying pair always reaches the longer one; ids
    # canonicalize with least/greatest because the probe orientation
    # is length-based, not id-based (probing only downward + an
    # id1<id2 filter dropped ('aa','aaa') — the fuzz's minimal
    # counterexample, found on the gram-era short branch).
    short_s = s.filter(F.col("__l") <= 2 * d)
    probes = short_s.select(
        F.col("__id").alias("__pid_a"),
        F.explode(
            F.sequence(F.col("__l"), F.col("__l") + d)
        ).alias("band"),
    )
    cand_short = (
        probes.join(
            short_s.select(
                F.col("__id").alias("__pid_b"), F.col("__l").alias("band")
            ),
            "band",
        )
        .filter(F.col("__pid_a") != F.col("__pid_b"))
        .select(
            F.least("__pid_a", "__pid_b").alias("id1"),
            F.greatest("__pid_a", "__pid_b").alias("id2"),
        )
        .dropDuplicates()
    )

    # a pair with both lengths in [d+1, 2d] is found by BOTH branches —
    # union alone would emit it twice, breaking the "exactly the
    # brute-force pair set" contract; dedup across the branch union
    cand = cand_seg.unionByName(cand_short).dropDuplicates()
    s1 = s.select(F.col("__id").alias("id1"), F.col("__s").alias("s1"), F.col("__l").alias("l1"))
    s2 = s.select(F.col("__id").alias("id2"), F.col("__s").alias("s2"), F.col("__l").alias("l2"))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .filter(F.abs(F.col("l1") - F.col("l2")) <= d)
        .select(
            "id1",
            "id2",
            F.levenshtein("s1", "s2").cast("long").alias("distance"),
        )
        .filter(F.col("distance") <= d)
    )


def cross_group_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    portable: bool = False,
) -> DataFrame:
    """Pairwise SHINGLE-OVERLAP matrix between document groups
    (sources, splits, snapshots) — the curation diagnostic behind
    "how much does source A overlap source B" / split-contamination
    review, the GROUP-level counterpart of per-doc ``decontaminate``.
    Returns one row per unordered group pair (group_a < group_b):
    (group_a, group_b, shingles_a, shingles_b, shared, jaccard) over
    the groups' DISTINCT shingle-hash sets.

    Plan: one shingle pass (shared with the dedup family), explode to
    (group, shingle_hash), then ONE groupBy(shingle) whose aggregate
    is collect_set(group) — per-key state bounded by the GROUP count,
    a deployment constant (tens of sources, not millions; for
    high-cardinality grouping use the postings/prefix-filter
    set-similarity family instead, which prunes by similarity). The
    collect_set both DEDUPLICATES (group, shingle) pairs and hands the
    pair expansion a sorted in-row array (the candidate_pairs idiom) —
    one shuffle fewer than the first-cut distinct + self-join form,
    though A/B-measured cost is identical (6.9/19.7/67 s at 1x/3x/10x
    either way: the wall is the shingle explode+hash+shuffle itself,
    inherent to the semantics — the slope is exactly linear in corpus
    shingles, r9 probe). Group sizes fall out of the same per-shingle
    sets; output is groups² rows — driver-trivial. Jaccard divides
    exact bigints once (oracle rule 1)."""
    sh = shingles(
        df.filter(F.col(text_col).isNotNull()), id_col, text_col,
        carry_cols=(group_col,),
    )
    per_sh = (
        sh.select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        "shingles", lambda s: _shingle_hash(s, portable)
                    )
                )
            ).alias("__h"),
        )
        .groupBy("__h")
        .agg(F.array_sort(F.collect_set("__g")).alias("__gl"))
    )
    sizes = (
        per_sh.select(F.explode("__gl").alias("__g"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    pairs_arr = F.flatten(
        F.transform(
            F.col("__gl"),
            lambda x, i: F.transform(
                F.slice(F.col("__gl"), i + 2, F.size(F.col("__gl"))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        per_sh.filter(F.size("__gl") >= 2)
        .select(F.explode(pairs_arr).alias("p"))
        .groupBy(F.col("p.a").alias("group_a"), F.col("p.b").alias("group_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("__g").alias("group_a"), F.col("__n").alias("shingles_a"))
    sb = sizes.select(F.col("__g").alias("group_b"), F.col("__n").alias("shingles_b"))
    return (
        inter.join(sa, "group_a")
        .join(sb, "group_b")
        .select(
            "group_a", "group_b", "shingles_a", "shingles_b", "shared",
            F.round(
                F.col("shared").cast("double")
                / (
                    F.col("shingles_a") + F.col("shingles_b") - F.col("shared")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_estimate_calibration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 24,
    bands: int = 6,
    portable: bool = False,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Per-candidate-pair calibration of the MinHash Jaccard ESTIMATOR
    against the exact hashed-set Jaccard — the q221 role for the text
    near-dup family. q20's banding prices RECALL (which pairs surface
    at all); this prices the ESTIMATOR those banding thresholds are
    derived from: est = (matching signature positions) / num_hashes is
    an unbiased estimate of Jaccard with stderr ~ sqrt(J(1-J)/k), and
    the offline tuning loop raises num_hashes until the observed
    |est - exact| spread clears the threshold margin, then deploys the
    cheaper signature.

    Returns one row per surviving candidate pair: (id1, id2, n_match,
    est_jaccard, exact_jaccard, abs_err), every ratio an int/int
    division rounded to 6 so external engines agree bit-for-bit.

    Scale: the pair space is the BANDED candidate set (never all
    pairs), with the same counted mega-bucket cap as candidate_pairs;
    both sides of the comparison are per-pair array arithmetic on
    frames already carried by the near-dup plan — the calibration adds
    two hash-joins and zero extra shuffle stages beyond q20's own.
    Like ann_recall_at_k this is an OFFLINE calibration run over a
    restricted slice, not the serving path."""
    sh = shingles(df, id_col, text_col, n=2)
    hs = hashed_shingle_sets(sh, id_col, portable)
    # cached: the signature chain (the md5-heavy stage in portable
    # mode) is scanned by the band side, BOTH pair-join sides, and the
    # counted-cap rescan — without the cache it recomputes 4× (a
    # measured 2.3× slowdown of the whole calibration).
    sig = storage.cache(
        _signatures_from_sets(hs, id_col, num_hashes, portable)
    )
    band_df = lsh_bands(
        sig.select(id_col, "signature"), id_col, bands,
        num_hashes // bands, portable,
    )
    pairs = candidate_pairs(band_df, id_col, max_bucket_size)
    s1 = sig.select(
        F.col(id_col).alias("id1"),
        F.col("signature").alias("sig1"),
        F.col("hs").alias("hs1"),
    )
    s2 = sig.select(
        F.col(id_col).alias("id2"),
        F.col("signature").alias("sig2"),
        F.col("hs").alias("hs2"),
    )
    n_match = F.size(
        F.filter(
            F.zip_with("sig1", "sig2", lambda x, y: x == y),
            lambda v: v,
        )
    ).cast("long")
    inter = F.size(F.array_intersect("hs1", "hs2")).cast("long")
    union = (F.size("hs1") + F.size("hs2")).cast("long") - inter
    est = F.round(n_match.cast("double") / F.lit(float(num_hashes)), 6)
    exact = F.round(inter.cast("double") / union.cast("double"), 6)
    return (
        pairs.join(s1, "id1").join(s2, "id2")
        .select(
            "id1",
            "id2",
            n_match.alias("n_match"),
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )
