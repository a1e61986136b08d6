"""Property-based tests (hypothesis): each property generates a batch
of adversarial inputs and runs them through the engine in ONE Spark
job, comparing against the pure-Python reference semantics."""

from __future__ import annotations

import datetime

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.functions.dates import sas_to_date, date_diff_days
from us_immigration_data_lake_spark.functions.text import (
    normalized_text,
    title_case,
    token_count,
)

SETTINGS = settings(max_examples=5, deadline=None)

# alphabet where title_case guarantees str.title() equivalence
_TITLE_ALPHA = st.text(
    alphabet="abcdefghijklm NOPQRSTUVWXYZ'-.(,/éàü", min_size=0, max_size=30
)


@SETTINGS
@given(st.lists(st.integers(min_value=-365000, max_value=365000), min_size=1, max_size=200))
def test_sas_date_roundtrip(spark, days_list):
    df = spark.createDataFrame([(float(d),) for d in days_list], ["d"])
    out = df.select(
        F.col("d"),
        sas_to_date("d").alias("dt"),
        F.datediff(sas_to_date("d"), F.lit("1960-01-01").cast("date")).alias("back"),
    ).collect()
    epoch = datetime.date(1960, 1, 1)
    for r in out:
        assert r.back == int(r.d)
        assert (r.dt - epoch).days == int(r.d)


@SETTINGS
@given(st.lists(_TITLE_ALPHA, min_size=1, max_size=100))
def test_title_case_matches_python(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s: string")
    out = [r.t for r in df.select(title_case("s").alias("t")).collect()]
    assert out == [t.title() for t in texts]


@SETTINGS
@given(st.lists(st.text(alphabet="ab \t\n", max_size=30), min_size=1, max_size=100))
def test_token_count_matches_python_split(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s: string")
    out = [r.n for r in df.select(token_count("s").alias("n")).collect()]
    assert out == [len(t.split()) for t in texts]


@SETTINGS
@given(st.lists(st.text(alphabet="ab C \t", max_size=30), min_size=1, max_size=100))
def test_normalized_text_idempotent(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s: string")
    once = df.select(normalized_text("s").alias("x"))
    twice = once.select(normalized_text("x").alias("x"))
    assert [r.x for r in once.collect()] == [r.x for r in twice.collect()]


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.dates(min_value=datetime.date(1950, 1, 1), max_value=datetime.date(2100, 1, 1)),
            st.dates(min_value=datetime.date(1950, 1, 1), max_value=datetime.date(2100, 1, 1)),
        ),
        min_size=1,
        max_size=100,
    )
)
def test_date_diff_matches_python(spark, pairs):
    df = spark.createDataFrame(
        [(a.isoformat(), b.isoformat()) for a, b in pairs], ["a", "b"]
    )
    out = [r.d for r in df.select(date_diff_days("b", "a").alias("d")).collect()]
    assert out == [(b - a).days for a, b in pairs]


@SETTINGS
@given(
    st.lists(st.integers(min_value=1, max_value=200), min_size=1, max_size=30),
    st.integers(min_value=2, max_value=60),
    st.integers(min_value=0, max_value=20),
)
def test_chunking_covers_every_token(spark, doc_lens, chunk_tokens, overlap):
    from us_immigration_data_lake_spark.operators.textstats import chunk_documents

    if overlap >= chunk_tokens:
        overlap = chunk_tokens - 1
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(doc_lens)],
        ["doc_id", "text"],
    )
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens, overlap).collect()
    per_doc: dict[int, set] = {}
    for r in chunks:
        per_doc.setdefault(r.doc_id, set()).update(r.chunk_text.split())
    for i, n in enumerate(doc_lens):
        # every token of every document appears in at least one chunk
        assert per_doc[i] == {f"t{i}_{j}" for j in range(n)}, (i, n, chunk_tokens, overlap)


# --- SAS PROC FORMAT parser round-trip -------------------------------------

_sas_label = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters="\n\r", min_codepoint=32
    ),
    min_size=0, max_size=40,
)
_sas_key = st.one_of(
    st.integers(min_value=-999999, max_value=999999).map(str),
    st.text(
        alphabet=st.characters(codec="ascii", exclude_characters="\n\r'",
                               min_codepoint=33),
        min_size=1, max_size=8,
    ),
)


@given(
    st.lists(st.tuples(_sas_key, _sas_label), min_size=1, max_size=20),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_sas_format_block_roundtrip(entries, char_fmt):
    """Any rendered value block must parse back to exactly the entries
    that were rendered (keys/labels verbatim, '' escaping reversed)."""
    from us_immigration_data_lake_spark.sources.sas_labels import (
        parse_sas_format_blocks,
    )

    name = ("$" if char_fmt else "") + "fmt"

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    lines = [f"value {name}"]
    for k, v in entries:
        key = q(k) if char_fmt or not k.lstrip("-").isdigit() else k
        lines.append(f"   {key} = {q(v)}")
    lines.append(";")
    blocks = parse_sas_format_blocks("\n".join(lines))
    assert blocks[name] == list(entries)


@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        min_size=1,
        max_size=80,
    ),
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=80,
    ),
)
@settings(max_examples=40, deadline=None)
def test_sas7bdat_writer_roundtrip(nums, strs):
    """Any numeric+string frame our writer renders must read back
    byte-identical through pandas' independent sas7bdat parser
    (blank/whitespace-only strings come back as SAS missing)."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from us_immigration_data_lake_spark.sources import write_sas7bdat

    n = min(len(nums), len(strs))
    df = pd.DataFrame({"x": nums[:n], "s": strs[:n]})
    fd, path = tempfile.mkstemp(suffix=".sas7bdat")
    os.close(fd)
    try:
        write_sas7bdat(path, df)
        back = pd.read_sas(path, format="sas7bdat", encoding="utf-8")
        np.testing.assert_array_equal(back["x"].to_numpy(), df["x"].to_numpy())
        for got, want in zip(back["s"], df["s"]):
            if want.strip(" ") == "":
                assert pd.isna(got)  # SAS blank == missing
            else:
                assert got == want.rstrip(" ")  # fixed-width pad strips
    finally:
        os.unlink(path)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),   # value
            st.integers(min_value=1, max_value=9),      # weight
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None)
def test_weighted_median_matches_bruteforce(spark, rows):
    """Smallest v with cumulative weight reaching half the total —
    computed by sorting in Python — must equal the window plan."""
    from us_immigration_data_lake_spark.operators.orderstats import (
        weighted_median,
    )

    df = spark.createDataFrame([("g", v, w) for v, w in rows], ["g", "v", "w"])
    got = weighted_median(df, ["g"], "v", "w").collect()[0]
    total = sum(w for _, w in rows)
    cum = 0
    expect = None
    for v, w in sorted(rows):
        cum += w
        if cum * 2 >= total:
            expect = v
            break
    assert (got.w_median, got.total_weight) == (expect, total)


@given(
    st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=30),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),
            st.integers(min_value=0, max_value=300),
        ),
        min_size=1,
        max_size=15,
    ),
)
@settings(max_examples=10, deadline=None)
def test_asof_forward_matches_bruteforce(spark, points, intervals_raw):
    """Forward as-of: earliest right ts >= left ts per key, ties by
    smallest tiebreak — versus a brute-force Python scan."""
    from us_immigration_data_lake_spark.operators.joins import as_of_join

    left = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate(points)], ["k", "lid", "ts"]
    )
    rights = [(1, i, t) for i, (t, _) in enumerate(intervals_raw)]
    right = spark.createDataFrame(rights, ["k", "rid", "rts"])
    got = {
        r.lid: r.rid
        for r in as_of_join(
            left, right, ["k"], "ts", "rts", ["rid"],
            tiebreak="rid", direction="forward",
        ).collect()
    }
    for i, t in enumerate(points):
        cands = [(rt, rid) for _, rid, rt in rights if rt >= t]
        expect = min(cands)[1] if cands else None
        assert got[i] == expect, (i, t, cands)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=-10_000, max_value=10_000),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
def test_interpolate_fill_matches_python_reference(spark, series):
    """interpolate_fill == a pure-Python floor-division interpolation
    over arbitrary (slot, value) series, negative slopes included."""
    from us_immigration_data_lake_spark.operators.windows import (
        interpolate_fill,
    )

    df = spark.createDataFrame([("k", s, v) for s, v in series], ["k", "slot", "v"])
    got = {
        r.slot: (r.value, r.is_observed)
        for r in interpolate_fill(df, "k", "slot", "v").collect()
    }
    pts = sorted(series)
    want = {}
    for (s0, v0), (s1, v1) in zip(pts, pts[1:]):
        want[s0] = (v0, True)
        for s in range(s0 + 1, s1):
            want[s] = (v0 + ((v1 - v0) * (s - s0)) // (s1 - s0), False)
    want[pts[-1][0]] = (pts[-1][1], True)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.text(min_size=0, max_size=12), min_size=1, max_size=150)
)
def test_hll_registers_match_python_reference(spark, values):
    """hll_registers == the pure-Python md5 register computation over
    arbitrary strings (including empty and unicode)."""
    import hashlib

    from us_immigration_data_lake_spark.operators.sketches import (
        hll_registers,
    )

    df = spark.createDataFrame([("g", v) for v in values], ["g", "v"])
    got = {
        (r["__j"], r["max_rho"])
        for r in hll_registers(df, ["g"], "v").collect()
    }
    regs: dict = {}
    for v in set(values):
        h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
        j, w = h >> 54, h % (1 << 54)
        rho = 55 - w.bit_length()
        regs[j] = max(regs.get(j, 0), rho)
    assert got == set(regs.items())


@settings(max_examples=5, deadline=None)
@given(
    st.dictionaries(
        st.integers(min_value=1, max_value=20),
        st.sets(
            st.sampled_from("abcdefghij"), min_size=1, max_size=8
        ),
        min_size=2,
        max_size=10,
    ),
    st.integers(min_value=100, max_value=900),
)
def test_prefix_jaccard_matches_brute_force(spark, sets, t_pm):
    """prefix_jaccard_pairs == all-pairs threshold Jaccard on random
    small-alphabet set families (heavy collisions, prefix boundaries
    at every |s|), any permille threshold."""
    from us_immigration_data_lake_spark.operators.dedup import (
        prefix_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, sorted(s)) for i, s in sets.items()], ["doc_id", "shingles"]
    )
    got = {
        (r.id1, r.id2): (r.inter, r.union_sz)
        for r in prefix_jaccard_pairs(df, "doc_id", t_pm).collect()
    }
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 1000 >= t_pm * union:
                want[(a, b)] = (inter, union)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.integers(min_value=-50, max_value=1050), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=999),
)
def test_histogram_quantile_bound_vs_python(spark, values, q_pm):
    """histogram quantile is within one bin width of the exact
    ceil-rank quantile, for arbitrary values (clipping included) and
    any permille — the sketch's documented error contract."""
    from us_immigration_data_lake_spark.operators.sketches import (
        histogram_build,
        histogram_quantile,
    )

    LO, W, NB = 0, 100, 10  # domain [0, 1000); inputs deliberately spill
    df = spark.createDataFrame([("g", v) for v in values], ["g", "v"])
    sk = histogram_build(df, ["g"], "v", LO, W, NB)
    est = histogram_quantile(sk, ["g"], q_pm, LO, W).collect()[0][1]
    clipped = sorted(min(max(v, LO), LO + W * NB - 1) for v in values)
    import math

    exact = clipped[math.ceil(len(clipped) * q_pm / 1000) - 1]
    assert abs(est - exact) <= W, (est, exact, q_pm)


@SETTINGS
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-3, max_value=3, allow_nan=False,
                      allow_infinity=False, width=32),
            min_size=6, max_size=6,
        ),
        min_size=2, max_size=25, unique_by=tuple,
    ),
    st.floats(min_value=0.2, max_value=0.95),
)
def test_semantic_dedup_invariants(spark, vecs, tau):
    """Structural invariants of semantic_dedup on arbitrary inputs:
    every row labeled exactly once; each cluster's label is its own
    minimum member; exactly the label-owner keeps; keep-set size ==
    number of distinct clusters."""
    from us_immigration_data_lake_spark.operators.similarity import (
        semantic_dedup,
    )

    # drop zero vectors (cosine undefined — the operator contract
    # assumes unit-normalizable embeddings)
    vecs = [v for v in vecs if any(abs(x) > 1e-6 for x in v)]
    if len(vecs) < 2:
        return
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(
        df, "vec_id", "embedding", threshold=float(tau), dim=6, num_bits=2
    ).collect()
    assert sorted(r.vec_id for r in out) == list(range(len(vecs)))
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r)
    for label, members in by_cluster.items():
        assert label == min(m.vec_id for m in members)
        keeps = {m.vec_id for m in members if m.keep}
        assert keeps == {label}


@SETTINGS
@given(
    st.lists(st.integers(min_value=-50, max_value=150), min_size=1, max_size=60),
    st.lists(st.integers(min_value=-60, max_value=160), min_size=1, max_size=12),
)
def test_histogram_rank_matches_exact_rank_within_a_bin(spark, values, probes):
    """histogram_rank on arbitrary integer data: never NULL for a
    populated group (gap bins included — the r4 advisor finding),
    bounded in [0, 1000], monotone in the probe value, and within
    one bin's mass of the exact empirical rank."""
    from us_immigration_data_lake_spark.operators.sketches import (
        histogram_build,
        histogram_rank,
    )

    lo, width, nbins = 0, 10, 10
    df = spark.createDataFrame([("g", int(v)) for v in values], ["g", "v"])
    pdf = spark.createDataFrame([("g", int(p)) for p in probes], ["g", "v"])
    sk = histogram_build(df, ["g"], "v", lo, width, nbins)
    got = {}
    for r in histogram_rank(sk, pdf, ["g"], "v", lo, width, nbins).collect():
        got.setdefault(r.v, r.rank_permille)
    n = len(values)
    # clip both data and probes into the domain exactly as build does
    clipped = sorted(min(max(v, lo), lo + width * nbins - 1) for v in values)
    for p in probes:
        rank = got[p]
        assert rank is not None
        assert 0 <= rank <= 1000
        cp = min(max(p, lo), lo + width * nbins - 1)
        exact_below = sum(1 for v in clipped if v < cp)
        # the uniform-within-bin model can misplace at most the probe
        # bin's own mass, plus the permille floor division quantizes
        # by up to one permille of the population (n/1000)
        bin_lo = lo + ((cp - lo) // width) * width
        bin_mass = sum(1 for v in clipped if bin_lo <= v < bin_lo + width)
        assert abs(rank / 1000 * n - exact_below) <= bin_mass + n / 1000 + 1e-9, (
            p, rank, exact_below, bin_mass)
    in_order = sorted(set(probes))
    ranks = [got[p] for p in in_order]
    assert ranks == sorted(ranks)


# --- BPE merges vs pure-Python reference (r7) --------------------------------


def _py_bpe(corpus: list[str], n_merges: int):
    """Reference BPE: word census, weighted pair counts, argmax with
    (count desc, l, r) tie-break, left-to-right non-overlapping merge."""
    from collections import Counter

    words = Counter()
    for text in corpus:
        for w in text.lower().split():
            if w:
                words[w] += 1
    state = {w: [c for c in w] for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += words[w]
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, c))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges


@SETTINGS
@given(
    st.lists(
        st.text(alphabet="abc ", min_size=1, max_size=24),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_bpe_merges_match_python_reference(spark, corpus, n_merges):
    """Differential: the engine's iterative BPE (vocab-sized Spark jobs,
    argmax collect, array-fold merge) must equal the sequential Python
    reference on random 3-letter corpora — including runs (aaa...),
    ties, and early exhaustion. NB the reference's index-walk merge and
    the engine's accumulator fold are different formulations of the
    same left-to-right non-overlapping rule; agreement here pins that
    equivalence too."""
    from us_immigration_data_lake_spark.operators import textstats as ts

    rows = [(t,) for t in corpus if t.strip()]
    if not rows:
        return
    df = spark.createDataFrame(rows, ["text"])
    got = [tuple(r) for r in ts.bpe_merges(df, "text", n_merges).collect()]
    want = _py_bpe([t for (t,) in rows], n_merges)
    assert got == want


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=50), st.text(alphabet="ab", max_size=3)),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=7),
)
def test_global_row_number_partition_invariant(spark, rows, nparts):
    """Ranks from the two-phase distributed row_number must be the
    dense 1..n enumeration of the total order, independent of input
    partitioning and the range-partition count."""
    from us_immigration_data_lake_spark.operators.windows import (
        global_row_number,
    )

    df = spark.createDataFrame(rows, ["id", "key"]).repartition(nparts)
    out = global_row_number(df, ["key", "id"], num_partitions=nparts).collect()
    by_rank = sorted(out, key=lambda r: r.rank)
    assert [r.rank for r in by_rank] == list(range(1, len(rows) + 1))
    assert [(r.key, r.id) for r in by_rank] == sorted(
        (k, i) for i, k in rows
    )


def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


@SETTINGS
@given(
    st.lists(st.text(alphabet="abc", min_size=0, max_size=14), min_size=2, max_size=25),
    st.integers(min_value=0, max_value=3),
)
def test_edit_distance_pairs_complete_random(spark, strings, d):
    """Randomized completeness of the q-gram pruning: the operator must
    emit EXACTLY the brute-force pair set at every distance bound —
    short strings (where the gram pigeonhole vanishes), empty strings,
    duplicates, and d=0 all included. A wrong length cutoff or gram
    bound shows up here as a missing pair."""
    from us_immigration_data_lake_spark.operators import dedup as dd

    from collections import Counter

    rows = list(enumerate(strings))
    df = spark.createDataFrame(rows, ["id", "s"])
    # multiset compare (Counter, not dict): a pair eligible for BOTH
    # the gram and the short branch must still be emitted exactly once
    # — a dict keyed on (id1, id2) silently collapses duplicate rows,
    # which is precisely the multiplicity-bug class to catch here
    got = Counter(
        (r.id1, r.id2, r.distance)
        for r in dd.edit_distance_pairs(df, "id", "s", max_distance=d).collect()
    )
    want = Counter(
        (i, j, _lev(strings[i], strings[j]))
        for i in range(len(strings))
        for j in range(i + 1, len(strings))
        if _lev(strings[i], strings[j]) <= d
    )
    assert got == want


@SETTINGS
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=20),
        min_size=2, max_size=15,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_sorted_neighborhood_matches_spec(spark, texts, w):
    """Randomized spec check: sorted_neighborhood_pairs must emit
    exactly the pairs within w positions of the (key-prefix, id) total
    order whose hashed-shingle Jaccard clears the threshold — computed
    here by a direct Python replay of rank, window, and exact Jaccard
    on 3-gram shingle sets (whole-normalized-text fallback for short
    docs, the shingles() contract)."""
    from us_immigration_data_lake_spark.operators import dedup as dd

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r.id1, r.id2)
        for r in dd.sorted_neighborhood_pairs(
            df, "doc_id", "text", window=w, key_prefix_len=8,
            threshold=0.4, shingle_n=3,
        ).collect()
    }

    def norm(t):
        return " ".join(t.lower().split())

    def sh(t):
        toks = t.lower().split()
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {norm(t)}

    order = sorted(rows, key=lambda r: (norm(r[1])[:8], r[0]))
    want = set()
    for i, (id1, t1) in enumerate(order):
        for j in range(i + 1, min(i + 1 + w, len(order))):
            id2, t2 = order[j]
            a, b = sh(t1), sh(t2)
            if len(a | b) and len(a & b) / len(a | b) >= 0.4:
                want.add((id1, id2))
    assert got == want


@SETTINGS
@given(
    st.lists(st.text(alphabet="ab c", min_size=1, max_size=24),
             min_size=1, max_size=8),
    st.lists(st.text(alphabet="ab c", min_size=1, max_size=24),
             min_size=1, max_size=8),
)
def test_cross_dedup_sound_and_finds_planted_exacts(spark, new_texts, ref_texts):
    """Randomized guarantees for the one-shot cross dedup
    (cross_ref_index_frames, then cross_near_dup_pairs_indexed): (1)
    SOUNDNESS —
    every emitted pair's jaccard equals the Python replay of the exact
    hashed-shingle-set Jaccard and clears the threshold; (2) EXACT-DUP
    RECALL — a new doc byte-identical to a ref doc collides in every
    band (identical signatures) and MUST be found."""
    from us_immigration_data_lake_spark.operators import dedup as dd

    # plant one exact cross dup: new id 0 copies ref id 100
    new_rows = [(i, t) for i, t in enumerate(new_texts)]
    ref_rows = [(100 + i, t) for i, t in enumerate(ref_texts)]
    new_rows[0] = (0, ref_rows[0][1])
    new_df = spark.createDataFrame(new_rows, ["doc_id", "text"])
    ref_df = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    kw = dict(shingle_n=3, num_hashes=16, bands=8, portable=True)
    index = dd.cross_ref_index_frames(ref_df, "doc_id", "text", **kw)["index"]
    pairs = dd.cross_near_dup_pairs_indexed(
        new_df, index, "doc_id", "text", threshold=0.3, **kw
    ).collect()

    def norm(t):
        return " ".join(t.lower().split())

    def sh(t):
        toks = t.lower().split()
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {norm(t)}

    news = dict(new_rows)
    refs = dict(ref_rows)
    for r in pairs:
        a, b = sh(news[r.id_new]), sh(refs[r.id_ref])
        want_j = len(a & b) / len(a | b)
        assert abs(r.jaccard - want_j) < 1e-9 and want_j >= 0.3
    assert (0, 100) in {(r.id_new, r.id_ref) for r in pairs}


@SETTINGS
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.sampled_from(["a", "b", "c", "d"]),
        ),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=8),
)
def test_per_group_cap_matches_python_reference(spark, rows, cap):
    """per_group_cap (q226) against the pure-Python semantics: per
    group, sort ids by (md5_long(f'{group}|{id}'), id), keep the first
    ``cap`` with 1-based ranks — on adversarial group shapes
    (singleton groups, all-one-group, ids colliding across groups)."""
    import hashlib

    from us_immigration_data_lake_spark.operators.sampling import (
        per_group_cap,
    )

    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {
        (r.doc_id, r.source): r.cap_rank
        for r in per_group_cap(df, "source", "doc_id", cap=cap).collect()
    }

    def key(g, d):
        return (int(hashlib.md5(f"{g}|{d}".encode()).hexdigest()[:15], 16), d)

    exp = {}
    for g in {s for _, s in rows}:
        ids = sorted((d for d, s in rows if s == g), key=lambda d: key(g, d))
        exp.update({(d, g): i + 1 for i, d in enumerate(ids[:cap])})
    assert got == exp
