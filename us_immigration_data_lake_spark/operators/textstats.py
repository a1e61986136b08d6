"""Text-analysis operators (SURVEY.md §2.10): token statistics, quality
scoring, language-ID heuristic, document fingerprinting.

Everything is native Spark SQL expressions (JVM-side, codegen'd) — no
Python UDFs anywhere in the hot path. All ratios are exact-integer
numerators/denominators divided once in double, so results are
bitwise-reproducible and oracle-comparable (see plans/queries.py rules).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.functions.text import normalized_text, tokens
from us_immigration_data_lake_spark.operators import storage
from us_immigration_data_lake_spark.operators.dedup import spread_by_id
from us_immigration_data_lake_spark.operators.storage import local_frame

# public, conventional stopword markers per language (tiny profiles —
# the heuristic is a count-argmax over these; real pipelines would use
# full profiles, same plan shape).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "que", "y", "por"),
    "fr": ("le", "les", "et", "des", "une", "dans"),
    "zh": ("的", "了", "是", "在", "我", "有"),
}

_STOPWORDS = ("the", "a", "and", "of", "to", "is", "in", "it")


def _count_in(tok: Column, words: tuple[str, ...]) -> Column:
    """# tokens ∈ words — exact integer, single array pass."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t))).cast("long")


def _token_counts(tok: Column) -> dict[str, Column]:
    """The exact-integer token counts the quality score reads."""
    return {
        "n_tokens": F.size(tok).cast("long"),
        "n_distinct_tokens": F.size(F.array_distinct(tok)).cast("long"),
        "n_stopwords": _count_in(tok, _STOPWORDS),
        "sum_token_len": F.aggregate(
            F.transform(tok, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    }


def text_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document feature bundle: char/token counts, distinct-token
    count, stopword count, punctuation count — all exact integers."""
    counts = _token_counts(tokens(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars_obs"),
        counts["n_tokens"].alias("n_tokens"),
        counts["n_distinct_tokens"].alias("n_distinct_tokens"),
        counts["n_stopwords"].alias("n_stopwords"),
        F.length(F.regexp_replace(text_col, r"[^\.\,\!\?\;\:]", "")).cast("long")
        .alias("n_punct"),
        counts["sum_token_len"].alias("sum_token_len"),
    )


def _score(
    n_tokens: Column, n_distinct_tokens: Column, n_stopwords: Column,
    sum_token_len: Column,
) -> Column:
    nt = n_tokens.cast("double")
    uniq = n_distinct_tokens / nt
    stop = n_stopwords / nt
    meanlen = sum_token_len / nt
    length_score = F.least(nt / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.4) * uniq
        + F.lit(0.2) * F.least(stop * 5.0, F.lit(1.0))
        + F.lit(0.2) * length_score
        + F.lit(0.2) * F.least(meanlen / 8.0, F.lit(1.0))
    )
    # empty documents (n_tokens=0) score 0, not null/NaN from 0/0
    score = F.when(n_tokens == 0, F.lit(0.0)).otherwise(score)
    return F.round(score, 6)


def quality_score(features: DataFrame) -> DataFrame:
    """Composite quality score from exact-integer features — the
    length/stopword/uniqueness heuristic family used to filter LLM
    training corpora. One double expression at the end (deterministic:
    same operands, same op order on both engines)."""
    return features.withColumn(
        "quality_score",
        _score(*(F.col(c) for c in (
            "n_tokens", "n_distinct_tokens", "n_stopwords", "sum_token_len",
        ))),
    )


def with_quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``df`` (id first, then its other columns) plus ``quality_score``
    — the value ``quality_score(text_features(df))`` gives, appended as
    projections instead of an id self-join back onto ``df``."""
    counts = _token_counts(tokens(F.col(text_col)))
    tmp = [f"__q_{n}" for n in counts]
    staged = df.select(
        F.col(id_col),
        *[c for c in df.columns if c != id_col],
        *[c.alias(t) for c, t in zip(counts.values(), tmp)],
    )
    # two projections: the score reads each count several times, so
    # the optimizer keeps the counts in their own (once-per-row) project
    return staged.withColumn(
        "quality_score", _score(*(F.col(t) for t in tmp))
    ).drop(*tmp)


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-profile language ID: count profile hits per language on
    the token array; argmax with first-profile-wins ties (deterministic).
    Comparisons are on raw integer counts (same denominator), so no
    float ordering ambiguity exists."""
    tok = tokens(F.lower(F.col(text_col)))
    out = df.select(F.col(id_col), *[c for c in df.columns if c != id_col])
    for lang, words in LANG_PROFILES.items():
        out = out.withColumn(f"score_{lang}", _count_in(tok, words))
    langs = list(LANG_PROFILES)
    pred = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1:]:
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        branch = F.lit(lang)
        if pred is None:
            pred = F.when(cond, branch)
        elif cond is not None:
            pred = pred.when(cond, branch)
        else:
            pred = pred.otherwise(branch)
    return out.withColumn("predicted_lang", pred)


def with_predicted_lang(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``df`` (id first, then its other columns) plus ``predicted_lang``
    — ``lang_id`` without its per-language score columns."""
    return lang_id(df, id_col, text_col).drop(
        *[f"score_{lang}" for lang in LANG_PROFILES]
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    polynomial rolling hash (base 257, mod 10^9+7) over character
    k-grams (k = 8), keep each sliding window's (4 grams) minimum,
    distinct. The standard chunk-level fingerprint
    for plagiarism/near-dup detection — robust to insertions because a
    local edit only perturbs nearby windows.

    Entirely native expression arithmetic (fold inside F.aggregate) —
    the hash values are plain modular bigint math, reproducible in any
    engine. Documents shorter than k+window-1 chars fall back to one
    whole-text hash.
    """
    from pyspark.sql.window import Window

    k, window = 8, 4

    def poly(arr):
        return F.aggregate(
            arr, F.lit(0).cast("long"), lambda acc, x: (acc * 257 + x) % 1_000_000_007
        )

    # Explode + window-function pipeline rather than nested
    # arrays-of-arrays: a nested HOF expression (grams built from
    # codes built from chars, each referenced multiple times)
    # duplicates its subtree at every reference and Catalyst's
    # CollapseProject re-inlines any staging columns — the optimizer
    # then walks an exponentially large tree and never finishes. Here
    # every per-row expression is small; the per-doc ordering is a
    # (doc, pos) window — one shuffle, linear work, and the same shape
    # scales to billion-document corpora.
    txt = normalized_text(F.col(text_col))
    codes = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.filter(F.split(txt, ""), lambda c: c != F.lit("")),
                lambda c: F.ascii(c).cast("long"),
            )
        ).alias("pos", "code"),
    )
    w_gram = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, k - 1)
    )
    grams = (
        codes.withColumn("gram_codes", F.collect_list("code").over(w_gram))
        .filter(F.size("gram_codes") == k)
        .select(F.col(id_col), "pos", poly(F.col("gram_codes")).alias("gh"))
    )
    w_min = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    mins = (
        grams.withColumn("win", F.collect_list("gh").over(w_min))
        .filter(F.size("win") == window)
        .select(F.col(id_col), F.array_min("win").alias("fingerprint"))
        .dropDuplicates()
    )
    # documents too short for a full k-gram window fall back to one
    # whole-text hash so they remain fingerprintable
    short = (
        df.select(
            F.col(id_col),
            F.transform(
                F.filter(F.split(txt, ""), lambda c: c != F.lit("")),
                lambda c: F.ascii(c).cast("long"),
            ).alias("codes"),
        )
        .filter(F.size("codes") < k + window - 1)
        .select(F.col(id_col), poly(F.col("codes")).alias("fingerprint"))
    )
    return mins.unionByName(short)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 50,
    overlap: int = 10,
    carry: tuple = (),
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of a training/RAG corpus build.

    Output: (id, chunk_idx, chunk_start_token, chunk_text, n_tokens,
    *carry) — ``carry`` (column names or aliased Columns over ``df``)
    is copied onto every chunk of its document, so per-document
    metadata needs no join back by id.
    Stride = chunk_tokens - overlap; the final chunk may be short but
    is never empty; single-short-doc → one chunk. Pure expression
    arithmetic (sequence + slice inside ONE transform level — flat,
    see the nested-HOF hazard note on winnow_fingerprints)."""
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    tok = tokens(normalized_text(F.col(text_col)))
    staged = df.select(F.col(id_col), tok.alias("__tok"), *carry)
    carried = staged.columns[2:]
    n = F.size("__tok")
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            (i * stride).cast("long").alias("chunk_start_token"),
            F.array_join(
                F.slice(F.col("__tok"), i * stride + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).cast("long").alias("n_tokens"),
        ),
    )
    return (
        staged.select(F.col(id_col), F.explode(chunks).alias("c"), *carried)
        .select(
            id_col,
            "c.chunk_idx",
            "c.chunk_start_token",
            "c.chunk_text",
            "c.n_tokens",
            *carried,
        )
    )


def bm25_term_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    k: int = 10,
) -> DataFrame:
    """Top-k documents per query term under BM25 with a RATIONAL idf.

    Standard BM25 multiplies the saturated term frequency by
    ``ln((N - df + 0.5) / (df + 0.5))``. ``ln`` is evaluated by libm
    and is NOT bit-reproducible across engines, so this operator uses
    the monotone pre-log idf argument ``(N - df + 0.5) / (df + 0.5)``
    directly (per-term ranking is identical — idf is constant within a
    term). With k1 = 6/5, b = 3/4, and the idf kept rational, the whole
    score is one exact bigint fraction:

        tf_norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/sum_dl))
        score   = idf_r * tf_norm = score_num / score_den

    cleared of denominators (k1 = k1n/k1d, b = bn/bd):

        score_num = tf*(k1n+k1d)*bd*sum_dl * (2N - 2df + 1)
        score_den = (tf*k1d*bd*sum_dl + k1n*(bd-bn)*sum_dl
                     + k1n*bn*dl*N) * (2df + 1)

    Ranking divides the two bigints ONCE in double — a single IEEE
    division is correctly rounded, so every engine produces the same
    bits from the same integers (it is ln/exp/pow and double SUMs that
    diverge, never one division).

    Scale: one partial-agg pass for (N, sum_dl) broadcast as a 1-row
    frame; per-term doc frequencies are a tiny broadcast dim; the doc
    side is one tokenize pass fanned out |terms|× by explode, never
    shuffled on raw text; top-k per term is a bounded window. Bigint
    headroom: score_num < tf * sum_dl * 2N * 9 — at true 100 TB corpus
    sizes (sum_dl ~ 1e13) this overflows int64, so the scale deployment
    ranks by the equivalent double expression instead and keeps the
    exact fraction only for gate-sized corpora (both orderings agree —
    same rational, correctly rounded).

    Tokenization is raw whitespace split of trimmed text (NOT the
    empty-filtering ``tokens()`` helper) so dl is reproducible by plain
    ``string_split_regex`` in an external engine.
    """
    scored = _bm25_scored_frame(df, id_col, text_col, terms)
    from pyspark.sql.window import Window

    rnk = F.row_number().over(
        Window.partitionBy("term").orderBy(
            F.desc(F.col("score_num").cast("double") / F.col("score_den").cast("double")),
            F.asc(id_col),
        )
    )
    # long, not Spark's int32: external ROW_NUMBER() is BIGINT and the
    # gate's value hash is type-sensitive (same rule as every other
    # exposed rank column)
    return (
        scored.withColumn("rnk", rnk.cast("long"))
        .filter(F.col("rnk") <= k)
        .orderBy("term", "rnk")
    )


def _bm25_scored_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
) -> DataFrame:
    """(term, id, tf, dl, score_num, score_den) for every (query term,
    matching doc) — the shared core of the per-term and multi-term
    rankings. See bm25_term_scores for the algebra and scale notes."""
    k1n, k1d = 6, 5
    bn, bd = 3, 4
    # tokenize once per doc: the Project holding the split sits below
    # the explode Generate, so the |terms|-way fan-out reuses the token
    # array instead of re-splitting per (doc, term). repartition first:
    # a single-file parquet scan is ONE task, and tokenization is the
    # CPU-heavy step (same rationale as dedup.near_dup_frames).
    # The whitespace class is EXPLICIT, not \s: Java's \s includes
    # vertical tab \x0B, RE2's (DuckDB) does not — spelling out Java's
    # exact set keeps Spark behavior identical while making the oracle
    # tokenize byte-for-byte the same.
    tok = F.split(F.trim(F.col(text_col)), r"[ \t\n\x0B\f\r]+")
    base = spread_by_id(df, id_col).select(
        F.col(id_col),
        tok.alias("tok"),
        F.size(tok).cast("long").alias("dl"),
    )
    # cached: three subplans consume base (corpus stats, per-term doc
    # frequencies, the hits scoring branch) and Spark re-runs the
    # tokenize Project per branch otherwise — same treatment as
    # dedup.near_dup_frames' shared hashed-shingle frame. ~|docs| rows
    # of token arrays.
    storage.cache(base)
    stats = base.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    hits = (
        base.select(
            F.col(id_col),
            "dl",
            "tok",
            F.explode(F.array(*[F.lit(t) for t in terms])).alias("term"),
        )
        .select(
            F.col(id_col),
            "dl",
            "term",
            F.size(F.filter("tok", lambda t: t == F.col("term")))
            .cast("long")
            .alias("tf"),
        )
        .filter(F.col("tf") > 0)
    )
    dfreq = hits.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.col(id_col),
            "tf",
            "dl",
            (
                F.col("tf") * F.lit(int((k1n + k1d) * bd)) * F.col("sum_dl")
                * (F.lit(2) * F.col("n_docs") - F.lit(2) * F.col("df") + F.lit(1))
            ).alias("score_num"),
            (
                (
                    F.col("tf") * F.lit(int(k1d * bd)) * F.col("sum_dl")
                    + F.lit(int(k1n * (bd - bn))) * F.col("sum_dl")
                    + F.lit(int(k1n * bn)) * F.col("dl") * F.col("n_docs")
                )
                * (F.lit(2) * F.col("df") + F.lit(1))
            ).alias("score_den"),
        )
    )
    return scored


def bm25_multiterm_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
) -> DataFrame:
    """Top-20 documents for a MULTI-term query: the document score is
    the sum of the per-term BM25 contributions (bm25_term_scores'
    exact fractions, absent term = 0).

    Reproducibility: summing rationals exactly would need a common
    denominator (bigint overflow), so each contribution divides once
    in double and the sum runs over a FIXED-ORDER pivot — one column
    per query term, added left-to-right in the ``terms`` order. Every
    step (division, each add, the final 6dp round) is a correctly
    rounded IEEE op on identical inputs, so any engine replaying the
    same expression produces the same bits — unlike a groupBy SUM of
    doubles, whose accumulation order is nondeterministic.

    Scale: the pivot is over the literal query-term list (bounded,
    explicit values — never a discovery pass), one shuffle on doc id.
    """
    # the pivot emits one output column NAMED per term next to the
    # groupBy columns — a term equal to id_col/'dl' would collide, and
    # a backtick would break the quoted reference below
    for t in terms:
        if t in (id_col, "dl") or "`" in t:
            raise ValueError(
                f"query term {t!r} collides with an internal column name "
                "or contains a backtick; rename the id column or drop the term"
            )
    scored = _bm25_scored_frame(df, id_col, text_col, terms)
    contrib = F.col("score_num").cast("double") / F.col("score_den").cast("double")
    per_doc = (
        scored.withColumn("contrib", contrib)
        .groupBy(id_col, "dl")
        .pivot("term", list(terms))
        .agg(F.first("contrib"))
    )
    total = None
    for t in terms:
        c = F.coalesce(F.col(f"`{t}`"), F.lit(0.0))
        total = c if total is None else total + c
    # top-20 FIRST via orderBy+limit (TakeOrderedAndProject — each
    # partition contributes its local top-20, no global single-partition
    # stage), THEN a window over just 20 rows to attach ranks. A bare
    # unpartitioned row_number window would funnel the whole corpus
    # through one task.
    topk = (
        per_doc.select(F.col(id_col), F.round(total, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(20)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return topk.withColumn("rnk", F.row_number().over(w).cast("long")).orderBy("rnk")


def _word_bigrams() -> Column:
    """Word bigrams tok[i] + ' ' + tok[i+1] over a column named ``tok``
    (expression-level, no UDF).  THE one definition of "bigram" for
    both repetition_stats and ngram_profile — their oracles replicate
    exactly this join-with-one-space form."""
    return F.expr(
        "transform(slice(tok, 1, greatest(size(tok) - 1, 0)),"
        " (x, i) -> concat(x, ' ', tok[i + 1]))"
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals, per document.

    The repeated-content family of training-corpus filters (Rae et al.
    2021 "Scaling Language Models" §A1.1): heavily repetitive documents
    are low-quality.  Emitted per doc:

    - ``n_tokens``, ``n_distinct_tokens`` and ``dup_token_frac`` =
      (n_tokens - n_distinct) / n_tokens — fraction of tokens that are
      repeats of an earlier token (bounded [0, 1));
    - ``top_bigram_count``, ``top_bigram`` (most frequent word
      2-gram, ties broken lexicographically smallest — deterministic)
      and ``top_bigram_ratio`` = top_bigram_count x len(top_bigram)
      / chars in the document.  This is occurrence-char MASS, not
      coverage: overlapping occurrences ("spam spam spam spam" has
      three of "spam spam") count shared characters once per
      occurrence, so the ratio exceeds 1.0 for tight repeats — by
      design, since saturating high is exactly the right behavior for
      a repetition filter threshold.

    Plan shape: one explode of per-doc bigram arrays → two-level
    groupBy with partial aggregation.  No UDFs, no driver loops; at
    100 TB this is a map-side-combined explode+agg keyed by doc_id —
    embarrassingly parallel, no skew (keys are unique doc ids).
    Ratios are exact-integer numerator/denominator with ONE double
    division (deterministic, oracle-comparable).
    """
    tok = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars_obs"),
        F.size(tok).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("long").alias("n_distinct_tokens"),
        tok.alias("tok"),
    )
    exploded = base.select(
        id_col, "n_chars_obs", "n_tokens", "n_distinct_tokens",
        F.explode_outer(_word_bigrams()).alias("bigram"),
    )
    counts = exploded.groupBy(id_col, "n_chars_obs", "n_tokens",
                              "n_distinct_tokens", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # deterministic argmax: max count, then lexicographically smallest
    # bigram — min_by on a (-cnt, bigram) struct orders exactly that.
    top = counts.groupBy(id_col, "n_chars_obs", "n_tokens",
                         "n_distinct_tokens").agg(
        F.min_by(
            F.struct(F.col("cnt"), F.col("bigram")),
            F.struct((-F.col("cnt")).alias("neg"), F.col("bigram")),
        ).alias("top")
    )
    has_bigram = F.col("top.bigram").isNotNull()
    top_cnt = F.when(has_bigram, F.col("top.cnt")).otherwise(F.lit(0)).cast("long")
    return top.select(
        id_col,
        "n_tokens",
        "n_distinct_tokens",
        F.when(
            F.col("n_tokens") > 0,
            (F.col("n_tokens") - F.col("n_distinct_tokens")).cast("double")
            / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)).alias("dup_token_frac"),
        top_cnt.alias("top_bigram_count"),
        F.col("top.bigram").alias("top_bigram"),
        F.when(
            has_bigram & (F.col("n_chars_obs") > 0),
            (top_cnt * F.length("top.bigram")).cast("double")
            / F.col("n_chars_obs"),
        ).otherwise(F.lit(0.0)).alias("top_bigram_ratio"),
    )


def ngram_profile(
    df: DataFrame, text_col: str, top_k: int = 25
) -> DataFrame:
    """Corpus-level top-k word-bigram frequency profile.

    The vocabulary/n-gram census every corpus build runs (and the
    input to contamination checks).  One explode → one groupBy(bigram)
    with map-side partial counts → global top-k via
    TakeOrderedAndProject (orderBy+limit, never a full sort at scale).
    Deterministic order: count desc, bigram asc.
    """
    return (
        df.select(tokens(F.col(text_col)).alias("tok"))
        .select(F.explode(_word_bigrams()).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("bigram"))
        .limit(top_k)
    )


def oov_rate(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int = 100
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus' own
    top-``vocab_size`` token vocabulary (tokenizer-coverage profiling:
    how much of each document a fixed vocab fails to cover).

    Two passes over the exploded tokens: (1) global token census →
    deterministic top-k vocab (count desc, token asc); (2) per-doc
    counts with the tiny vocab BROADCAST into the join — the corpus
    side never shuffles by token, only by doc id for the final agg.
    ``oov_frac`` is the single double division of two exact longs.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("token"))
        .limit(vocab_size)
        .select("token", F.lit(True).alias("_in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "token", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_oov"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_frac"),
        )
    )


def unigram_cross_entropy(
    df: "DataFrame", id_col: str, text_col: str, as_micronats: bool = False
) -> "DataFrame":
    """Per-document unigram cross-entropy against the corpus's own
    unigram LM — the classic cheap perplexity proxy for quality
    filtering (a doc of globally-rare tokens scores high, boilerplate
    scores low):

        xent(d) = -(1/|d|) * sum_t c_dt * ln(c_t / N)

    with c_dt the doc's token count, c_t the corpus count, N total
    corpus tokens (exact bigints).

    Reproducibility (oracle rule 1 applied to log-space): double
    addition is non-associative, so a groupBy SUM of double
    contributions would depend on partial-aggregate order. Instead
    each TERM's surprisal integer-izes once —
    ``CAST(ROUND(ln(c_t/N) * 1e6) AS BIGINT)`` micronats — and the
    per-doc sum is exact bigint arithmetic, order-free. Caveat: libm
    ``ln`` is NOT correctly rounded (typically <1 ulp error, not
    <=0.5), so a cross-engine 1-ulp divergence that lands exactly on a
    .5 micronat boundary could flip one rounded bigint. At 1e6 scaling
    that needs |ln * 1e6| within ~1e-10 of a half-integer AND the two
    engines' ln to differ across it — not observed over this corpus's
    full token census (verified Spark-vs-DuckDB in the q81 gate and
    tests), but it is a measured-agreement guarantee, not an IEEE
    proof; the same exposure and reasoning as q80's ln-based ordering.

    Scale: ONE explode/tokenize pass — census and corpus total derive
    from the doc-term counts (sum of exact bigints, identical values),
    so the raw text is scanned once, not three times. Then a
    key-shuffle join on token and one groupBy on the doc id. No
    window, no driver materialization.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    doc_counts = tok.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).cast("long").alias("c_dt")
    )
    census = doc_counts.groupBy("token").agg(
        F.sum("c_dt").cast("long").alias("c_t")
    )
    n_total = census.select(F.sum("c_t").cast("long").alias("n_corpus"))
    surprisal_micro = F.round(
        F.log(F.col("c_t").cast("double") / F.col("n_corpus").cast("double"))
        * 1e6
    ).cast("long")
    per_doc = (
        doc_counts.join(census, "token")
        .crossJoin(F.broadcast(n_total))
        .groupBy(id_col)
        .agg(
            F.sum("c_dt").alias("n_tokens"),
            F.sum(F.col("c_dt") * surprisal_micro).alias("sum_micronats"),
        )
    )
    if as_micronats:
        # exact-integer per-token cross-entropy (micronats, floor
        # division) — the form downstream INTEGER machinery consumes
        # (histogram calibration q183); no doubles anywhere, so the
        # value is engine-reproducible without a rounding caveat on
        # the final division
        xent_micro = F.expr("CAST((-sum_micronats) div n_tokens AS BIGINT)")
        return per_doc.select(
            F.col(id_col),
            F.col("n_tokens"),
            xent_micro.alias("xent_micro"),
        )
    xent = -(F.col("sum_micronats").cast("double") / 1e6) / F.col(
        "n_tokens"
    ).cast("double")
    return per_doc.select(
        F.col(id_col), F.col("n_tokens"), F.round(xent, 6).alias("xent")
    )


def linear_quality_classifier(
    features: DataFrame,
    weights_mu: dict[str, int],
    bias_mu: int,
) -> DataFrame:
    """Model-based quality filtering with a FIXED linear model — the
    classifier stage (fastText-style) of a corpus pipeline, distinct
    from the heuristic quality_score above: weights are trained
    offline and applied at scale as pure arithmetic.

    Engine-portable by construction: the four derived features are
    exact integers (permille / milli ratios via integer div, a capped
    count), weights are integer micro-units, so the logit is a BIGINT
    and keep/reject never hinges on a float rounding. Map-side only —
    the score adds zero shuffles to whatever produced the features.

    ``weights_mu`` keys: uniq_pm, stop_pm, len_cap, meanlen_milli.
    Input must carry text_features' columns (n_tokens,
    n_distinct_tokens, n_stopwords, sum_token_len).
    """
    nt = F.col("n_tokens")
    uniq_pm = F.when(nt == 0, F.lit(0)).otherwise(
        F.expr("(n_distinct_tokens * 1000) div n_tokens")
    )
    stop_pm = F.when(nt == 0, F.lit(0)).otherwise(
        F.expr("(n_stopwords * 1000) div n_tokens")
    )
    len_cap = F.least(nt, F.lit(200)).cast("long")
    ml_milli = F.when(nt == 0, F.lit(0)).otherwise(
        F.expr("(sum_token_len * 1000) div n_tokens")
    )
    logit = (
        F.lit(int(bias_mu)).cast("long")
        + F.lit(int(weights_mu["uniq_pm"])) * uniq_pm
        + F.lit(int(weights_mu["stop_pm"])) * stop_pm
        + F.lit(int(weights_mu["len_cap"])) * len_cap
        + F.lit(int(weights_mu["meanlen_milli"])) * ml_milli
    ).cast("long")
    return features.withColumn("logit_mu", logit).withColumn(
        "keep", F.col("logit_mu") >= F.lit(0)
    )


# ---------------------------------------------------------------------------
# BPE merge training (Sennrich et al., "Neural Machine Translation of
# Rare Words with Subword Units", ACL 2016 — public): learn the first
# n byte-pair-encoding merges from the corpus, in-engine. The one
# tokenizer stage an LLM data pipeline runs that was absent here
# (token counting, chunking and OOV scoring above all consume an
# EXISTING vocabulary; this one derives it).
# ---------------------------------------------------------------------------


def _bpe_pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over a (symbols, cnt) word-frequency
    state: per-row zip_with (zero shuffles) + one (l, r) groupBy whose
    key space is the SYMBOL-pair vocabulary, not the corpus."""
    pairs_arr = F.when(
        F.size("symbols") >= 2,
        F.slice(
            F.zip_with(
                "symbols",
                F.slice("symbols", 2, F.size("symbols")),
                lambda x, y: F.struct(x.alias("l"), y.alias("r")),
            ),
            1,
            F.size("symbols") - 1,
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        state.select(F.explode(pairs_arr).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").cast("long").alias("pair_count"))
    )


def _bpe_apply_merge(symbols: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping replacement of adjacent (left,
    right) with the concatenated symbol — the BPE merge fold: walking
    the symbol list, if the accumulator's last symbol is ``left`` and
    the current is ``right``, fuse them; else append. A run like
    [a,a,a,a] under merge (a,a) correctly becomes [aa,aa] (a string
    replace() would leave [aa,a,a] — delimiter sharing breaks
    adjacency, unit-tested)."""
    l_lit, r_lit = F.lit(left), F.lit(right)
    merged = F.lit(left + right)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == l_lit)
            & (x == r_lit),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges from the corpus:
    word-frequency table → per-word character symbols → iterate
    (count adjacent symbol pairs weighted by word frequency; merge the
    most frequent pair, ties broken lexicographically on (l, r)).
    Returns one row per merge: (rank, left, right, merged,
    pair_count) — the merge table a tokenizer consumes, in order.

    No end-of-word marker (documented divergence from some BPE
    variants: merges never cross word boundaries here either way, the
    marker only affects suffix-vs-prefix symbol identity).

    Scale (100 TB): the ONLY corpus-order stage is the initial word
    count (one tokenize + groupBy(word) — the same census shape as
    unigram_cross_entropy). Every iteration runs on the
    WORD-FREQUENCY table (|vocab| rows, corpus-independent): pair
    counting is per-row array arithmetic + a groupBy on the pair
    vocabulary, the argmax is a 1-row TakeOrderedAndProject, and the
    merge application is a pure per-row fold. Driver involvement per
    round is ONE collected row (scalar-sized, the sanctioned
    IVF-codebook pattern); merge application is LAZY — each round's
    pair-count job re-runs the ≤ 1 fold since
    the last lineage truncation (vocab-sized map work) instead of
    paying a materializing checkpoint action per round (r15; the fold
    chain references its predecessor ONCE, so re-execution is linear,
    not the exponential multi-reference blowup the CC loop must
    checkpoint against — bounded by the periodic eager
    localCheckpoint either way).

    The checkpoint cadence of 2 merges: the r16 adjudication of the r15
    driver-bench q209 regression ran the three-solo-run protocol on
    all three settings (3 fresh sessions × 3 bracketed reps each,
    SCALE.md r16 row). cp=2 read best-or-tied on both raw and
    anchor-normalized medians (raw means: cp=2 3.02 s, cp=4 3.24 s,
    cp=1 eager 3.25-4.02 s) — re-running at most ONE lazy fold per
    pair-count balances action count against fold re-execution."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    out: list[tuple[int, str, str, str, int]] = []
    # the round checkpoints are released on return: the merge table is
    # driver-held rows by then
    with storage.scope():
        # char split: substring(w, i, 1) per position (F.split(w, '')
        # yields a trailing empty string on some Spark versions — avoid)
        state = storage.checkpoint(words.select(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            .alias("symbols"),
            "cnt",
        ))
        for rank in range(1, n_merges + 1):
            top = (
                _bpe_pair_counts(state)
                .orderBy(F.desc("pair_count"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top:  # no pair left anywhere (all words fused to one symbol)
                break
            l, r, c = top[0].l, top[0].r, top[0].pair_count
            out.append((rank, l, r, l + r, c))
            state = state.select(
                _bpe_apply_merge(F.col("symbols"), l, r).alias("symbols"), "cnt"
            )
            if rank % 2 == 0 and rank < n_merges:
                state = storage.checkpoint(state)

    return local_frame(
        df.sparkSession,
        out,
        "rank bigint, left string, right string, merged string, pair_count bigint",
    )


def ref_lm_bigram_xent(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """CROSS-corpus LM quality filtering, the CCNet construction
    (Wenzek et al. 2020 -- public: score crawl documents by perplexity
    under a language model trained on a CURATED reference corpus; keep
    the low-perplexity head): an add-1-smoothed BIGRAM LM is "trained"
    (counted) on ``ref_df`` and every ``new_df`` document is scored by
    its per-token cross-entropy under it. Returns (id, n_tokens,
    xent_micro) -- micronats per token, LOWER = more reference-like.
    The in-engine counterpart of CCNet's KenLM stage at the bigram
    order; the cross-corpus complement of ``unigram_cross_entropy``
    (which scores a corpus against itself).

        P(cur | prev) = (c2(prev, cur) + 1) / (c1(prev) + V)

    with c2/c1 the reference bigram/context counts, V = |ref vocab|+1
    (add-1 headroom for unseen types -- the standard open-vocabulary
    hack; the distribution is improper on unseen curs, which a FILTER
    does not care about), and a per-document BOS sentinel (chr(1),
    not producible by whitespace tokenization of the corpora at hand;
    DuckDB replays it as chr(1)) so first tokens are conditioned too.
    Unseen prev contexts degrade to ln(1/V).

    Reproducibility: the xent/DSIR micronat rule -- each bigram's
    surprisal integer-izes ONCE (ROUND(ln*1e6)); per-doc sums and the
    final per-token division are exact BIGINT arithmetic, order-free.

    Scale: the reference is scanned once into two censuses (bigram,
    context) -- both linear in ref tokens, joined to the new side by
    key-shuffle equi-joins (never broadcast: a 100 TB reference's
    bigram census is itself large); the new side pays one tokenize
    pass. Score cost is linear in NEW tokens and independent of ref
    size beyond the censuses' one-time build -- cache or persist them
    via the returned plan when scoring repeated batches."""
    bos = chr(1)

    def _pairs(df: DataFrame) -> DataFrame:
        toks = tokens(F.lower(F.col(text_col)))
        prevs = F.concat(
            F.array(F.lit(bos)),
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        )
        return (
            df.filter(F.col(text_col).isNotNull())
            .select(
                F.col(id_col),
                F.explode(
                    F.arrays_zip(prevs.alias("prev"), toks.alias("cur"))
                ).alias("bg"),
            )
            # a TOKENLESS doc zips [bos] against [] and arrays_zip pads
            # with NULL — drop the pad so empty docs emit no bigrams
            # (and thus no score row), matching the SQL replay
            .filter(F.col("bg.cur").isNotNull())
            .select(id_col, "bg.prev", "bg.cur")
        )

    ref_pairs = _pairs(ref_df)
    c2 = ref_pairs.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    vocab = c2.select(F.countDistinct("cur").alias("__v"))

    new_pairs = _pairs(new_df)
    term_micro = F.round(
        F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("__v") + 1).cast(
                "double"
            )
        )
        * 1e6
    ).cast("long")
    return (
        new_pairs.join(c2, ["prev", "cur"], "left")
        .join(c1, "prev", "left")
        .crossJoin(F.broadcast(vocab))  # single-row aggregate
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(term_micro).alias("__s"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            F.expr("CAST((-__s) div n_tokens AS BIGINT)").alias("xent_micro"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    checkpoint_every: int = 8,
) -> DataFrame:
    """APPLY a trained BPE merge table (``bpe_merges`` output, rank
    order) and count the resulting tokens per document — the encode
    half of the tokenizer family, and the honest way to budget corpora
    in MODEL tokens rather than whitespace words (mixture fill, packing
    and DSIR all consume token counts; a whitespace count under-prices
    rare/long words that BPE splits). Returns (id, n_words,
    n_bpe_tokens).

    Plan shape — the fold runs on the VOCABULARY, not the corpus: the
    merge recursion applies per distinct word (|vocab| rows), each
    merge one left-to-right array fold (``_bpe_apply_merge``, the
    training fold reused verbatim), then documents join the word →
    token-count table by word. Corpus-order cost is ONE tokenize pass
    + one key-shuffle join; the M-merge recursion touches only vocab
    rows. ``merges`` is a driver-side list (the trained table is
    model-sized — the IVF-codebook collect pattern). Every
    ``checkpoint_every`` merges the vocab frame localCheckpoints:
    CollapseProject would otherwise fuse all M folds into one
    expression tree and janino's 64 KB method limit is real (the
    IVF-PQ ADC lesson)."""
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("__wc"))
    )
    state = words.select(
        "w",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .alias("symbols"),
    )
    for i, (l, r) in enumerate(merges):
        state = state.select(
            "w", _bpe_apply_merge(F.col("symbols"), l, r).alias("symbols")
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < len(merges):
            state = storage.checkpoint(state)
    word_tok = state.select("w", F.size("symbols").cast("long").alias("__n"))

    occ = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    return (
        occ.join(word_tok, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("__n").cast("long").alias("n_bpe_tokens"),
        )
    )


# literal-character ranges so ONE pattern string is valid in both
# Java/Spark regex and RE2/DuckDB (the \uXXXX vs \x{XXXX} escape
# spellings differ between the engines; the characters themselves
# do not): CJK Unified Ideographs U+4E00-U+9FFF. The space class is
# an EXPLICIT range, not \s — Java's \s matches U+000B (vertical
# tab) while RE2's does not, a latent Spark-vs-oracle parity break
# on any text containing VT (r11 advisor). [ \t-\r] = space plus
# tab..CR (tab, LF, VT, FF, CR), identical in both engines and a
# superset-consistent reading of "whitespace" for routing purposes.
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", r"[ \t-\r]"),
    ("cjk", "[一-鿿]"),
)


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document writing-system profile: codepoint counts per script
    class (latin / digit / whitespace / CJK, ``other`` = the
    complement) with ppm shares and a deterministic dominant-class
    label — the script-mix diagnostic that catches mojibake,
    mis-tagged languages and markup-heavy documents BEFORE the
    stopword lang-id (q18) runs (stopword profiles assume you already
    know the script; a 40%-CJK document scored against latin stopword
    lists classifies as noise). ppm shares are integer-ized once per
    class (micronat rule); dominance compares raw counts with fixed
    class precedence, so two engines agree on every tie.

    Scale: pure per-row regexp_count expressions inside whole-stage
    codegen — no shuffle, no UDF, no state; the profile is a map-side
    filter input for routing (latin docs → latin pipeline, mixed docs
    → transliteration review), exactly like quality_score."""
    text = F.col(text_col)
    total = F.length(text).cast("long")
    counts = {
        name: F.regexp_count(text, F.lit(pat)).cast("long")
        for name, pat in SCRIPT_CLASSES
    }
    known = None
    for c in counts.values():
        known = c if known is None else (known + c)
    counts["other"] = (total - known).cast("long")
    names = [n for n, _ in SCRIPT_CLASSES] + ["other"]
    sel = [
        F.col(id_col),
        total.alias("n_chars_total"),
        *[counts[n].alias(f"n_{n}") for n in names],
        *[
            F.when(total == 0, F.lit(0)).otherwise(
                F.round(F.lit(1_000_000.0) * counts[n] / total)
            ).cast("long").alias(f"{n}_ppm")
            for n in names
        ],
    ]
    dominant = F.when(total == 0, F.lit("empty"))
    for i, n in enumerate(names):
        cond = None
        for o in names[i + 1:]:
            c = counts[n] >= counts[o]
            cond = c if cond is None else (cond & c)
        if cond is not None:
            dominant = dominant.when(cond, F.lit(n))
        else:
            dominant = dominant.otherwise(F.lit(n))
    return df.select(*sel, dominant.alias("dominant_script"))


def line_repetition_stats(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style LINE-level repetition signals (Rae et al. 2021,
    arXiv:2112.11446 §A1.1, public — the MassiveText quality rules):
    duplicate-line fraction and duplicate-line CHARACTER fraction —
    the boilerplate/template filters real corpus pipelines apply
    (scraped navigation, cookie banners, stuck generators repeat whole
    lines; q60's repetition_stats covers the token/bigram axis of the
    same ruleset, quality q17 the vocabulary/length axis).

    - dup_line_frac: share of non-empty trimmed lines that repeat an
      earlier line (n_lines − distinct) / n_lines;
    - dup_line_char_frac: share of line CHARACTERS sitting in those
      repeat occurrences — Gopher thresholds both, because one long
      repeated line can dominate chars while barely moving the line
      count (and vice versa).

    Everything is per-row array arithmetic (line split, distinct, two
    length folds) — zero exchanges in the plan; ratios are int/int
    divides rounded to 6 (oracle rule). Empty/whitespace-only/NULL
    documents report zeros, not nulls. Lines split on ``\\r?\\n`` so
    CRLF corpora (Windows-origin scrapes) dedup identically to LF ones
    — trim() only strips spaces, so a bare-\\n split would leave a
    trailing ``\\r`` on every line and silently zero both signals.

    Returns (id, n_lines, n_dup_lines, dup_line_frac, n_line_chars,
    n_dup_line_chars, dup_line_char_frac)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(
        F.transform(F.split(text, "\r?\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    distinct = F.array_distinct(lines)

    def chars(arr: Column) -> Column:
        return F.aggregate(
            F.transform(arr, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    n_lines = F.size(lines).cast("long")
    n_dup = (n_lines - F.size(distinct)).cast("long")
    n_chars = chars(lines)
    n_dup_chars = (n_chars - chars(distinct)).cast("long")
    frac = lambda num, den: F.when(  # noqa: E731 — tiny local shaper
        den == 0, F.lit(0.0)
    ).otherwise(F.round(num.cast("double") / den.cast("double"), 6))
    return df.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        n_dup.alias("n_dup_lines"),
        frac(n_dup, n_lines).alias("dup_line_frac"),
        n_chars.alias("n_line_chars"),
        n_dup_chars.alias("n_dup_line_chars"),
        frac(n_dup_chars, n_chars).alias("dup_line_char_frac"),
    )
