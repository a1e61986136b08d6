"""In-engine model TRAINING over DataFrames — the complement of the
fixed-weight inference ops (textstats.linear_quality_classifier scores
with a model trained elsewhere; this module trains one in-engine, the
k-means / IVF-PQ-codebook / BPE precedent applied to classification).

Batch gradient-descent logistic regression over hashed token features
(the fastText-style hashing trick: Weinberger et al., ICML 2009), in
EXACT FIXED-POINT arithmetic so every round is bit-replayable by an
external SQL oracle:

- the sigmoid is the HARD sigmoid sigma(z) = clip(z/4 + 1/2, 0, 1)
  (the piecewise-linear form used throughout quantized-network
  training, e.g. Courbariaux et al. 2015) — evaluated as a BIGINT
  clamp, no transcendental, no float;
- probabilities live in quarter-micro units (p_qm = clamp(z_pm +
  2e6, 0, 4e6) = 4e6 * sigma(z_pm / 1e6)) so the division by 4 never
  happens — only the final update divides, by exact FLOOR division
  ((a - pmod(a, m)) / m, identical semantics in Spark and DuckDB);
- the learning rate decays 1/(r+1) (Robbins & Monro 1951) — measured
  necessary: the hard sigmoid's constant-slope gradient does not
  vanish near the optimum, and a fixed step oscillates around it
  (tests/test_training.py pins the divergence);
- the intercept is feature bucket -1 with x = 1 on every document
  (intercept-as-constant-feature), so scoring, gradients and updates
  are uniform over one (doc, bucket, cnt) frame.

Plan shape per round: ONE job — score (broadcast join of the <=
num_buckets-row weight frame + groupBy(doc)), error (per-row clamp
arithmetic), gradient (groupBy(bucket)), then a model-sized collect
(<= num_buckets+1 rows, the IVF-codebook-style sanctioned collect).
k rounds = k jobs over an eagerly CHECKPOINTED feature frame (not
merely cached — r13: a cached frame is an eviction away from
re-planning as raw lineage, and this module's union shape
double-counted gradients there; see hashed_token_features). At
100 TB: checkpoint the feature frame once (one tokenize scan), then
each round is one aggregate pass — textbook full-batch distributed
GD, with the model always driver-sized and broadcast back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.functions.hashing import md5_long
from us_immigration_data_lake_spark.operators import storage
from us_immigration_data_lake_spark.operators.dedup import spread_by_id
from us_immigration_data_lake_spark.operators.storage import local_frame

# Java's \s includes \x0B; RE2's (DuckDB) does not — explicit class
# keeps both engines tokenizing byte-for-byte alike (textstats note).
_WS = r"[ \t\n\x0B\f\r]+"


def hashed_token_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 512,
) -> DataFrame:
    """(id, bucket, cnt) hashed-unigram count features, plus the
    intercept row (bucket = -1, cnt = 1) per document. Buckets are
    pmod(md5_long(token), num_buckets) — md5-based so an external
    engine replays every bucket (functions/hashing.py). NULL-text
    rows are excluded (they have no token evidence to train on).

    The bias branch deliberately comes from the UNSPREAD input, NOT
    from the spread tokenize branch (r13 wrong-results root-cause):
    when BOTH union children end in RepartitionByExpression(id), the
    physical Union advertises the common hash partitioning, and a
    downstream aggregate on the id skips its exchange — but each id
    lives in TWO partitions (one per child), so the "final" aggregate
    emits duplicate groups. In the trainers that doubled every
    gradient whenever the feature frame was NOT cached (caching
    inserted the materialization barrier that masked the bug; a
    concurrent clearCache() or ordinary executor-memory eviction
    exposed it). The unspread bias child reports the scan's
    partitioning, the Union degrades to Unknown, and downstream
    aggregates shuffle correctly — and the doc-list exchange this
    branch used to pay disappears. plans/lint.py's
    union-partitioned-aggregate rule now flags the bad shape
    registry-wide."""
    filtered = df.filter(F.col(text_col).isNotNull())
    base = spread_by_id(filtered, id_col).select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), _WS),
            lambda t: t != F.lit(""),
        ).alias("__toks"),
    )
    feats = (
        base.select(F.col(id_col), F.explode("__toks").alias("__t"))
        .select(
            F.col(id_col),
            F.pmod(md5_long("__t"), F.lit(num_buckets)).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bias = filtered.select(
        F.col(id_col),
        F.lit(-1).cast("long").alias("bucket"),
        F.lit(1).cast("long").alias("cnt"),
    )
    return feats.unionByName(bias)


def _train_ovr_hashed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    classes: list[int],
    num_buckets: int,
    rounds: int,
    lr_den: int,
    decay: bool,
) -> dict[tuple[int, int], int]:
    """The one GD loop behind both trainers: an independent
    hard-sigmoid head per class k in ``classes`` with target
    ``label == k``, over ONE shared hashed feature frame. Returns the
    final weights ``{(k, bucket): w_pm}`` ({} when no document is
    labeled). The binary trainer is the single head k = 1 (its 0/1
    labels make ``label == 1`` the label itself), so both run the
    exact integer spec of train_logreg_hashed's docstring."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if lr_den < 1:
        raise ValueError(f"lr_den must be >= 1, got {lr_den}")
    spark = df.sparkSession
    # NULL labels are EXCLUDED from the training set (not just from the
    # gradient): a NULL y makes the error term NULL, which F.sum would
    # silently drop while the row still counted in n — shrinking every
    # update with no error raised (r8 advisor). Filtering here keeps n,
    # the features, and the gradient consistent: unlabeled docs simply
    # don't participate.
    labels = (
        df.filter(
            F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(F.col(id_col), F.col(label_col).cast("long").alias("__y"))
    )
    feats = hashed_token_features(df, id_col, text_col, num_buckets)
    class_arr = F.array(*[F.lit(k).cast("long") for k in classes])

    # EAGER localCheckpoint, not cache() (r13 wrong-results root-cause,
    # see hashed_token_features): a cached feature frame is an eviction
    # away from re-planning as the raw union lineage, whose falsely
    # co-partitioned shape double-counted every gradient — a routine
    # event under executor memory pressure at corpus scale (and
    # reproduced locally with a concurrent clearCache()). The
    # checkpoint truncates lineage to a LogicalRDD: the iteration reads
    # materialized rows, cannot be silently re-derived mid-train, and
    # every downstream aggregate plans its own exchange. The scope
    # releases both once the model is driver-held rows.
    with storage.scope():
        labels = storage.checkpoint(labels)
        feats = storage.checkpoint(feats)
        n = labels.count()
        w: dict[tuple[int, int], int] = {}
        if n == 0:
            return w
        target = F.lit(4_000_000) * (F.col("__y") == F.col("__k")).cast("long")
        for r in range(rounds):
            m = lr_den * 4 * n * ((r + 1) if decay else 1)
            if not w:
                # all weights are exactly 0 (round 0, always) ⇒ every
                # logit is exactly 0 and p_qm = clamp(0 + 2e6) = 2e6 —
                # the whole z pass (a feats scan + broadcast join +
                # groupBy) computes a constant. Emit the identical
                # error frame straight from labels instead (r15;
                # guide §1.2 "don't compute things you throw away").
                # Every labeled doc has the intercept feature row, so
                # the skipped inner join dropped no rows.
                err = labels.withColumn("__k", F.explode(class_arr)).select(
                    F.col(id_col),
                    F.col("__k"),
                    (target - F.lit(2_000_000)).alias("__e"),
                )
            else:
                wdf = local_frame(
                    spark,
                    [(k, b, v) for (k, b), v in w.items()],
                    "__k long, bucket long, __w long",
                )
                z = (
                    feats.withColumn("__k", F.explode(class_arr))
                    .join(F.broadcast(wdf), ["__k", "bucket"], "left")
                    .groupBy(id_col, "__k")
                    .agg(
                        F.sum(
                            F.coalesce(F.col("__w"), F.lit(0)) * F.col("cnt")
                        ).alias("__z")
                    )
                )
                err = labels.join(z, id_col).select(
                    F.col(id_col),
                    F.col("__k"),
                    (
                        target
                        - F.least(
                            F.lit(4_000_000),
                            F.greatest(
                                F.lit(0), F.col("__z") + F.lit(2_000_000)
                            ),
                        )
                    ).alias("__e"),
                )
            grad = (
                feats.join(err, id_col)
                .groupBy("__k", "bucket")
                .agg(F.sum(F.col("__e") * F.col("cnt")).alias("__g"))
                .collect()  # model-sized: <= len(classes)*(num_buckets+1)
            )
            for row in grad:
                # python // is floor division == the SQL pmod formula
                key = (row["__k"], row["bucket"])
                w[key] = w.get(key, 0) + row["__g"] // m
        return w


def train_logreg_hashed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    num_buckets: int = 512,
    rounds: int = 8,
    lr_den: int = 1,
    decay: bool = True,
) -> DataFrame:
    """Train hard-sigmoid logistic regression by full-batch gradient
    descent, entirely in exact BIGINT arithmetic (module docstring).
    Returns the final weight frame ``(bucket, w_pm)`` in micro-units —
    one row per feature bucket that appears in the corpus, intercept
    at bucket -1 — ready for a broadcast-join scorer (the
    linear_quality_classifier pattern).

    Per round r (0-based), with n = document count and
    M = lr_den * 4n * (r+1 if decay else 1):

        z_pm(d)  = sum_b w_pm[b] * cnt(d, b)           # BIGINT logit
        p_qm(d)  = clamp(z_pm + 2e6, 0, 4e6)           # 4e6 * hard-sigmoid
        e_qm(d)  = 4e6 * y(d) - p_qm(d)
        g[b]     = sum_d e_qm(d) * cnt(d, b)
        w_pm[b] += floor(g[b] / M)

    The /4n folds the qm->pm unit change and the mean-gradient
    normalization into one exact floor division. ``label_col`` must be
    0/1 — the model is the class-1 head of the one-vs-rest loop
    (_train_ovr_hashed). Every quantity is integer, so a pure-Python
    replay (and the q203 SQL oracle) matches bit-for-bit —
    tests/test_training.py."""
    w = _train_ovr_hashed(df, id_col, text_col, label_col, [1],
                          num_buckets, rounds, lr_den, decay)
    return local_frame(
        df.sparkSession,
        [(b, v) for (_, b), v in sorted(w.items())],
        "bucket long, w_pm long",
    )


def train_multinomial_logreg_hashed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    num_classes: int,
    num_buckets: int = 512,
    rounds: int = 8,
    lr_den: int = 1,
    decay: bool = True,
) -> DataFrame:
    """Train a MULTINOMIAL (one-vs-rest) hard-sigmoid logistic
    classifier — the lang-id-head shape — by full-batch gradient
    descent in the same exact BIGINT fixed-point spec as
    ``train_logreg_hashed`` (module docstring). ``label_col`` must be
    a class INDEX in [0, num_classes); NULL-label docs are excluded
    from n and the gradient entirely (the binary trainer's contract).
    Returns ``(class, bucket, w_pm)``: ``num_classes`` independent
    hard-sigmoid heads over the SHARED hashed feature frame, intercept
    at bucket -1. Predict = argmax over the per-class broadcast-join
    scores (ties break to the smallest class index).

    One-vs-rest rather than softmax deliberately: each head keeps the
    binary trainer's bit-replayable integer spec (a softmax needs a
    per-doc normalizing division — order-sensitive in fixed point),
    the K heads share one feature frame and one gradient pass, and
    OvR with argmax decoding is the standard linear lang-id
    construction (fastText's default loss is exactly independent
    binary logistics over shared hashed features).

    Plan shape per round: still ONE job — the per-doc score fans each
    feature row out over an in-row class-array explode (K×, no join,
    no extra shuffle key), the broadcast weight join carries (class,
    bucket), and the gradient groupBy is (class, bucket) with a
    model-sized collect (<= num_classes * (num_buckets+1) rows). k
    rounds = k aggregate passes over the checkpointed feature frame —
    the per-round cost is the binary trainer's with a K× map-side
    fan-out, not K separate training jobs."""
    if num_classes < 2:
        raise ValueError(f"num_classes must be >= 2, got {num_classes}")
    w = _train_ovr_hashed(df, id_col, text_col, label_col,
                          list(range(num_classes)), num_buckets, rounds,
                          lr_den, decay)
    return local_frame(
        df.sparkSession,
        [(k, b, v) for (k, b), v in sorted(w.items())],
        "class long, bucket long, w_pm long",
    )


def naive_bayes_model(
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    num_buckets: int = 512,
) -> dict[str, DataFrame]:
    """CLOSED-FORM multinomial Naive Bayes over hashed token features —
    the counting complement of the GD trainers (one aggregation pass
    IS the training; no rounds, no learning rate). Laplace add-1
    smoothing over the ``num_buckets`` hashed vocabulary. Returns

    - ``weights``: (class, bucket, w_micro) for every (class, bucket)
      OBSERVED in training — w_micro = round(ln((c_kb + 1) /
      (tot_k + B)) * 1e6) micronats;
    - ``classes``: (class, prior_micro, default_micro) per observed
      label — the log prior round(ln(n_k / n) * 1e6) and the UNSEEN-
      bucket log-likelihood round(ln(1 / (tot_k + B)) * 1e6).

    Log-space reproducibility follows the xent/DSIR micronat rule
    (textstats.py:unigram_xent): each term integer-izes ONCE via
    ROUND(ln(...)*1e6) — identical in Spark and DuckDB up to the
    documented sub-half-ulp caveat — and every downstream sum is exact
    BIGINT, order-free. NULL text or NULL label rows are excluded from
    training entirely (the GD trainers' contract). Classes never seen
    in training are absent from the model and can never be predicted.

    Scale: one tokenize scan + two key-shuffles (doc-feature groupBy,
    (class, bucket) groupBy); the model is <= K*(B+1) rows — broadcast
    material. At 100 TB this is the cheapest trainable classifier in
    the engine: strictly one pass, no iteration."""
    feats = hashed_token_features(df, id_col, text_col, num_buckets).filter(
        F.col("bucket") >= 0  # NB has no intercept feature
    )
    labels = df.filter(
        F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(id_col), F.col(label_col).cast("long").alias("class"))

    # kb is model-sized (≤ K·(B+1) rows) but its lineage is the full
    # tokenize+md5 feature pass — and FOUR consumers derive from it
    # (ktot, weights, classes via ktot, and the scorer's collected
    # classes/deltas broadcasts), each executing independently without
    # a materialization point. cache() cuts the corpus passes to one
    # (r15; measured on q206: the tokenize+hash CPU ran ~5× per run).
    kb = storage.cache(
        feats.join(labels, id_col)
        .groupBy("class", "bucket")
        .agg(F.sum("cnt").alias("c_kb"))
    )
    ktot = kb.groupBy("class").agg(F.sum("c_kb").alias("tot_k"))
    nk = labels.groupBy("class").agg(F.count(F.lit(1)).alias("n_k"))
    n_total = labels.agg(F.count(F.lit(1)).alias("n_all"))

    b = F.lit(num_buckets).cast("long")
    weights = kb.join(ktot, "class").select(
        "class",
        "bucket",
        F.round(
            F.log(
                (F.col("c_kb") + 1).cast("double")
                / (F.col("tot_k") + b).cast("double")
            )
            * 1e6
        )
        .cast("long")
        .alias("w_micro"),
    )
    classes = (
        nk.join(ktot, "class", "left")  # a class of empty texts: tot_k = 0
        .withColumn("tot_k", F.coalesce("tot_k", F.lit(0)))
        .crossJoin(F.broadcast(n_total))  # single-row aggregate
        .select(
            "class",
            F.round(
                F.log(F.col("n_k").cast("double") / F.col("n_all").cast("double"))
                * 1e6
            )
            .cast("long")
            .alias("prior_micro"),
            F.round(
                F.log(F.lit(1.0) / (F.col("tot_k") + b).cast("double")) * 1e6
            )
            .cast("long")
            .alias("default_micro"),
        )
    )
    return {"weights": weights, "classes": classes}


def naive_bayes_scores(
    df: DataFrame,
    model: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    num_buckets: int = 512,
) -> DataFrame:
    """Per-(doc, class) scores under a ``naive_bayes_model`` — the
    dense scoring frame ``(id, class, score_micro)`` that
    ``naive_bayes_classify`` argmaxes over, exposed so evaluation
    (roc_auc_exact on one class's head) and calibration can consume
    raw scores. score_micro = prior + sum_b tf_b * logP(b|class) in
    exact BIGINT micronats.

    Plan shape — the unseen-bucket default is algebraically folded so
    the grid join stays broadcast-sized:

        score(d,k) = prior_k + T_d * default_k
                     + sum_{b in d, (k,b) observed} tf_db * (w_kb - default_k)

    so the only per-token work is ONE broadcast join of the doc
    features against the model's observed (class, bucket) DELTAS,
    then a (doc, class) groupBy; the (doc x class) grid itself is an
    in-row explode of the driver-collected class list (model-sized,
    the IVF-codebook-style sanctioned collect). ``num_buckets`` must
    match the model build."""
    cls_rows = sorted(
        (r["class"], r["prior_micro"], r["default_micro"])
        for r in model["classes"].collect()  # model-sized: K rows
    )
    if not cls_rows:
        return local_frame(
            df.sparkSession, [], f"{id_col} long, class long, score_micro long"
        )
    # the feature frame feeds TWO subtrees of one plan (the obs join
    # and the per-doc total grid) — cache so the tokenize+md5 pass
    # runs once (r15; the dsir doc_counts precedent)
    all_feats = storage.cache(
        hashed_token_features(df, id_col, text_col, num_buckets)
    )
    # bias rows (bucket -1) don't score, but they keep TOKENLESS docs in
    # the grid: an empty text still gets a prediction (= argmax prior,
    # since T_d = 0 and nothing joins in s_obs)
    feats = all_feats.filter(F.col("bucket") >= 0)
    deltas = (
        model["weights"]
        .join(model["classes"], "class")
        .select(
            "class",
            "bucket",
            (F.col("w_micro") - F.col("default_micro")).alias("w_delta"),
        )
    )
    obs = (
        feats.join(F.broadcast(deltas), "bucket")
        .groupBy(id_col, "class")
        .agg(F.sum(F.col("cnt") * F.col("w_delta")).alias("s_obs"))
    )
    grid = (
        all_feats.groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("bucket") >= 0, F.col("cnt")).otherwise(0)
            ).alias("__t")
        )
        .select(
            F.col(id_col),
            F.col("__t"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(k).cast("long").alias("class"),
                        F.lit(p).cast("long").alias("prior_micro"),
                        F.lit(d).cast("long").alias("default_micro"),
                    )
                    for k, p, d in cls_rows
                ])
            ).alias("__c"),
        )
        .select(id_col, "__t", "__c.class", "__c.prior_micro",
                "__c.default_micro")
    )
    return (
        grid.join(obs, [id_col, "class"], "left")
        .select(
            F.col(id_col),
            F.col("class"),
            (
                F.col("prior_micro")
                + F.col("__t") * F.col("default_micro")
                + F.coalesce(F.col("s_obs"), F.lit(0))
            ).alias("score_micro"),
        )
    )


def naive_bayes_classify(
    df: DataFrame,
    model: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    num_buckets: int = 512,
) -> DataFrame:
    """Classify documents with a ``naive_bayes_model``: argmax over
    ``naive_bayes_scores`` (ties to the smallest class index);
    returns (id, pred_class, score_micro). Plan notes in
    naive_bayes_scores."""
    scored = naive_bayes_scores(df, model, id_col, text_col, num_buckets)
    # an empty model yields an empty scores frame; the argmax below
    # flows it through to an empty (id, pred_class, score_micro)
    best = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("score_micro"), (-F.col("class")).alias("__nk")))
        .alias("__best")
    )
    return best.select(
        F.col(id_col),
        (-F.col("__best.__nk")).alias("pred_class"),
        F.col("__best.score_micro").alias("score_micro"),
    )


def naive_bayes_classify_rowwise(
    df: DataFrame,
    model: dict[str, DataFrame],
    id_col: str,
    text_col: str,
    num_buckets: int = 512,
) -> DataFrame:
    """Classify with a ``naive_bayes_model`` as a PURE PER-ROW
    expression — the streaming-inference form. The model is collected
    (model-sized: K*(B+1) rows, the IVF-codebook pattern) and compiled
    into K DENSE literal weight arrays (unseen buckets hold the
    class's default log-likelihood), so scoring is K in-row folds over
    the token array plus an argmax chain:

        score_k = prior_k + sum_t w_k[pmod(md5(t), B)]

    ZERO joins, ZERO shuffles, ZERO aggregation — a streaming frame
    flows through unchanged and emits in append mode with no state
    (the q204 construction applied to inference). Identical results to
    ``naive_bayes_classify`` (same argmax, ties to smallest class);
    the batch form remains preferable when the corpus dwarfs the model
    and a shuffle join amortizes better than K folds per row — use
    this one for streams and small hot batches.

    B literal longs per class (dense array, element_at lookup) keeps
    the expression linear in B*K — at the default 512x5 that is well
    inside janino limits (the IVF-PQ ADC lesson says chunk ABOVE
    ~64k-term methods; 2.5k literals is two orders below)."""
    cls_rows = sorted(
        (r["class"], r["prior_micro"], r["default_micro"])
        for r in model["classes"].collect()  # model-sized
    )
    if not cls_rows:
        return local_frame(
            df.sparkSession, [], f"{id_col} long, pred_class long, score_micro long"
        )
    w = {
        (r["class"], r["bucket"]): r["w_micro"]
        for r in model["weights"].collect()  # model-sized
    }
    b = int(num_buckets)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), _WS),
        lambda t: t != F.lit(""),
    )
    scores = []
    for k, prior, default in cls_rows:
        arr = F.array(*[
            F.lit(int(w.get((k, bb), default))) for bb in range(b)
        ])
        fold = F.aggregate(
            toks,
            F.lit(int(prior)).cast("long"),
            lambda acc, t: acc
            + F.element_at(arr, (F.pmod(md5_long(t), F.lit(b)) + 1).cast("int")),
        )
        scores.append(
            F.struct(
                fold.alias("score_micro"),
                F.lit(-int(k)).cast("long").alias("__nk"),
            )
        )
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        (-best["__nk"]).alias("pred_class"),
        best["score_micro"].alias("score_micro"),
    )


def roc_auc_exact(
    df: DataFrame,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """EXACT distributed ROC-AUC of a binary classifier's scores — the
    evaluation leg of the training family (train q203/q205/q206 →
    score q160/q206/q210 → EVALUATE here). Mann-Whitney U with the
    standard tie correction (tied scores get their average rank),
    kept entirely in BIGINTs:

        2U      = sum_v pos(v) * (2*cum_before(v) + cnt(v) + 1)
                  - n_pos * (n_pos + 1)
        auc     = 2U / (2 * n_pos * n_neg)

    where v ranges over DISTINCT score values ascending, cnt/pos are
    the per-value row/positive counts and cum_before the running count
    of strictly-smaller rows. Returns one row: (n_pos, n_neg, auc_num,
    auc_den, auc) with auc_num/auc_den the exact rational (one double
    division at the end — two engines computing CDF ranks in doubles
    could tie-break differently; integers cannot). A degenerate input
    (no positives or no negatives) raises: AUC is undefined there and
    a silent 0.5 would hide a broken label pipeline.

    Scale: one groupBy over distinct scores (map-side combined), the
    two-phase ``global_cumsum`` for the rank prefix (range exchange +
    parallel partition cumsums — never a single-partition ORDER BY
    window), one final aggregate. NULL labels/scores are excluded;
    labels must be 0/1."""
    from us_immigration_data_lake_spark.operators.windows import global_cumsum

    base = df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(score_col).alias("__v"),
        F.col(label_col).cast("long").alias("__y"),
    )
    per_value = base.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.sum("__y").alias("__pos"),
    )
    cum = global_cumsum(per_value, ["__v"], ["__cnt"])
    totals = base.agg(
        F.sum("__y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("__y")).cast("long").alias("n_neg"),
    )
    guarded = totals.select(
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_neg") == 0),
            F.raise_error(
                F.lit("roc_auc_exact: need at least one positive AND one "
                      "negative label")
            ).cast("long"),
        ).otherwise(F.col("n_pos")).alias("n_pos"),
        F.col("n_neg"),
    )
    two_u = F.sum(
        F.col("__pos")
        * (2 * (F.col("__cnt_cum") - F.col("__cnt")) + F.col("__cnt") + 1)
    )
    return (
        cum.crossJoin(F.broadcast(guarded))  # single-row aggregate
        .groupBy("n_pos", "n_neg")
        .agg((two_u - F.col("n_pos") * (F.col("n_pos") + 1)).alias("auc_num"))
        .select(
            "n_pos",
            "n_neg",
            F.col("auc_num").cast("long").alias("auc_num"),
            (2 * F.col("n_pos") * F.col("n_neg")).cast("long").alias("auc_den"),
            F.round(
                F.col("auc_num").cast("double")
                / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
                6,
            ).alias("auc"),
        )
    )


def pr_auc_exact(
    df: DataFrame,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """EXACT distributed average precision (step-interpolated PR-AUC)
    of a binary classifier's scores — the second evaluation metric
    next to ``roc_auc_exact`` (r9 verdict ask #6: ROC-AUC is blind to
    class imbalance; on a 1:1000 filter head the PR curve is the one
    that moves). Thresholds sweep the DISTINCT scores descending;
    with cumulative-from-the-top counts tp(v) (positives scored >= v)
    and rank(v) (rows scored >= v):

        AP = sum_v pos(v)/n_pos * precision(v)
           = sum_v pos(v)/n_pos * tp(v)/rank(v)

    (each distinct score is one PR-curve step of recall-width
    pos(v)/n_pos at height precision(v) — sklearn's
    average_precision_score definition at distinct-value
    granularity, exact under ties). The per-step precision is the
    one non-integer; it integer-izes ONCE per distinct value — the
    micronat rule shared with xent/PSI —

        ap_micro = sum_v pos(v) * CAST(ROUND(1e6*tp(v)/rank(v)) AS BIGINT)
        ap       = ap_micro / (1e6 * n_pos)

    so the distributed sum is exact BIGINT adds (order-independent
    across partial aggregation) and an external engine replays it
    bit-for-bit. Returns one row: (n_pos, n_neg, ap_micro, ap).
    No positives raises (AP undefined — a silent 0 would hide a
    broken label pipeline); all-positives yields AP = 1 exactly.

    Scale (the roc_auc_exact story): one groupBy over distinct
    scores (map-side combined), the two-phase ``global_cumsum`` for
    the from-the-top prefixes (range exchange + parallel partition
    cumsums — never a single-partition ORDER BY window), one
    single-row totals broadcast, one final aggregate. NULL
    labels/scores are excluded; labels must be 0/1."""
    from us_immigration_data_lake_spark.operators.windows import global_cumsum

    base = df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(score_col).alias("__v"),
        F.col(label_col).cast("long").alias("__y"),
    )
    per_value = base.groupBy("__v").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.sum("__y").alias("__pos"),
    )
    # ascending inclusive prefixes; from-the-top (>= v) counts follow
    # by subtraction against the single-row totals
    cum = global_cumsum(per_value, ["__v"], ["__cnt", "__pos"])
    totals = base.agg(
        F.sum("__y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("__y")).cast("long").alias("n_neg"),
    )
    guarded = totals.select(
        F.when(
            F.col("n_pos") == 0,
            F.raise_error(
                F.lit("pr_auc_exact: need at least one positive label")
            ).cast("long"),
        ).otherwise(F.col("n_pos")).alias("n_pos"),
        F.col("n_neg"),
    )
    n_all = F.col("n_pos") + F.col("n_neg")
    tp = F.col("n_pos") - (F.col("__pos_cum") - F.col("__pos"))
    rank = n_all - (F.col("__cnt_cum") - F.col("__cnt"))
    prec_micro = F.round(
        F.lit(1000000.0) * tp.cast("double") / rank.cast("double")
    ).cast("long")
    return (
        cum.crossJoin(F.broadcast(guarded))  # single-row aggregate
        .groupBy("n_pos", "n_neg")
        .agg(F.sum(F.col("__pos") * prec_micro).cast("long").alias("ap_micro"))
        .select(
            "n_pos",
            "n_neg",
            "ap_micro",
            F.round(
                F.col("ap_micro").cast("double")
                / (F.lit(1000000.0) * F.col("n_pos").cast("double")),
                6,
            ).alias("ap"),
        )
    )


def calibration_bins(
    df: DataFrame,
    label_col: str,
    score_col: str,
    lo: int,
    width: int,
    n_bins: int,
) -> DataFrame:
    """Reliability-diagram bins for a binary classifier's scores —
    the calibration leg of the evaluation family (r9 verdict ask #6):
    per fixed score bin, how does the MEAN PREDICTED score compare to
    the EMPIRICAL positive rate? A well-calibrated head tracks the
    diagonal; a confident-but-wrong one doesn't, and neither AUC
    catches it (AUC is rank-only).

    Binning is the q213 PSI contract — bin = clamp(floor((score -
    lo)/width), 0, n_bins-1) with EXPLICIT lo/width/n_bins, so two
    snapshots' reliability tables are comparable by construction and
    the ECE-style |rate - mean| gap can be differenced across rounds.
    ALL n_bins rows are returned (empty bins with zero counts — a
    dashboard diffing tables needs a fixed axis), densified from a
    range frame exactly like psi_drift.

    Exactness: scores are integer micronats in this engine, so
    sum_score is an exact BIGINT; the two ratios (mean_score,
    pos_rate) are each ONE int/int double division, rounded to 6 —
    deterministic on both engines. Returns (bin, bin_lo, n, n_pos,
    sum_score, mean_score, pos_rate) ordered by bin.

    Scale: one groupBy over <= n_bins keys (map-side combined) and an
    n_bins-row densify join — nothing is corpus-order beyond the
    first scan. NULL labels/scores are excluded; labels must be 0/1."""
    if width < 1 or n_bins < 1:
        raise ValueError("width and n_bins must be >= 1")
    b = int(n_bins)
    spark = df.sparkSession
    binx = F.least(
        F.lit(b - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.col(score_col).cast("long") - F.lit(int(lo)))
                / F.lit(int(width))
            ),
        ),
    ).cast("long")
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        binx.alias("bin"),
        F.col(label_col).cast("long").alias("__y"),
        F.col(score_col).cast("long").alias("__s"),
    )
    per_bin = base.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("n_pos"),
        F.sum("__s").alias("sum_score"),
    )
    return (
        spark.range(b)
        .select(F.col("id").alias("bin"))
        .join(per_bin, "bin", "left")
        .select(
            "bin",
            (F.lit(int(lo)) + F.col("bin") * F.lit(int(width)))
            .cast("long").alias("bin_lo"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos"),
            F.coalesce("sum_score", F.lit(0)).cast("long").alias("sum_score"),
            F.when(
                F.coalesce("n", F.lit(0)) > 0,
                F.round(
                    F.col("sum_score").cast("double")
                    / F.col("n").cast("double"), 6
                ),
            ).alias("mean_score"),
            F.when(
                F.coalesce("n", F.lit(0)) > 0,
                F.round(
                    F.col("n_pos").cast("double") / F.col("n").cast("double"),
                    6,
                ),
            ).alias("pos_rate"),
        )
        .orderBy("bin")
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class confusion summary of a multiclass classifier — the
    multiclass leg of the evaluation family (binary: roc_auc_exact /
    pr_auc_exact; calibration: calibration_bins): for every class in
    truth ∪ predictions, (n_true, n_pred, tp) and the three derived
    ratios

        precision = tp / n_pred      (NULL when the class is never
                                      predicted — not a fake 0)
        recall    = tp / n_true      (NULL when absent from truth)
        f1        = 2·tp / (n_true + n_pred)

    each ONE exact int/int division rounded once — f1 in this form
    needs no precision/recall intermediates, so there is no compounded
    rounding. Micro-accuracy is sum(tp)/sum(n_true) of the returned
    frame; macro averages are a trivial driver-side mean over K rows.

    Scale: three map-side-combinable aggregations over at most K keys
    each plus K-sized joins — nothing is corpus-order beyond the one
    scan of the scored frame. NULL labels/predictions are excluded.
    Returns (class, n_true, n_pred, tp, precision, recall, f1)
    ordered by class."""
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(
        F.col(label_col).cast("long").alias("__y"),
        F.col(pred_col).cast("long").alias("__p"),
    )
    classes = (
        base.select(F.col("__y").alias("class"))
        .unionByName(base.select(F.col("__p").alias("class")))
        .distinct()
    )
    truth = base.groupBy(F.col("__y").alias("class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    pred = base.groupBy(F.col("__p").alias("class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    tp = (
        base.filter(F.col("__y") == F.col("__p"))
        .groupBy(F.col("__y").alias("class"))
        .agg(F.count(F.lit(1)).cast("long").alias("tp"))
    )
    rep = (
        classes.join(truth, "class", "left")
        .join(pred, "class", "left")
        .join(tp, "class", "left")
        .select(
            "class",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
    )
    return rep.select(
        "class", "n_true", "n_pred", "tp",
        F.when(
            F.col("n_pred") > 0,
            F.round(F.col("tp").cast("double") / F.col("n_pred").cast("double"), 6),
        ).alias("precision"),
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("tp").cast("double") / F.col("n_true").cast("double"), 6),
        ).alias("recall"),
        F.when(
            (F.col("n_true") + F.col("n_pred")) > 0,
            F.round(
                2 * F.col("tp").cast("double")
                / (F.col("n_true") + F.col("n_pred")).cast("double"),
                6,
            ),
        ).alias("f1"),
    ).orderBy("class")
