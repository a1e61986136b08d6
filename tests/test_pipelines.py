"""End-to-end pipeline parity against the reference's OWN input files
(read-only at /root/reference — used as test data, never as code).

Expected values are derived from the reference's documented behavior
(FIXTURES.md §6, SURVEY.md §1.1), independently recomputed here with
pandas/duckdb where needed — not from running the reference."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from us_immigration_data_lake_spark.pipelines import (
    build_arrival_date_dim,
    build_country,
    build_demographics,
    build_demographics_state_rollup,
    build_immigration_fact,
)
from us_immigration_data_lake_spark.quality import QualitySuite, assert_all
from us_immigration_data_lake_spark.sources import read_csv

REF = "/root/reference"
needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference data not available"
)


@pytest.fixture(scope="module")
def demo_raw(spark):
    return read_csv(spark, f"{REF}/us-cities-demographics.csv", sep=";")


@pytest.fixture(scope="module")
def lookup_raw(spark):
    return read_csv(spark, f"{REF}/I94CIT_I94RES.csv", infer_schema=True)


@pytest.fixture(scope="module")
def imm_sample(spark):
    return read_csv(spark, f"{REF}/immigration_data_sample.csv", infer_schema=True)


@needs_ref
def test_demographics_city_grain(spark, demo_raw):
    demo = build_demographics(demo_raw)
    # city grain: one row per (City, State); the raw file repeats each
    # city once per Race
    n = demo.count()
    distinct_cities = demo_raw.select("City", "State").distinct().count()
    assert n == distinct_cities
    assert_all(
        QualitySuite(
            "demographics",
            min_rows=1,
            unique_keys=[["City", "State"]],
        ).run(demo)
    )


@needs_ref
def test_demographics_race_pivot_values(spark, demo_raw):
    demo = build_demographics(demo_raw)
    # independently recompute one city's pivot from the raw rows
    sil = demo.filter((F.col("City") == "Silver Spring") & (F.col("State") == "Maryland"))
    row = sil.collect()[0]
    raw_rows = demo_raw.filter(
        (F.col("City") == "Silver Spring") & (F.col("State") == "Maryland")
    ).collect()
    hisp = sum(int(r["Count"]) for r in raw_rows if r["Race"] == "Hispanic or Latino")
    assert row["HispanicOrLatino"] == hisp
    assert row["TotalPopulation"] == int(raw_rows[0]["Total Population"])
    assert row["StateCode"] == "MD"


@needs_ref
def test_demographics_nulls_filled(spark, demo_raw):
    demo = build_demographics(demo_raw)
    numeric = ["MalePopulation", "FemalePopulation", "NumberVeterans", "ForeignBorn",
               "AmericanIndianAndAlaskaNative", "Asian", "BlackOrAfricanAmerican",
               "HispanicOrLatino", "White"]
    nulls = demo.select(
        [F.sum(F.col(c).isNull().cast("int")).alias(c) for c in numeric]
    ).collect()[0]
    assert all(v == 0 for v in nulls.asDict().values())


@needs_ref
def test_demographics_state_rollup(spark, demo_raw):
    demo = build_demographics(demo_raw)
    states = build_demographics_state_rollup(demo)
    assert states.count() == demo.select("State").distinct().count()
    md_total = (
        demo.filter(F.col("StateCode") == "MD")
        .agg(F.sum("TotalPopulation")).collect()[0][0]
    )
    md_row = states.filter(F.col("StateCode") == "MD").collect()[0]
    assert md_row["TotalPopulation"] == md_total


@needs_ref
def test_immigration_fact_stay_and_dates(spark, imm_sample):
    fact = build_immigration_fact(imm_sample)
    assert fact.count() > 0
    row = fact.filter(F.col("cicid") == 4084316).collect()[0]
    # reference sample row: arrdate=20566 (2016-04-22), depdate=20573
    assert row["arrdate"] == "2016-04-22"
    assert row["depdate"] == "2016-04-29"
    assert row["stay"] == 7
    # dropped high-null columns are gone
    for dropped in ("visapost", "occup", "entdepu", "insnum", "admnum"):
        assert dropped not in fact.columns


@needs_ref
def test_arrival_date_dim(spark, imm_sample):
    dim = build_arrival_date_dim(imm_sample)
    rows = {r.iso_date.isoformat(): r for r in dim.collect()}
    assert dim.count() == imm_sample.where(F.col("arrdate").isNotNull()) \
        .select("arrdate").distinct().count()
    r = rows["2016-04-22"]
    assert r.sasdate == 20566
    assert r.date_year == 2016 and r.date_month == 4 and r.date_day == 22
    assert r.date_season == "spring"


@needs_ref
def test_country_without_temperatures(spark, lookup_raw):
    dim = build_country(lookup_raw)
    assert dim.count() == lookup_raw.count()
    names = {r.Code: r.Country for r in dim.collect()}
    assert names[582] == "Mexico"  # title-cased
    # recodes applied before title-casing
    assert "Invalid: Canada" not in names.values()


@needs_ref
def test_country_with_temperatures(spark, lookup_raw):
    temps = spark.createDataFrame(
        [
            ("2013-01-01", 21.5, "Mexico City", "Mexico", "19.43N", "99.13W"),
            ("2013-02-01", 23.5, "Guadalajara", "Mexico", "20.67N", "103.35W"),
            ("2013-01-01", None, "Toronto", "Canada", "43.65N", "79.38W"),
        ],
        ["dt", "AverageTemperature", "City", "Country", "Latitude", "Longitude"],
    )
    dim = build_country(lookup_raw, temps)
    mex = dim.filter(F.col("Code") == 582).collect()[0]
    assert mex.Temperature == pytest.approx(22.5)
    assert mex.Latitude == "19.43N"
    # Canada exists in lookup (via INVALID: CANADA recode) but its only
    # temperature row is null → no Temperature, name fallback applies
    can = [r for r in dim.collect() if r.Country == "Canada"]
    assert can and can[0].Temperature is None


def test_build_training_corpus_end_to_end(spark, tmp_path):
    from us_immigration_data_lake_spark.pipelines.corpus import build_training_corpus

    base = "the quick brown fox jumps over the lazy dog and runs away today again"
    docs = spark.createDataFrame(
        [
            (1, base),                                   # survivor
            (2, base),                                   # exact dup of 1
            (3, base.replace("today", "tomorrow")),      # near dup of 1
            (4, "completely different text about mountains rivers and valleys here"),
            (5, "x"),                                    # fails quality gate
        ],
        ["doc_id", "text"],
    )
    # gate at 0.5: a single-token doc scores ~0.43 (uniqueness ratio
    # dominates degenerate docs), real sentences score ~0.6-0.7
    corpus, stats = build_training_corpus(
        docs, min_quality=0.5, jaccard_threshold=0.5, chunk_tokens=8,
        overlap=2, out_dir=str(tmp_path),
    )
    assert stats.input_docs == 5
    assert stats.after_quality == 4          # doc 5 gated out
    assert stats.after_exact_dedup == 3      # doc 2 removed
    assert stats.after_near_dedup == 2       # doc 3 clustered under 1
    assert stats.oversized_lsh_buckets == 0  # no mega-bucket in this corpus
    rows = corpus.collect()
    assert {r.doc_id for r in rows} == {1, 4}
    assert all(r.split in ("train", "test") for r in rows)
    assert all(r.predicted_lang for r in rows)
    # partitioned layout on disk
    import os
    parts = os.listdir(os.path.join(str(tmp_path), "corpus"))
    assert any(p.startswith("split=") for p in parts)


def test_build_training_corpus_mega_bucket_observable(spark):
    from us_immigration_data_lake_spark.pipelines.corpus import build_training_corpus

    # three near-dup (not exact-dup, so they survive stage 3) docs that
    # share LSH buckets; with max_bucket_size=1 every shared bucket is a
    # "mega" bucket. The pipeline must report it AND still collapse the
    # cluster via anchor-star recovery instead of leaking duplicates.
    base = "the quick brown fox jumps over the lazy dog and runs away {} again"
    docs = spark.createDataFrame(
        [(i, base.format(w)) for i, w in ((1, "today"), (2, "tonight"), (3, "tomorrow"))]
        + [(4, "completely different text about mountains rivers and valleys here")],
        ["doc_id", "text"],
    )
    corpus, stats = build_training_corpus(
        docs, min_quality=0.4, jaccard_threshold=0.5, chunk_tokens=8,
        overlap=2, max_bucket_size=1,
    )
    assert stats.oversized_lsh_buckets > 0
    assert stats.after_near_dedup == 2
    assert {r.doc_id for r in corpus.select("doc_id").distinct().collect()} == {1, 4}


@needs_ref
def test_build_label_dims_from_reference_file(spark):
    from us_immigration_data_lake_spark.pipelines.immigration import (
        build_label_dims,
    )

    dims = build_label_dims(spark, f"{REF}/I94_SAS_Labels_Descriptions.SAS")
    assert set(dims) == {"country", "port", "mode", "state", "visa"}

    ports = {r.code: (r.port_name, r.port_state) for r in dims["port"].collect()}
    assert ports["ALC"] == ("ALCAN", "AK")
    assert ports["INT"] == ("INT'L FALLS", "MN")
    # facility annotations strip off the state code
    assert ports["SLS"] == ("SALINAS", "CA")
    assert ports["ASE"] == ("ASPEN", "CO")
    # 3-letter territory suffix is a code; a spelled-out country is not
    assert ports["SAI"] == ("SAIPAN", "SPN")
    assert ports["CUN"] == ("CANCUN, MEXICO", None)
    foreign = [s for n, s in ports.values() if s is None and "," in n]
    assert foreign, "expected foreign comma-bearing ports with null state"
    # every extracted state is a joinable 2-3 letter code
    assert all(s.isalpha() and 2 <= len(s) <= 3
               for _, s in ports.values() if s is not None)
    # sentinel entries carry no state
    no_state = [s for _, s in ports.values() if s is None]
    assert no_state, "expected some stateless sentinel ports"

    assert dims["mode"].count() == 4
    assert {r.code: r.label for r in dims["visa"].collect()} == {
        1: "Business", 2: "Pleasure", 3: "Student"}
    assert dims["country"].filter(F.col("code") == 582).count() == 1
    assert {r.code: r.label for r in dims["state"].collect()}["CA"] == "CALIFORNIA"


def test_corpus_scrub_and_decontamination_stages(spark):
    from us_immigration_data_lake_spark.pipelines.corpus import build_training_corpus

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [
            (1, base * 3),
            # contaminated: shares the benchmark's exact 5-grams
            (2, "leaked benchmark question about spark shuffles " * 4),
            # PII: the email must be scrubbed BEFORE the corpus ships
            # (distinct text — must NOT near-dup-collapse into doc 1)
            (3, "contact me at alice@example.com please send the "
                "quarterly report totals when the numbers settle " * 3),
        ],
        ["doc_id", "text"],
    )
    benchmark = spark.createDataFrame(
        [(100, "leaked benchmark question about spark shuffles")],
        ["doc_id", "text"],
    )
    corpus, stats = build_training_corpus(
        docs, min_quality=0.0, benchmark=benchmark, out_dir=None
    )
    ids = {r.doc_id for r in corpus.select("doc_id").distinct().collect()}
    assert 2 not in ids  # decontaminated away
    assert stats.after_decontamination == 2
    text_all = " ".join(r.chunk_text for r in corpus.collect())
    assert "alice@example.com" not in text_all
    # chunker lower-cases; the placeholder survives as [email]
    assert "[email]" in text_all


def test_update_embedding_increment_stages(spark):
    """Embedding-side weekly ingest: a new vector near-identical to the
    reference is dropped at the CROSS stage; a within-batch duplicate
    pair collapses to its smallest id at the WITHIN stage; a malformed
    (wrong-width) vector is dropped at the gate; every stage boundary
    is pinned in the stats."""
    import numpy as np

    from us_immigration_data_lake_spark.pipelines.corpus import (
        update_embedding_increment,
    )

    rng = np.random.RandomState(11)
    dim = 8
    ref_proto = rng.randn(dim)
    within_proto = rng.randn(dim)
    new_rows = [
        (1, (ref_proto + rng.randn(dim) * 0.001).tolist()),   # ~= reference
        (3, (within_proto + rng.randn(dim) * 0.001).tolist()),  # dup of 5
        (5, (within_proto + rng.randn(dim) * 0.001).tolist()),
        (7, rng.randn(dim).tolist()),                           # unique
        (9, [1.0, 2.0]),                                        # malformed
    ]
    ref_rows = [(0, ref_proto.tolist()), (2, rng.randn(dim).tolist())]
    new_df = spark.createDataFrame(new_rows, "vec_id long, embedding array<double>")
    ref_df = spark.createDataFrame(ref_rows, "vec_id long, embedding array<double>")

    final, st = update_embedding_increment(
        new_df, ref_df, threshold=0.9, dim=dim,
        num_bits=4,
    )
    assert (st.new_vectors, st.after_dim_gate) == (5, 4)  # 9 gated out
    assert st.after_cross_dedup == 3        # 1 dropped (ref near-dup)
    assert st.after_within_dedup == 2       # {3,5} collapse to 3
    assert {r.vec_id for r in final.collect()} == {3, 7}


_CORPUS_COLUMNS = [
    "doc_id", "chunk_idx", "chunk_start_token", "chunk_text", "n_tokens",
    "predicted_lang", "quality_score", "split",
]


def test_corpus_stage_counts_and_columns_pinned(spark, sf_dir):
    """The q186/q200 parameters on the smoke documents: every stage
    count of the build and of the increment, and the returned frames'
    column order, pinned to the values the join-based pipeline (id
    self-joins for the per-row features, a chunks ⋈ metadata join, one
    global aggregate per stage) produced."""
    from dataclasses import asdict

    from us_immigration_data_lake_spark.pipelines.corpus import (
        build_training_corpus,
        update_corpus_increment,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 100
    )
    lsh = dict(shingle_n=2, num_hashes=8, bands=8, max_bucket_size=5, portable=True)
    corpus, st = build_training_corpus(
        docs, min_quality=0.46, jaccard_threshold=0.055, chunk_tokens=50,
        overlap=10, scrub=False, **lsh,
    )
    assert asdict(st) == {
        "input_docs": 100, "after_quality": 76, "after_decontamination": 76,
        "after_exact_dedup": 76, "after_near_dedup": 21, "chunks": 27,
        "oversized_lsh_buckets": 13,
    }
    assert corpus.columns == _CORPUS_COLUMNS
    assert corpus.count() == 27

    final, ist = update_corpus_increment(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        "doc_id", "text", min_quality=0.46, threshold=0.055, **lsh,
    )
    assert asdict(ist) == {
        "new_docs": 50, "after_quality": 39, "after_cross_dedup": 10,
        "after_within_dedup": 9,
    }
    assert final.columns == docs.columns


def test_corpus_stage_counts_pinned_with_benchmark(spark):
    """With a benchmark the quality stage is counted separately from
    decontamination; an empty stage reads 0, not a missing key."""
    from dataclasses import asdict

    from us_immigration_data_lake_spark.pipelines.corpus import (
        _stage_counts,
        build_training_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    docs = spark.createDataFrame(
        [
            (1, base * 3),
            (2, "leaked benchmark question about spark shuffles " * 4),
            (3, "contact me at alice@example.com please send the "
                "quarterly report totals when the numbers settle " * 3),
        ],
        ["doc_id", "text"],
    )
    benchmark = spark.createDataFrame(
        [(100, "leaked benchmark question about spark shuffles")],
        ["doc_id", "text"],
    )
    corpus, st = build_training_corpus(docs, min_quality=0.0, benchmark=benchmark)
    assert asdict(st) == {
        "input_docs": 3, "after_quality": 3, "after_decontamination": 2,
        "after_exact_dedup": 2, "after_near_dedup": 2, "chunks": 2,
        "oversized_lsh_buckets": 0,
    }
    assert corpus.columns == _CORPUS_COLUMNS
    assert [(r.doc_id, r.predicted_lang, r.quality_score, r.split)
            for r in corpus.orderBy("doc_id").collect()] == [
        (1, "en", 0.483111, "train"), (3, "en", 0.497095, "train"),
    ]

    assert _stage_counts({"all": docs, "none": docs.filter("doc_id < 0")}) == {
        "all": 3, "none": 0,
    }
