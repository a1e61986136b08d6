"""The workloads: their ops and expected outputs.

An op is one user-visible step. It makes one or more calls into the
engine's layers through ``Recorder.call`` and returns what it observed
(or a function that observes it after the timed region). ``expected``
computes the same value independently in DuckDB from the generated
files; the runner compares the two.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from dataclasses import astuple, dataclass, fields
from typing import Any, Callable

from pyspark.sql import functions as F

from us_immigration_data_lake_spark.operators import dedup, sampling, similarity, textstats, training
from us_immigration_data_lake_spark.pipelines import corpus
from us_immigration_data_lake_spark.pipelines import immigration as imm
from us_immigration_data_lake_spark.plans.queries import QUERIES
from us_immigration_data_lake_spark.quality import QualitySuite
from us_immigration_data_lake_spark.sources import (
    read_csv, read_parquet, register_sas_datasource, write_parquet,
)
from us_immigration_data_lake_spark.streaming.windows import incremental_ingest

from gen import SIZES
from oracle import DuckOracle, digest


@dataclass
class Op:
    name: str
    key: str  # ops with the same key must observe the same value
    fn: Callable[[], Any]


class Workload:
    name = ""

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs
        self.work = work
        self.spark = None
        self.rec = None
        self._duck: DuckOracle | None = None

    def prepare(self) -> None:
        """Per-session registration; part of set-up."""

    def pass_ops(self, p: int) -> list[Op]:
        raise NotImplementedError

    def oracle_tables(self) -> dict[str, str]:
        return {}

    @property
    def duck(self) -> DuckOracle:
        if self._duck is None:
            self._duck = DuckOracle(self.oracle_tables())
        return self._duck

    def expected(self, key: str):
        raise NotImplementedError

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()

    def written_files(self) -> tuple[int, int]:
        return 0, 0

    def out_bytes_per_in_byte(self) -> float | None:
        return None


def _collect_digest(df) -> Callable[[], tuple]:
    rows = df.collect()
    return lambda: digest(df.columns, [tuple(r) for r in rows])


def _stats_digest(stats) -> tuple:
    """Digest of a pipeline's stage-count dataclass as a one-row result."""
    return digest([f.name for f in fields(stats)], [astuple(stats)])


# ---------------------------------------------------------------------------
# lake_etl
# ---------------------------------------------------------------------------

QUALITY_NULL_CEILINGS = {"arrdate": 0.0, "i94bir": 0.05}


class LakeEtl(Workload):
    """Raw I-94 months to a curated, quality-checked, partitioned lake."""

    name = "lake_etl"

    def __init__(self, inputs, work):
        super().__init__(inputs, work)
        self.months = list(range(1, SIZES["lake_etl"]["months"] + 1))
        self.events = sorted(glob.glob(os.path.join(inputs, "events", "*.parquet")))
        self.last_lake: str | None = None

    def prepare(self) -> None:
        register_sas_datasource(self.spark)

    def _month(self, m: int, kind: str = "i94") -> str:
        ext = "sas7bdat" if kind == "i94" else "parquet"
        return os.path.join(self.inputs, kind, f"i94_2016_{m:02d}.{ext}")

    def pass_ops(self, p: int) -> list[Op]:
        base = os.path.join(self.work, f"pass{p}")
        shutil.rmtree(base, ignore_errors=True)
        lake = os.path.join(base, "lake")
        landing = os.path.join(base, "landing")
        os.makedirs(landing)
        self.last_lake = lake
        st: dict = {}
        half = len(self.events) // 2
        ops = []
        for m in self.months:
            ops += [
                Op(f"ingest.m{m}", f"ingest.{m}", lambda m=m: self._ingest(st, m)),
                Op(f"transform.m{m}", f"transform.{m}", lambda: self._transform(st)),
                Op(f"write.m{m}", f"write.{m}", lambda m=m: self._write(st, lake, m)),
            ]
        return ops + [
            Op("dims", "dims", lambda: self._dims(lake)),
            Op("events.backfill", "events.0",
               lambda: self._events(self.events[:half], landing, lake, base)),
            Op("events.append", "events.1",
               lambda: self._events(self.events[half:], landing, lake, base)),
            Op("readback", "readback", lambda: self._readback(lake)),
        ]

    def _ingest(self, st: dict, m: int) -> int:
        def load():
            raw = self.spark.read.format("sas7bdat").load(self._month(m)).persist()
            return raw, raw.count()

        st["raw"], n = self.rec.call("sources", load)
        return n

    def _transform(self, st: dict):
        raw = st["raw"]
        st["fact"] = self.rec.call("pipelines.immigration", imm.build_immigration_fact, raw)
        st["arrival"] = self.rec.call("pipelines.immigration", imm.build_arrival_date_dim, raw)
        suite = QualitySuite("immigration", unique_keys=[["cicid"]],
                             max_null_rate=QUALITY_NULL_CEILINGS)
        results = self.rec.call("quality", suite.run, st["fact"])
        rows = next(r.detail for r in results if r.check == "row_count")
        return all(r.passed for r in results), int(re.search(r"rows=(\d+)", rows).group(1))

    def _write(self, st: dict, lake: str, m: int):
        self.rec.call("sources", write_parquet, st["fact"], lake, "immigration",
                      mode="append", partition_by=["i94yr", "i94mon"])
        self.rec.call("sources", write_parquet, st["arrival"], lake, "arrival_date",
                      mode="append", partition_by=["date_year", "date_month"])
        st.pop("raw").unpersist()
        return lambda: self._written_month(lake, m)

    def _written_month(self, lake: str, m: int):
        imm = self.duck.digest(
            "SELECT cicid, arrdate, depdate, stay FROM read_parquet("
            f"'{lake}/immigration/*/*/*.parquet', hive_partitioning = true) "
            f"WHERE i94mon = {m}")
        dates = self.duck.scalar(
            f"SELECT count(*) FROM read_parquet('{lake}/arrival_date/*/*/*.parquet', "
            f"hive_partitioning = true) WHERE date_month = {m}")
        return imm, dates

    def _dims(self, lake: str):
        call, spark, d = self.rec.call, self.spark, self.inputs
        demo_raw = call("sources", read_csv, spark, f"{d}/us-cities-demographics.csv", sep=";")
        lookup = call("sources", read_csv, spark, f"{d}/I94CIT_I94RES.csv", infer_schema=True)
        temps = call("sources", read_csv, spark, f"{d}/GlobalLandTemperaturesByCity.csv",
                     infer_schema=True)
        demo = call("pipelines.immigration", imm.build_demographics, demo_raw)
        country = call("pipelines.immigration", imm.build_country, lookup, temps)
        call("sources", write_parquet, demo, lake, "demographics")
        call("sources", write_parquet, country, lake, "country")
        return lambda: (
            self.duck.row("SELECT count(*), sum(TotalPopulation) FROM "
                          f"read_parquet('{lake}/demographics/*.parquet')"),
            self.duck.scalar(f"SELECT count(*) FROM read_parquet('{lake}/country/*.parquet')"),
        )

    def _events(self, files: list[str], landing: str, lake: str, base: str) -> int:
        for f in files:
            shutil.copy(f, landing)
        return self.rec.call("streaming", incremental_ingest, self.spark,
                             f"{landing}/*.parquet", f"{lake}/events", f"{base}/checkpoint")

    def _readback(self, lake: str):
        def agg():
            df = read_parquet(self.spark, f"{lake}/immigration")
            return df.groupBy("i94mon").agg(
                F.count(F.lit(1)).alias("n"), F.sum("stay").alias("stay")).collect()

        rows = self.rec.call("sources", agg)
        return lambda: digest(["i94mon", "n", "stay"], [tuple(r) for r in rows])

    # -- oracle side --------------------------------------------------------

    def oracle_tables(self):
        return {"twin": os.path.join(self.inputs, "i94_twin")}

    def _fact_sql(self, where: str = "") -> str:
        def iso(c):
            return f"strftime(DATE '1960-01-01' + CAST({c} AS INTEGER), '%Y-%m-%d')"

        return (
            f"SELECT DISTINCT CAST(cicid AS INTEGER) AS cicid, CAST(i94mon AS INTEGER) AS i94mon, "
            f"{iso('arrdate')} AS arrdate, {iso('depdate')} AS depdate, "
            f"CAST(date_diff('day', DATE '1960-01-01' + CAST(arrdate AS INTEGER), "
            f"DATE '1960-01-01' + CAST(depdate AS INTEGER)) AS INTEGER) AS stay "
            f"FROM twin {where}")

    def expected(self, key: str):
        kind, _, arg = key.partition(".")
        d = self.duck
        if kind == "ingest":
            return d.scalar(f"SELECT count(*) FROM read_parquet('{self._month(int(arg), 'i94_twin')}')")
        if kind == "transform":
            src = f"read_parquet('{self._month(int(arg), 'i94_twin')}')"
            n, arr_nulls, bir_nulls, ids = d.row(
                "SELECT count(*), count(*) FILTER (WHERE arrdate IS NULL), "
                "count(*) FILTER (WHERE i94bir IS NULL), count(DISTINCT cicid) "
                f"FROM (SELECT DISTINCT * FROM {src})")
            passed = (n >= 1 and arr_nulls / n <= QUALITY_NULL_CEILINGS["arrdate"]
                      and bir_nulls / n <= QUALITY_NULL_CEILINGS["i94bir"] and ids == n)
            return passed, n
        if kind == "write":
            m = int(arg)
            imm = d.digest(f"SELECT cicid, arrdate, depdate, stay FROM "
                           f"({self._fact_sql(f'WHERE i94mon = {m}')})")
            dates = d.scalar(f"SELECT count(DISTINCT arrdate) FROM twin WHERE i94mon = {m}")
            return imm, dates
        if kind == "dims":
            demo = os.path.join(self.inputs, "us-cities-demographics.csv")
            lookup = os.path.join(self.inputs, "I94CIT_I94RES.csv")
            return (
                d.row(
                    "SELECT count(*), sum(tp) FROM (SELECT City, State, \"State Code\", "
                    "min(CAST(\"Total Population\" AS INTEGER)) AS tp FROM read_csv("
                    f"'{demo}', delim = ';', header = true, all_varchar = true) GROUP BY ALL)"),
                d.scalar(f"SELECT count(*) FROM read_csv('{lookup}', header = true)"),
            )
        if kind == "events":
            half = len(self.events) // 2
            files = self.events[:half] if arg == "0" else self.events[half:]
            return d.scalar(f"SELECT count(*) FROM read_parquet({files!r})")
        if kind == "readback":
            return d.digest(
                "SELECT i94mon, CAST(count(*) AS BIGINT) AS n, CAST(sum(stay) AS BIGINT) AS stay "
                f"FROM ({self._fact_sql()}) GROUP BY i94mon")
        raise KeyError(key)

    # -- sizes --------------------------------------------------------------

    def written_files(self) -> tuple[int, int]:
        """Parquet files under the last pass's lake, and their bytes."""
        files = glob.glob(os.path.join(self.last_lake, "**", "*.parquet"), recursive=True)
        return len(files), sum(os.path.getsize(f) for f in files)

    def out_bytes_per_in_byte(self) -> float | None:
        raw = sum(os.path.getsize(p) for p in (
            glob.glob(os.path.join(self.inputs, "i94", "*.sas7bdat"))
            + glob.glob(os.path.join(self.inputs, "*.csv")) + self.events))
        return self.written_files()[1] / raw


# ---------------------------------------------------------------------------
# corpus_build
# ---------------------------------------------------------------------------

# Each op calls public functions with the parameters of the registry
# entry named in its key, over the same ``documents`` / ``embeddings``
# tables, so that entry's DuckDB oracle checks the op's output. The one
# exception is the GD trainer, which runs GD_ROUNDS of q203's rounds:
# its oracle's round CTEs are cumulative, so round r's weights are the
# CTE ``w{r}`` of the same oracle.
EMBEDDING_DIM = 64
Q55_HASHES = Q55_BANDS = 8
Q181_BITS, Q181_TAU = 4, 0.35
Q182_CAP = 5
Q194_MERGES = 4
Q186_MIN_QUALITY = 0.46
Q203_BUCKETS, Q203_ROUNDS = 512, 8
GD_ROUNDS = 1
Q234_CAP, Q234_BINS, Q234_ALPHA = 18, 4, 0.3
Q237_EPOCHS = 2


class CorpusBuild(Workload):
    """The LLM-data path: the corpus build and its incremental update,
    near-dup pairs, semantic dedup, BPE, a GD trainer, the multi-epoch
    training order and a registry text query."""

    name = "corpus_build"

    def oracle_tables(self):
        return {t: os.path.join(self.inputs, f"{t}.parquet") for t in ("documents", "embeddings")}

    def _table(self, name: str):
        return self.rec.call("sources", read_parquet, self.spark,
                             os.path.join(self.inputs, f"{name}.parquet"))

    def pass_ops(self, p: int) -> list[Op]:
        return [
            Op("corpus.build", "q186_corpus_stats", self._corpus_build),
            Op("corpus.increment", "q200_incremental_corpus_update", self._corpus_increment),
            Op("dedup.near_dup_pairs", "q182_lsh_bucket_cap", self._near_dup_pairs),
            Op("similarity.semantic_dedup", "q181_semantic_dedup", self._semantic),
            Op("textstats.bpe", "q194_bpe_merges", self._bpe),
            Op("training.gd", "q203_train_quality_classifier", self._gd),
            Op("sampling.epochs", "q237_training_order_epochs", self._epochs),
            Op("plans.text_stats", "q16_text_stats", self._text_stats),
        ]

    def _corpus_build(self):
        docs = self._table("documents").filter(F.col("doc_id") < 100)
        _, st = self.rec.call(
            "pipelines.corpus", corpus.build_training_corpus, docs,
            min_quality=Q186_MIN_QUALITY, jaccard_threshold=0.055, chunk_tokens=50,
            overlap=10, max_bucket_size=Q182_CAP, scrub=False, shingle_n=2,
            num_hashes=Q55_HASHES, bands=Q55_BANDS, portable=True)
        return _stats_digest(st)

    def _corpus_increment(self):
        docs = self._table("documents").filter(F.col("doc_id") < 100)
        _, st = self.rec.call(
            "pipelines.corpus", corpus.update_corpus_increment,
            docs.filter(F.col("doc_id") % 2 == 1), docs.filter(F.col("doc_id") % 2 == 0),
            "doc_id", "text", min_quality=Q186_MIN_QUALITY, shingle_n=2,
            num_hashes=Q55_HASHES, bands=Q55_BANDS, threshold=0.055,
            max_bucket_size=Q182_CAP, portable=True)
        return _stats_digest(st)

    def _near_dup_pairs(self):
        docs = self._table("documents").filter(F.col("doc_id") < 100)
        return self.rec.call("operators.dedup", lambda: _collect_digest(
            dedup.near_dup_frames(
                docs, "doc_id", "text", shingle_n=2, num_hashes=Q55_HASHES, bands=Q55_BANDS,
                threshold=0.055, max_bucket_size=Q182_CAP, recover_oversized=True,
                portable=True)["pairs"]))

    def _semantic(self):
        emb = self._table("embeddings")
        return self.rec.call("operators.similarity", lambda: _collect_digest(
            similarity.semantic_dedup(
                emb, "vec_id", "embedding", threshold=Q181_TAU,
                dim=EMBEDDING_DIM, num_bits=Q181_BITS, max_bucket_size=None)))

    def _bpe(self):
        docs = self._table("documents")
        return self.rec.call("operators.textstats", lambda: _collect_digest(
            textstats.bpe_merges(docs, "text", n_merges=Q194_MERGES)))

    def _gd(self):
        docs = self._table("documents").filter(F.col("text").isNotNull())

        def train():
            # q203's label: more "hash" than "join" tokens
            toks = F.filter(F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+"),
                            lambda t: t != F.lit(""))
            labeled = docs.withColumn("__y", (
                F.size(F.filter(toks, lambda t: t == F.lit("hash")))
                > F.size(F.filter(toks, lambda t: t == F.lit("join")))).cast("long"))
            return _collect_digest(training.train_logreg_hashed(
                labeled, "doc_id", "text", "__y", num_buckets=Q203_BUCKETS, rounds=GD_ROUNDS))

        return self.rec.call("operators.training", train)

    def _epochs(self):
        docs = self._table("documents")
        scored = self.rec.call("operators.textstats", lambda: textstats.quality_score(
            textstats.text_features(docs, "doc_id", "text")))
        return self.rec.call("operators.sampling", lambda: _collect_digest(
            sampling.training_order_epochs(
                scored.select("doc_id", "n_tokens", "quality_score").join(
                    docs.select("doc_id", "source"), "doc_id"),
                "doc_id", "source", "quality_score", "n_tokens", cap=Q234_CAP,
                alpha=Q234_ALPHA, epochs=Q237_EPOCHS, n_bins=Q234_BINS)))

    def _text_stats(self):
        df = self.rec.call("plans", QUERIES["q16_text_stats"].fn, self.spark, self.inputs,
                           part="build")
        rows = self.rec.call("plans", df.collect, part="action")
        return lambda: digest(df.columns, [tuple(r) for r in rows])

    def expected(self, key: str):
        sql = QUERIES[key].oracle
        if key == "q203_train_quality_classifier":
            final = f"FROM w{Q203_ROUNDS}\n"
            if sql.count(final) != 1:
                raise ValueError("q203 oracle no longer ends at its last round CTE")
            sql = sql.replace(final, f"FROM w{GD_ROUNDS}\n")
        return self.duck.digest(sql)


WORKLOADS = {w.name: w for w in (LakeEtl, CorpusBuild)}
