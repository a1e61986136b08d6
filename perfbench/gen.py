"""Seeded input generators for the benchmark workloads.

Every generator takes a ``seed`` and writes plain files; the engine
sees only those files. The same seed gives byte-identical inputs, so
``ensure_inputs`` caches them on disk per (workload, seed) and a
repeated run skips generation.

Sizes live in ``SIZES`` and are quoted in BENCHMARK.json and
perfbench/README.md. ``scale`` multiplies the row counts named in
``SCALED``, to see how the costs change with the data volume.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "lake_etl": {
        "months": 3,
        "i94_rows_per_month": 50_000,
        "i94_duplicate_share": 0.01,
        "demographic_cities": 600,
        "country_codes": 288,
        "temperature_rows": 3_000,
        "event_files": 6,
        "event_rows_per_file": 2_500,
    },
    "corpus_build": {
        "documents": 600,
        "near_dup_clusters": 40,
        "near_dup_cluster_size": 4,
        "boilerplate_share": 0.15,
        "embedding_dim": 64,
        "embedding_clusters": 20,
    },
}

# size keys that ``scale`` multiplies; the dims are at their real size
SCALED = {"lake_etl": ("i94_rows_per_month", "event_rows_per_file")}

# Bumped whenever a generator changes, so stale caches are not reused.
GENERATOR_VERSION = 1


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, int.from_bytes(salt.encode()[:8], "little")])


def sizes(workload: str, scale: int = 1) -> dict:
    if scale != 1 and workload not in SCALED:
        raise ValueError(f"{workload} has no scalable sizes")
    return {k: v * scale if k in SCALED.get(workload, ()) else v
            for k, v in SIZES[workload].items()}


def ensure_inputs(workload: str, seed: int, cache_root: str,
                  scale: int = 1) -> tuple[str, float]:
    """Return (input_dir, generation_seconds); 0.0 seconds on a cache hit.

    A cached directory is reused only if it was made with the current
    sizes; its ``_DONE`` marker records them."""
    s = sizes(workload, scale)
    tag = f"-x{scale}" if scale != 1 else ""
    out = os.path.join(cache_root, f"{workload}{tag}-seed{seed}-v{GENERATOR_VERSION}")
    try:
        with open(os.path.join(out, "_DONE")) as f:
            if json.load(f) == s:
                return out, 0.0
    except (OSError, ValueError):
        pass
    t0 = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](tmp, seed, s)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(s, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# lake_etl: raw I-94 months (sas7bdat + parquet twin), dim CSVs, events
# ---------------------------------------------------------------------------

_PORTS = ["HHW", "NYC", "LOS", "SFR", "MIA", "CHI", "ATL", "BOS", "SEA", "DAL",
          "HOU", "WAS", "NEW", "DET", "PHI", "ORL"]
_STATES = ["HI", "NY", "CA", "FL", "TX", "IL", "GA", "MA", "WA", "NJ", "PA",
           "MI", "AZ", "NV", "CO", "OR", "VA", "NC", "OH", "MN"]
_VISATYPES = ["WT", "B2", "F1", "WB", "B1", "E2", "F2", "M1"]
_AIRLINES = ["JL", "AA", "UA", "DL", "BA", "LH", "AF", "KE", "NH", "QF"]
_RACES = ["Hispanic or Latino", "White", "Asian", "Black or African-American",
          "American Indian and Alaska Native"]
_SAS_EPOCH = datetime(1960, 1, 1)


def i94_month(seed: int, month: int, n: int, dup_share: float) -> pd.DataFrame:
    """One month of raw I-94 records; ``dup_share`` of rows are exact
    duplicates of other rows (the fact build's dropDuplicates removes
    them)."""
    r = _rng(seed, f"i94-{month}")
    first_day = (datetime(2016, month, 1) - _SAS_EPOCH).days
    arr = first_day + r.integers(0, 28, n)
    stay = r.integers(0, 60, n).astype(float)
    dep = np.where(r.random(n) < 0.05, np.nan, arr + stay)
    bir = np.where(r.random(n) < 0.01, np.nan, r.integers(1, 90, n)).astype(float)
    df = pd.DataFrame({
        "cicid": (month * 10_000_000 + np.arange(n)).astype(float),
        "i94yr": np.full(n, 2016.0),
        "i94mon": np.full(n, float(month)),
        "i94cit": r.integers(100, 700, n).astype(float),
        "i94res": r.integers(100, 700, n).astype(float),
        "i94port": r.choice(_PORTS, n),
        "arrdate": arr.astype(float),
        "i94mode": r.choice([1.0, 2.0, 3.0, 9.0], n, p=[0.9, 0.04, 0.05, 0.01]),
        "i94addr": r.choice(_STATES, n),
        "depdate": dep,
        "i94bir": bir,
        "i94visa": r.choice([1.0, 2.0, 3.0], n, p=[0.2, 0.7, 0.1]),
        "count": np.ones(n),
        "dtadfile": np.array([f"2016{month:02d}{d:02d}" for d in r.integers(1, 29, n)]),
        "visapost": np.where(r.random(n) < 0.6, None, r.choice(["TKY", "OSA", "BNS"], n)),
        "entdepa": r.choice(["G", "O", "T"], n),
        "entdepd": r.choice(["O", "K", "R"], n),
        "matflag": r.choice(["M", "N"], n),
        "biryear": (2016 - np.nan_to_num(bir, nan=30)).astype(float),
        "dtaddto": r.choice(["07202016", "10292016", "D/S"], n),
        "gender": r.choice(["F", "M", "X"], n, p=[0.49, 0.49, 0.02]),
        "airline": r.choice(_AIRLINES, n),
        "admnum": r.integers(10**10, 10**11, n).astype(float),
        "fltno": np.array([f"{x:05d}" for x in r.integers(1, 9999, n)]),
        "visatype": r.choice(_VISATYPES, n),
    })
    n_dup = int(n * dup_share)
    if n_dup:
        src = r.choice(n, n_dup, replace=False)
        df = pd.concat([df, df.iloc[src]], ignore_index=True)
        df = df.iloc[r.permutation(len(df))].reset_index(drop=True)
    return df


def _events(r: np.random.Generator, first_id: int, n: int, t0: datetime) -> pa.Table:
    ts = [t0 + timedelta(seconds=float(s)) for s in np.sort(r.uniform(0, 86_400 * 5, n))]
    return pa.table({
        "event_id": pa.array(first_id + np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(r.choice(["click", "signup", "error", "view", "purchase"], n)),
        "value": pa.array(np.round(r.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def gen_lake_etl(out: str, seed: int, s: dict) -> None:
    from us_immigration_data_lake_spark.sources.sas7bdat_writer import write_sas7bdat

    for sub in ("i94", "i94_twin", "events"):
        os.makedirs(os.path.join(out, sub))
    for m in range(1, s["months"] + 1):
        df = i94_month(seed, m, s["i94_rows_per_month"], s["i94_duplicate_share"])
        write_sas7bdat(os.path.join(out, "i94", f"i94_2016_{m:02d}.sas7bdat"), df, "I94")
        # parquet twin of exactly the same records: the oracle side
        # (DuckDB cannot read sas7bdat)
        df.to_parquet(os.path.join(out, "i94_twin", f"i94_2016_{m:02d}.parquet"), index=False)

    r = _rng(seed, "dims")
    cities = s["demographic_cities"]
    rows = []
    for c in range(cities):
        st = _STATES[c % len(_STATES)]
        total = int(r.integers(50_000, 2_000_000))
        male = int(total * r.uniform(0.45, 0.55))
        stats = [f"{r.uniform(25, 45):.1f}", str(male), str(total - male), str(total),
                 str(int(total * r.uniform(0.02, 0.08))), str(int(total * r.uniform(0.05, 0.4))),
                 f"{r.uniform(2.0, 3.5):.2f}"]
        for race in _RACES[: int(r.integers(3, 6))]:
            rows.append([f"City {c}", f"State {st}", *stats, st, race,
                         str(int(total * r.uniform(0.01, 0.5)))])
    demo = pd.DataFrame(rows, columns=[
        "City", "State", "Median Age", "Male Population", "Female Population",
        "Total Population", "Number of Veterans", "Foreign-born",
        "Average Household Size", "State Code", "Race", "Count"])
    demo.to_csv(os.path.join(out, "us-cities-demographics.csv"), sep=";", index=False)

    codes = 100 + np.arange(s["country_codes"]) * 2
    names = [f"COUNTRY {i}" for i in range(s["country_codes"])]
    names[:3] = ["CHINA, PRC", "INVALID: CANADA", "BOSNIA-HERZEGOVINA"]
    pd.DataFrame({"Code": codes, "I94CTRY": names}).to_csv(
        os.path.join(out, "I94CIT_I94RES.csv"), index=False)
    n_t = s["temperature_rows"]
    temp_country = [n.title() if not n.startswith(("INVALID", "CHINA", "BOSNIA")) else "China"
                    for n in names]
    pd.DataFrame({
        "dt": [f"{1990 + i // 12}-{i % 12 + 1:02d}-01" for i in range(n_t)],
        "AverageTemperature": np.where(r.random(n_t) < 0.05, np.nan,
                                       np.round(r.uniform(-10, 35, n_t), 3)),
        "AverageTemperatureUncertainty": np.round(r.uniform(0.1, 2.0, n_t), 3),
        "City": [f"Town {i % 400}" for i in range(n_t)],
        "Country": [temp_country[i % 150] for i in range(n_t)],
        "Latitude": [f"{r.uniform(0, 60):.2f}N" for _ in range(n_t)],
        "Longitude": [f"{r.uniform(0, 120):.2f}E" for _ in range(n_t)],
    }).to_csv(os.path.join(out, "GlobalLandTemperaturesByCity.csv"), index=False)

    re_ = _rng(seed, "events")
    per = s["event_rows_per_file"]
    for i in range(s["event_files"]):
        pq.write_table(
            _events(re_, i * per, per, datetime(2024, 1, 1) + timedelta(days=5 * i)),
            os.path.join(out, "events", f"events_{i:03d}.parquet"))


# ---------------------------------------------------------------------------
# corpus_build: documents with planted structure, clustered embeddings
# ---------------------------------------------------------------------------

_LANG_VOCAB = {
    "en": "the a and of to is in it data query table join group order value scan "
          "stream window batch spark key line part row column filter sort merge",
    "de": "der die und das ist nicht mit daten abfrage tabelle gruppe wert fenster "
          "zeile spalte schluessel strom stapel sortieren filter teil",
    "fr": "le la et les des est dans donnees requete table groupe valeur fenetre "
          "ligne colonne cle flux lot trier filtre partie",
    "es": "el la y los las es en datos consulta tabla grupo valor ventana fila "
          "columna clave flujo lote ordenar filtro parte",
    "zh": "shu ju biao cha xun zu zhi chuang kou hang lie jian liu pi pai xu guo lv bu fen",
}
_BOILERPLATE = ("subscribe to our newsletter for weekly updates cookie policy "
                "terms of service all rights reserved")


def _doc_text(r: np.random.Generator, lang: str) -> str:
    vocab = _LANG_VOCAB[lang].split()
    return " ".join(r.choice(vocab, int(r.integers(20, 90))))


def _mutate(r: np.random.Generator, text: str, lang: str, edits: int) -> str:
    toks = text.split()
    vocab = _LANG_VOCAB[lang].split()
    for _ in range(edits):
        toks[int(r.integers(0, len(toks)))] = str(r.choice(vocab))
    return " ".join(toks)


def corpus_documents(seed: int, n: int) -> pd.DataFrame:
    s = SIZES["corpus_build"]
    r = _rng(seed, "docs")
    langs = r.choice(list(_LANG_VOCAB), n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    texts = [_doc_text(r, lang) for lang in langs]
    # planted near-duplicate clusters: a root and a few light edits of it
    k, size = s["near_dup_clusters"] * n // s["documents"], s["near_dup_cluster_size"]
    roots = r.choice(n, k, replace=False) if k else []
    free = np.setdiff1d(np.arange(n), roots)
    members = r.permutation(free)[: k * (size - 1)]
    for i, root in enumerate(roots):
        for j in members[i * (size - 1):(i + 1) * (size - 1)]:
            langs[j] = langs[root]
            texts[j] = _mutate(r, texts[root], langs[root], int(r.integers(1, 4)))
    # boilerplate segment appended to a share of documents
    for j in np.flatnonzero(r.random(n) < s["boilerplate_share"]):
        texts[j] = texts[j] + " " + _BOILERPLATE
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{x}" for x in r.integers(0, 8, n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def corpus_embeddings(seed: int, n: int) -> pa.Table:
    s = SIZES["corpus_build"]
    r = _rng(seed, "embeddings")
    dim, c = s["embedding_dim"], s["embedding_clusters"]
    centers = r.standard_normal((c, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = r.integers(0, c, n)
    noise = r.standard_normal((n, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vec = centers[label] + 0.8 * noise
    # planted semantic near-duplicates: every 10th vector copies its
    # predecessor with a small perturbation (cosine about 0.95)
    for i in range(1, n, 10):
        vec[i] = vec[i - 1] + 0.05 * r.standard_normal(dim)
        label[i] = label[i - 1]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def gen_corpus_build(out: str, seed: int, s: dict) -> None:
    n = s["documents"]
    docs = corpus_documents(seed, n)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(out, "documents.parquet"))
    pq.write_table(corpus_embeddings(seed, n), os.path.join(out, "embeddings.parquet"))


GENERATORS = {
    "lake_etl": gen_lake_etl,
    "corpus_build": gen_corpus_build,
}
