"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, size)``: the same seed writes
byte-identical files, another seed writes different ones. The program
under test only ever sees the files written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Input sizes per scale. ``full`` is the benchmark; ``tiny`` is for its
#: own smoke tests.
SIZES = {
    "full": {
        "events": 60_000, "extra_days": 7, "delta_rows": 2_000,
        "batches": 8, "docs": 400, "shard_docs": 32, "shards": 8,
        "vectors": 600, "dim": 64,
    },
    "tiny": {
        "events": 20_000, "extra_days": 3, "delta_rows": 1_000,
        "batches": 6, "docs": 300, "shard_docs": 24, "shards": 6,
        "vectors": 400, "dim": 64,
    },
}

TYPES = np.array(["serve", "impression", "click", "purchase"])
TYPE_WEIGHTS = [0.4, 0.3, 0.2, 0.1]
COUNTRIES = np.array(["US", "JP", "DE", "IN", "BR", "FR", "UK", "KR"])
N_ADVERTISERS = 50
N_PUBLISHERS = 100
BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
#: Days the reference's own queries name (FIXTURES §3.1): always present
#: so its five queries as written read real rows.
REFERENCE_DAYS = ("2024-06-01", "2024-10-20", "2024-10-21", "2024-10-22",
                  "2024-10-23")

VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data vector customer join index shard plan cache disk page log "
    "record tuple node edge graph rank score"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so resizing one stream
    never shifts another."""
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


def _day_index(day: str) -> int:
    return int((np.datetime64(day) - np.datetime64("2024-01-01"))
               / np.timedelta64(1, "D"))


# ---------------------------------------------------------------- events


@dataclass
class EventInputs:
    base_csv: str
    delta_csvs: list[str]
    days: list[str]
    input_bytes: int


def _events_frame(rng: np.random.Generator, n: int, day_idx: np.ndarray,
                  id_offset: int) -> pd.DataFrame:
    day = day_idx[rng.integers(0, len(day_idx), n)]
    ts = BASE_MS + day * DAY_MS + rng.integers(0, DAY_MS, n)
    etype = TYPES[rng.choice(4, n, p=TYPE_WEIGHTS)]
    bid = np.where(etype == "impression",
                   np.round(rng.uniform(0.01, 2.0, n), 4), np.nan)
    total = np.where(etype == "purchase",
                     np.round(rng.uniform(1.0, 300.0, n), 2), np.nan)
    auction = rng.integers(0, max(n // 4, 1), n) + id_offset
    return pd.DataFrame({
        "ts": ts,
        "type": etype,
        "auction_id": [f"a{a:08d}" for a in auction],
        "advertiser_id": rng.integers(1, N_ADVERTISERS + 1, n),
        "publisher_id": rng.integers(1, N_PUBLISHERS + 1, n),
        "bid_price": bid,
        "user_id": rng.integers(1, max(n // 20, 2), n),
        "total_price": total,
        "country": COUNTRIES[rng.integers(0, len(COUNTRIES), n)],
    })


def write_events(root: str, seed: int, size: dict) -> EventInputs:
    """Base event CSV plus ``batches`` delta CSVs on the same days."""
    rng = _rng(seed, "days")
    ref = [_day_index(d) for d in REFERENCE_DAYS]
    pool = np.setdiff1d(np.arange(366), ref)
    extra = rng.choice(pool, size["extra_days"], replace=False)
    day_idx = np.sort(np.concatenate([ref, extra]))
    days = [str(np.datetime64("2024-01-01") + np.timedelta64(int(d), "D"))
            for d in day_idx]
    os.makedirs(root, exist_ok=True)
    base = os.path.join(root, "events_base.csv")
    _events_frame(_rng(seed, "events"), size["events"], day_idx, 0).to_csv(
        base, index=False)
    deltas = []
    for b in range(size["batches"]):
        path = os.path.join(root, f"events_delta_{b:02d}.csv")
        _events_frame(_rng(seed, f"delta{b}"), size["delta_rows"], day_idx,
                      10_000_000 * (b + 1)).to_csv(path, index=False)
        deltas.append(path)
    return EventInputs(base, deltas, days, os.path.getsize(base))


# ---------------------------------------------------------------- corpus


#: Query vectors per vector probe.
QUERIES_PER_PROBE = 4
#: Terms per BM25 probe.
PROBE_TERMS = 2
#: Probe query ids start here, clear of every corpus vector id (the
#: probe drops neighbours whose id equals the query's).
PROBE_ID_BASE = 1_000_000_000


@dataclass
class CorpusInputs:
    docs_parquet: str
    shard_parquets: list[str]
    vectors_parquet: str
    #: one batch of QUERIES_PER_PROBE vectors per shard, ``batch`` = index
    probes_parquet: str
    #: one term list per shard
    probe_terms: list[list[str]]
    input_bytes: int


def _text(rng: np.random.Generator) -> str:
    n = int(rng.integers(8, 40))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _mutate(rng: np.random.Generator, text: str) -> str:
    """Near-duplicate: swap a few words of ``text``."""
    words = text.split()
    for _ in range(int(rng.integers(1, 3))):
        words[int(rng.integers(0, len(words)))] = VOCAB[
            int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def _shuffled_kinds(rng: np.random.Generator, n: int, near: float,
                    exact: float) -> list[str]:
    """``n`` document kinds with fixed shares, in seeded order."""
    n_near, n_exact = round(n * near), round(n * exact)
    kinds = np.array(["near"] * n_near + ["exact"] * n_exact
                     + ["new"] * (n - n_near - n_exact))
    return [str(k) for k in rng.permutation(kinds)]


def _docs_table(ids: list[int], texts: list[str]) -> pa.Table:
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


def write_corpus(root: str, seed: int, size: dict) -> CorpusInputs:
    """Documents with near and exact duplicates, daily shards (new docs,
    near copies and verbatim re-crawls of corpus docs) and clustered
    embeddings."""
    os.makedirs(root, exist_ok=True)
    rng = _rng(seed, "docs")
    # Fixed shares per seed (15% near copies, 5% verbatim copies of an
    # earlier document, the rest new), so a seed changes the content and
    # not how much duplicate work there is.
    kinds = _shuffled_kinds(rng, size["docs"] - 10, near=0.15, exact=0.05)
    texts: list[str] = [_text(rng) for _ in range(10)]
    for kind in kinds:
        i = len(texts)
        if kind == "near":
            texts.append(_mutate(rng, texts[int(rng.integers(0, i))]))
        elif kind == "exact":
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_text(rng))
    docs = os.path.join(root, "documents.parquet")
    pq.write_table(_docs_table(list(range(len(texts))), texts), docs)

    shards = []
    next_id = 1_000_000
    for s in range(size["shards"]):
        srng = _rng(seed, f"shard{s}")
        ids, stexts = [], []
        for kind in _shuffled_kinds(srng, size["shard_docs"], near=0.3,
                                    exact=0.2):
            src = texts[int(srng.integers(0, len(texts)))]
            if kind == "exact":
                stexts.append(src)
            elif kind == "near":
                stexts.append(_mutate(srng, src))
            else:
                stexts.append(_text(srng))
            ids.append(next_id)
            next_id += 1
        path = os.path.join(root, f"shard_{s:02d}.parquet")
        pq.write_table(_docs_table(ids, stexts), path)
        shards.append(path)

    vrng = _rng(seed, "vectors")
    n, dim = size["vectors"], size["dim"]
    centers = vrng.normal(size=(16, dim))
    labels = vrng.integers(0, 16, n)
    vecs = (centers[labels] + 0.6 * vrng.normal(size=(n, dim))).astype(
        np.float32)
    vectors = os.path.join(root, "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }), vectors)

    # Probes: noisy copies of corpus vectors, and PROBE_TERMS vocabulary
    # terms.
    prng = _rng(seed, "probes")
    m = size["shards"] * QUERIES_PER_PROBE
    queries = (vecs[prng.integers(0, n, m)]
               + 0.3 * prng.normal(size=(m, dim))).astype(np.float32)
    probes = os.path.join(root, "probe_vectors.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(PROBE_ID_BASE + np.arange(m), pa.int64()),
        "batch": pa.array(np.arange(m) // QUERIES_PER_PROBE, pa.int64()),
        "embedding": pa.array(list(queries), pa.list_(pa.float32())),
    }), probes)
    terms = [[str(t) for t in prng.choice(VOCAB, PROBE_TERMS, replace=False)]
             for _ in range(size["shards"])]
    total = sum(os.path.getsize(p) for p in [docs, vectors] + shards)
    return CorpusInputs(docs, shards, vectors, probes, terms, total)


def read_vectors(path: str) -> np.ndarray:
    col = pq.read_table(path).column("embedding").combine_chunks()
    return np.asarray(col.flatten(), np.float32).reshape(len(col), -1)
