"""Seeded input generators for the benchmark workloads.

Every input the program sees is made here from the workload seed: the
star-schema stand-in for the survey export (orders, customer), the
existing-key snapshot, the xlsx exports, the document corpus with its
planted near-duplicates, the embeddings and query vectors, and the
ingest batches. The same seed gives byte-identical inputs.

Sizes live in ``SCALES``: ``bench`` is what the benchmark measures,
``tiny`` (the sf0.001 row counts of the repo's own fixtures) is what the
self-check runs.
"""

from __future__ import annotations

import dataclasses
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclasses.dataclass(frozen=True)
class Scale:
    orders: int            # feeder_wave: orders rows (customer = orders / 10)
    xlsx_files: int        # feeder_wave: xlsx exports per wave
    xlsx_rows: int         # feeder_wave: rows per xlsx export
    docs: int              # corpus_dedup: base documents
    vectors: int           # vector_search: corpus embeddings
    requests: int          # vector_search: distinct requests in the pool
    ingest_corpus: int     # ingest_stream: documents in the bootstrapped store
    ingest_batch: int      # ingest_stream: documents per batch
    ingest_batches: int    # ingest_stream: batches generated (a run stops after the last)


SCALES = {
    "bench": Scale(orders=30_000, xlsx_files=4, xlsx_rows=1_000, docs=2_000,
                   vectors=2_000, requests=64, ingest_corpus=200,
                   ingest_batch=20, ingest_batches=8),
    "tiny": Scale(orders=1_500, xlsx_files=2, xlsx_rows=100, docs=500,
                  vectors=500, requests=8, ingest_corpus=100,
                  ingest_batch=10, ingest_batches=2),
}

# Survey waves the feeder workload cycles through: a wave re-run
# overwrites its own lake partitions, so the lake stays bounded.
WAVES = (1, 2, 3, 4)
EXISTING_SHARE = 0.2      # share of order keys already loaded
UPSERT_NEW_SHARE = 0.1    # share of xlsx ids not yet in recruits_log
VOCAB = 4_000
DIM = 64
CLUSTERS = 16
QUERIES_PER_REQUEST = 8

_STATUSES = np.array(["F", "O", "P"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input, so resizing one input leaves the
    others unchanged for the same seed."""
    return np.random.default_rng([seed, *stream.encode()])


# --------------------------------------------------------------------------
# feeder_wave


def write_star(seed: int, scale: Scale, data_dir: str) -> None:
    """orders/customer parquet in the repo's canonical table layout
    (catalog.load_table reads them) plus the existing-key snapshot."""
    rng = _rng(seed, "star")
    n_cust = max(scale.orders // 10, 10)
    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    n = scale.orders
    keys = np.arange(n, dtype=np.int64)
    days = rng.integers(0, 7 * 365, n)
    orders = pa.table({
        "o_orderkey": pa.array(keys),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(_STATUSES, n, p=[0.49, 0.49, 0.02])),
        "o_totalprice": pa.array(np.round(rng.uniform(850.0, 560_000.0, n), 2)),
        "o_orderdate": pa.array(
            (np.datetime64("1992-01-01") + days.astype("timedelta64[D]"))
            .astype("datetime64[us]"), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n)),
    })
    existing = np.sort(rng.choice(keys, int(n * EXISTING_SHARE), replace=False))
    pq.write_table(cust, os.path.join(data_dir, "customer.parquet"))
    pq.write_table(orders, os.path.join(data_dir, "orders.parquet"))
    pq.write_table(pa.table({"o_orderkey": pa.array(existing)}),
                   os.path.join(data_dir, "existing.parquet"))


def write_wave_exports(seed: int, scale: Scale, xlsx_root: str) -> dict[int, dict[int, str]]:
    """Per wave, ``xlsx_files`` survey exports of (ID, q5010) rows — the
    add_q5010 updater's input. Every other file is a .zip wrapping the
    .xlsx, the reference's download shape. Returns the expected q5010
    per id for each wave (the upsert's correctness oracle)."""
    from cati_database_feeder_spark.sources.excel import write_xlsx_bytes

    expected: dict[int, dict[int, str]] = {}
    for wave in WAVES:
        rng = _rng(seed, f"xlsx{wave}")
        n = scale.xlsx_files * scale.xlsx_rows
        n_new = int(n * UPSERT_NEW_SHARE)
        old_ids = rng.choice(scale.orders, n - n_new, replace=False)
        new_ids = scale.orders + wave * n + np.arange(n_new)
        ids = rng.permutation(np.concatenate([old_ids, new_ids]))
        answers = rng.integers(1, 6, n)
        wave_dir = os.path.join(xlsx_root, f"wave{wave}")
        os.makedirs(wave_dir, exist_ok=True)
        expected[wave] = {}
        for f in range(scale.xlsx_files):
            sl = slice(f * scale.xlsx_rows, (f + 1) * scale.xlsx_rows)
            rows = [(str(int(i)), f"a{int(a)}-w{wave}") for i, a in zip(ids[sl], answers[sl])]
            expected[wave].update((int(i), v) for i, v in rows)
            payload = write_xlsx_bytes(["ID", "q5010"], rows)
            if f % 2:
                path = os.path.join(wave_dir, f"export{f}.zip")
                with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as zf:
                    zf.writestr(zipfile.ZipInfo("export.xlsx", (1980, 1, 1, 0, 0, 0)), payload)
            else:
                with open(os.path.join(wave_dir, f"export{f}.xlsx"), "wb") as fh:
                    fh.write(payload)
    return expected


# --------------------------------------------------------------------------
# documents (corpus_dedup, ingest_stream)


def _words(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < VOCAB:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


def _zipf_docs(rng: np.random.Generator, words: np.ndarray, n: int) -> list[list[str]]:
    """Zipf-distributed token streams of 20-120 tokens: random pairs
    share the common words but stay far below the 0.7 Jaccard cut."""
    p = 1.0 / np.arange(1, len(words) + 1) ** 1.05
    p /= p.sum()
    lens = rng.integers(20, 121, n)
    flat = rng.choice(len(words), int(lens.sum()), p=p)
    cuts = np.cumsum(lens)[:-1]
    return [list(words[chunk]) for chunk in np.split(flat, cuts)]


def plant(rng: np.random.Generator, words: np.ndarray, base: list[str], kind: str) -> list[str]:
    """A near-duplicate of ``base``:
    - ``exact``: the same text (exact_content_dedup must merge it);
    - ``shuffle``: the same tokens reordered — token-set Jaccard 1.0 and
      an identical SimHash, so MinHash-LSH and SimHash must both find it
      whatever the hash draws;
    - ``edit``: one token replaced — Jaccard ~0.95, found with high
      probability (its recall is reported, not required)."""
    if kind == "exact":
        return list(base)
    out = list(rng.permutation(base))
    if kind == "edit":
        out[int(rng.integers(len(out)))] = str(words[int(rng.integers(len(words)))]) + "x"
    return out


PLANT_MIX = (("exact", 0.02), ("shuffle", 0.04), ("edit", 0.04))


def corpus(seed: int, n: int, id_offset: int = 0) -> tuple[list[tuple[int, str]], dict]:
    """``n`` base documents plus planted near-duplicates at PLANT_MIX
    shares of ``n``. Returns (rows, plants) with plants[kind] = list of
    (base_id, dup_id)."""
    rng = _rng(seed, "docs")
    words = _words(rng)
    toks = _zipf_docs(rng, words, n)
    rows = [(id_offset + i, " ".join(t)) for i, t in enumerate(toks)]
    plants: dict[str, list[tuple[int, int]]] = {}
    next_id = id_offset + n
    for kind, share in PLANT_MIX:
        bases = rng.choice(n, max(1, int(n * share)), replace=False)
        plants[kind] = []
        for b in bases:
            rows.append((next_id, " ".join(plant(rng, words, toks[b], kind))))
            plants[kind].append((id_offset + int(b), next_id))
            next_id += 1
    return rows, plants


def ingest_batches(seed: int, scale: Scale, corpus_rows: list[tuple[int, str]]
                   ) -> list[list[tuple[int, str]]]:
    """Batches of fresh documents, a quarter of each batch being
    shuffled copies of stored corpus documents (guaranteed new pairs)."""
    rng = _rng(seed, "batches")
    words = _words(_rng(seed, "docs"))
    next_id = max(i for i, _ in corpus_rows) + 1
    out = []
    for _ in range(scale.ingest_batches):
        n_dup = max(1, scale.ingest_batch // 4)
        fresh = _zipf_docs(rng, words, scale.ingest_batch - n_dup)
        picks = rng.choice(len(corpus_rows), n_dup, replace=False)
        dups = [plant(rng, words, corpus_rows[p][1].split(), "shuffle") for p in picks]
        batch = []
        for toks in fresh + dups:
            batch.append((next_id, " ".join(toks)))
            next_id += 1
        out.append(batch)
    return out


def write_docs(rows: list[tuple[int, str]], path: str) -> None:
    ids, texts = zip(*rows)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)


# --------------------------------------------------------------------------
# embeddings (vector_search)


def embeddings(seed: int, scale: Scale) -> tuple[np.ndarray, np.ndarray]:
    """Clustered unit-scale embeddings and the request pool's query
    vectors (a corpus vector plus noise, so each query has a real
    neighbourhood). Returns (corpus[n, DIM], queries[requests*8, DIM])."""
    rng = _rng(seed, "emb")
    centers = rng.normal(0.0, 1.0, (CLUSTERS, DIM))
    member = rng.integers(0, CLUSTERS, scale.vectors)
    vecs = (centers[member] + rng.normal(0.0, 1.5, (scale.vectors, DIM))).astype(np.float32)
    n_q = scale.requests * QUERIES_PER_REQUEST
    anchor = rng.integers(0, scale.vectors, n_q)
    queries = (vecs[anchor] + rng.normal(0.0, 1.0, (n_q, DIM))).astype(np.float32)
    return vecs, queries


def ivf_centroids(vecs: np.ndarray, iterations: int = 2) -> list[tuple[int, list[float]]]:
    """The IVF index's coarse quantizer, trained offline: cells seeded by
    id modulo CLUSTERS, then Lloyd iterations (the recipe of the
    program's own train_ivf_centroids, run here so that set-up time is
    the program's serving set-up, not model training)."""
    v = vecs.astype(np.float64)
    cell = np.arange(len(v)) % CLUSTERS
    for it in range(iterations + 1):
        cents = np.stack([v[cell == c].mean(axis=0) for c in range(CLUSTERS)])
        if it < iterations:
            cell = ((v[:, None, :] - cents[None]) ** 2).sum(-1).argmin(axis=1)
    return [(c, [float(x) for x in cents[c]]) for c in range(CLUSTERS)]


def write_embeddings(vecs: np.ndarray, path: str) -> None:
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    }), path)
