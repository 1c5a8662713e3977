"""Seeded input generator for the benchmark workloads.

Uses numpy and pyarrow only, never the library under test, so the inputs
and the expected answers do not depend on the code being measured. Each
``make_*`` function writes parquet files under ``out_dir`` and returns a
plain dict: the file paths, the expected answers the workload checks
against, and the input size (rows, MB) it records.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# table_io: fact table (a BIGINT, b BIGINT, c DOUBLE, s STRING) partitioned
# by p STRING into 16 partitions, plus the slices the loop writes.
FACT_ROWS = 2_000_000
FACT_PARTS = 16
BULK_ROWS = 250_000  # rows per write_dynamic bulk load (all 16 partitions)
BULK_SLICES = 4
STATIC_ROWS = 50_000  # rows per static-partition write_table
STATIC_SLICES = 4

# ann_lifecycle: clustered 64-d embeddings.
DIM = 64
CLUSTERS = 32
LATENT = 8  # intrinsic dimension of the offsets around each cluster centre
ANN_BASE = 20_000  # even vec_ids 0, 2, ..., built into the index
ANN_APPEND = 500  # odd vec_ids per ivf_pq_append_to_index batch
ANN_APPEND_BATCHES = 40
ANN_QUERY = 100  # vectors per ivf_pq_query_index batch
ANN_QUERY_BATCHES = 24
ANN_K = 10
QUERY_ID_BASE = 100_000_000

# ingest_dedup: documents of WORDS words over a VOCAB-word vocabulary.
# The document shape and the duplicate mix are assumptions, not measured
# traffic; perfbench/README.md ("Assumptions") shows the gated times are
# not sensitive to them.
DOCS = 10_000
DOC_BATCH = 1_000
DOC_BATCHES = 24  # 1 warm-up tick, up to 22 timed, 1 kept for re-reads
WORDS = 30
VOCAB = 5_000
EXACT_SHARE = 0.10  # batch docs that copy a corpus doc verbatim
NEAR_SHARE = 0.10  # batch docs that copy a corpus doc with one word changed
INBATCH_SHARE = 0.02  # batch docs that copy an earlier fresh doc of the batch

MB = 1024 * 1024


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def _size_mb(paths) -> float:
    return sum(os.path.getsize(p) for p in paths) / MB


# -- table_io -----------------------------------------------------------------


KEYS = pa.array([f"k{i:05d}" for i in range(10_000)])
PARTS = pa.array([f"p{i:02d}" for i in range(FACT_PARTS)])


def _fact_rows(rng, n: int, part_idx: np.ndarray | None) -> pa.Table:
    cols = {
        "a": rng.integers(0, 1 << 40, n, dtype=np.int64),
        "b": rng.integers(0, 1_000_000, n, dtype=np.int64),
        "c": rng.random(n),
        "s": KEYS.take(pa.array(rng.integers(0, len(KEYS), n))),
    }
    if part_idx is not None:
        cols["p"] = PARTS.take(pa.array(part_idx))
    return pa.table(cols)


def _sums(t: pa.Table, mask: np.ndarray | None = None) -> dict:
    a, b, c = (t.column(k).to_numpy() for k in ("a", "b", "c"))
    if mask is not None:
        a, b, c = a[mask], b[mask], c[mask]
    return {"rows": len(a), "a": int(a.sum()), "b": int(b.sum()), "c": float(c.sum())}


def make_table_io(seed: int, out_dir: str) -> dict:
    rng = np.random.default_rng(seed)
    names = PARTS.to_pylist()
    pidx = np.arange(FACT_ROWS) % FACT_PARTS
    fact = _fact_rows(rng, FACT_ROWS, pidx)
    files = [_write(fact, f"{out_dir}/fact.parquet")]
    per_part = {n: _sums(fact, pidx == k) for k, n in enumerate(names)}
    bulk, static = [], []
    for i in range(BULK_SLICES):
        bidx = rng.integers(0, FACT_PARTS, BULK_ROWS)
        files.append(_write(_fact_rows(rng, BULK_ROWS, bidx), f"{out_dir}/bulk{i}.parquet"))
        counts = np.bincount(bidx, minlength=FACT_PARTS)
        bulk.append({"path": files[-1], "part_rows": dict(zip(names, counts.tolist()))})
    for i in range(STATIC_SLICES):
        t = _fact_rows(rng, STATIC_ROWS, None)
        files.append(_write(t, f"{out_dir}/static{i}.parquet"))
        static.append(dict(_sums(t), path=files[-1]))
    return {
        "fact": files[0],
        "partitions": names,
        "per_part": per_part,
        "total": _sums(fact),
        "bulk": bulk,
        "static": static,
        "columns": ["a", "b", "c", "s", "p"],
        "input_rows": FACT_ROWS + BULK_SLICES * BULK_ROWS + STATIC_SLICES * STATIC_ROWS,
        "input_mb": _size_mb(files),
    }


# -- ann_lifecycle ------------------------------------------------------------


def _vectors(rng, centres: np.ndarray, basis: np.ndarray, n: int) -> np.ndarray:
    """Cluster centre plus a low-rank offset plus a little isotropic noise:
    real embeddings have a low intrinsic dimension, which is what lets an
    IVF-PQ index find their neighbours at all."""
    labels = rng.integers(0, len(centres), n)
    latent = rng.normal(size=(n, basis.shape[0]))
    return centres[labels] + latent @ basis + 0.1 * rng.normal(size=(n, DIM))


def _vec_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float64).ravel())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32)), flat
    )
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb})


def make_ann(seed: int, out_dir: str) -> dict:
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(CLUSTERS, DIM)) * 4.0
    basis = rng.normal(size=(LATENT, DIM))
    base_ids = np.arange(0, 2 * ANN_BASE, 2, dtype=np.int64)
    base_vecs = _vectors(rng, centres, basis, ANN_BASE)
    files = [_write(_vec_table(base_ids, base_vecs), f"{out_dir}/ann_base.parquet")]
    appends = []
    for i in range(ANN_APPEND_BATCHES):
        ids = np.arange(1 + 2 * ANN_APPEND * i, 2 * ANN_APPEND * (i + 1), 2, dtype=np.int64)
        vecs = _vectors(rng, centres, basis, ANN_APPEND)
        files.append(_write(_vec_table(ids, vecs), f"{out_dir}/ann_app{i}.parquet"))
        appends.append({"path": files[-1], "ids": ids, "vecs": vecs})
    queries = []
    for i in range(ANN_QUERY_BATCHES):
        ids = QUERY_ID_BASE + np.arange(ANN_QUERY * i, ANN_QUERY * (i + 1), dtype=np.int64)
        vecs = _vectors(rng, centres, basis, ANN_QUERY)
        files.append(_write(_vec_table(ids, vecs), f"{out_dir}/ann_q{i}.parquet"))
        queries.append({"path": files[-1], "ids": ids, "vecs": vecs})
    return {
        "base": files[0],
        "base_ids": base_ids,
        "base_vecs": base_vecs,
        "appends": appends,
        "queries": queries,
        "k": ANN_K,
        "input_rows": len(base_ids) + ANN_APPEND * ANN_APPEND_BATCHES
        + ANN_QUERY * ANN_QUERY_BATCHES,
        "input_mb": _size_mb(files),
    }


def brute_force_topk(corpus_ids, corpus_vecs, query_vecs, k: int) -> np.ndarray:
    """Exact top-k corpus ids per query row by cosine similarity, the
    score IVF-PQ's asymmetric distance approximates."""
    q = query_vecs / np.linalg.norm(query_vecs, axis=1, keepdims=True)
    c = corpus_vecs / np.linalg.norm(corpus_vecs, axis=1, keepdims=True)
    idx = np.argpartition(-(q @ c.T), k, axis=1)[:, :k]
    return corpus_ids[idx]


# -- ingest_dedup -------------------------------------------------------------


def _docs(rng, vocab: np.ndarray, n: int) -> list[str]:
    return [" ".join(r) for r in vocab[rng.integers(0, len(vocab), (n, WORDS))]]


def make_ingest(seed: int, out_dir: str) -> dict:
    """Corpus plus batches with planted duplicates.

    Per batch: EXACT_SHARE docs copy a corpus doc verbatim, NEAR_SHARE
    copy one with a single word replaced by a word outside the corpus
    vocabulary (so the text differs), INBATCH_SHARE copy an earlier
    fresh doc of the same batch, and the rest are fresh. Every fresh doc
    is unique over the whole run, so the exact-dedup survivors of a
    batch are its fresh docs, its near-dups, and nothing else; the
    expected set does not depend on which earlier batches were ingested.
    The survivors' rows are also written out (``accepted``), so the
    workload appends them without computing them itself.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i:05d}" for i in range(VOCAB)])
    texts = _docs(rng, vocab, DOCS)
    if len(set(texts)) != DOCS:
        raise RuntimeError("generator produced colliding corpus docs")
    files = [
        _write(
            pa.table({"doc_id": pa.array(np.arange(DOCS), pa.int64()), "text": texts}),
            f"{out_dir}/corpus.parquet",
        )
    ]
    seen = set(texts)
    batches = []
    next_id = DOCS
    n_exact = int(DOC_BATCH * EXACT_SHARE)
    n_near = int(DOC_BATCH * NEAR_SHARE)
    n_inb = int(DOC_BATCH * INBATCH_SHARE)
    n_fresh = DOC_BATCH - n_exact - n_near - n_inb
    for i in range(DOC_BATCHES):
        fresh = _docs(rng, vocab, n_fresh)
        if len(set(fresh)) != n_fresh or seen.intersection(fresh):
            raise RuntimeError("generator produced colliding fresh docs")
        seen.update(fresh)
        src_exact = rng.choice(DOCS, n_exact, replace=False)
        src_near = rng.choice(DOCS, n_near, replace=False)
        near = []
        for j in src_near:
            words = texts[j].split(" ")
            words[rng.integers(0, WORDS)] = f"n{i:03d}x{len(near):05d}"
            near.append(" ".join(words))
        src_inb = rng.choice(n_fresh, n_inb, replace=False)
        docs = (
            fresh
            + [texts[j] for j in src_exact]
            + near
            + [fresh[j] for j in src_inb]
        )
        ids = np.arange(next_id, next_id + DOC_BATCH, dtype=np.int64)
        next_id += DOC_BATCH
        order = rng.permutation(DOC_BATCH)
        ids_by_pos = np.empty(DOC_BATCH, dtype=np.int64)
        ids_by_pos[order] = ids  # docs[k] gets id ids_by_pos[k]
        # exact-dedup survivors: fresh and near docs; a text repeated inside
        # the batch keeps its smallest id
        first_id: dict[str, int] = {}
        for pos in range(n_fresh):
            first_id[docs[pos]] = int(ids_by_pos[pos])
        for pos, j in enumerate(src_inb, start=DOC_BATCH - n_inb):
            first_id[fresh[j]] = min(first_id[fresh[j]], int(ids_by_pos[pos]))
        survivors = set(first_id.values())
        survivors.update(int(x) for x in ids_by_pos[n_fresh + n_exact:n_fresh + n_exact + n_near])
        planted = {
            (int(ids_by_pos[n_fresh + k]), int(j)) for k, j in enumerate(src_exact)
        } | {
            (int(ids_by_pos[n_fresh + n_exact + k]), int(j)) for k, j in enumerate(src_near)
        }
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [docs[k] for k in np.argsort(ids_by_pos)],
            }
        )
        files.append(_write(table, f"{out_dir}/batch{i}.parquet"))
        keep = pa.array(np.isin(ids, np.fromiter(survivors, np.int64)))
        accepted = _write(table.filter(keep), f"{out_dir}/batch{i}_accepted.parquet")
        batches.append(
            {
                "path": files[-1],
                "accepted": accepted,
                "ids": ids,
                "survivors": survivors,
                "planted_pairs": planted,
            }
        )
    return {
        "corpus": files[0],
        "corpus_ids": np.arange(DOCS, dtype=np.int64),
        "batches": batches,
        "input_rows": DOCS + DOC_BATCH * DOC_BATCHES,
        "input_mb": _size_mb(files),
    }
