"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, scale)``: the same seed gives
byte-identical parquet files.  Shapes follow FIXTURES.md and the
sf-scaled tables of TESTDATA.md, but the benchmark builds its own copies
so that it needs nothing outside the checkout.

``scale`` is the TPC-H-style scale factor: 0.1 is the benchmark size,
0.001 the smoke size.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The documents fixture's vocabulary (TESTDATA documents: 30 common terms
# plus the rare "dup" marker) and its language labels.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]

EMBED_DIM = 64
MMUL_K = 350  # F4 inner dimension
MMUL_N = 300  # F4 output width


@dataclass(frozen=True)
class Sizes:
    lineitem_rows: int
    embedding_rows: int
    mmul_rows: int
    documents: int
    dedup_corpus: int
    dedup_batches: int
    batch_new: int
    batch_copies: int


def sizes(scale: float) -> Sizes:
    """Row counts at ``scale``: sf0.1 matches TESTDATA.md's sf0.1 tables
    (600k lineitem, 2000 embeddings, 5000 documents)."""
    f = scale / 0.1
    return Sizes(
        lineitem_rows=max(600, int(600_000 * f)),
        embedding_rows=max(200, int(2_000 * f)),
        # F4 is 5000 x 350; twice the rows
        mmul_rows=max(200, int(10_000 * f)),
        # the documents are the dedup corpus plus the fresh part of each
        # ingest batch
        documents=max(200, int(5_000 * f)),
        dedup_corpus=max(180, int(4_500 * f)),
        dedup_batches=1,
        batch_new=max(20, int(500 * f)),
        batch_copies=max(5, int(100 * f)),
    )


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per table, so adding a table never shifts
    the values of another."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def _array_column(block: np.ndarray, value_type: pa.DataType) -> pa.ListArray:
    rows, cols = block.shape
    offsets = pa.array(np.arange(0, rows * cols + 1, cols, dtype=np.int32))
    values = pa.array(block.ravel().astype(value_type.to_pandas_dtype()))
    return pa.ListArray.from_arrays(offsets, values)


def lineitem(seed: int, rows: int) -> pa.Table:
    """TPC-H-shaped lineitem numerics: (orderkey, linenumber) is the DRM
    key, the four numeric columns are the 4-wide matrix."""
    rng = _rng(seed, 1)
    orders = max(1, rows // 4)
    orderkey = np.sort(rng.integers(1, orders * 4 + 1, rows)).astype(np.int64)
    linenumber = rng.integers(1, 8, rows).astype(np.int32)
    quantity = rng.integers(1, 51, rows).astype(np.float64)
    price = np.round(rng.uniform(900.0, 2100.0, rows), 2)
    extended = np.round(quantity * price, 2)
    discount = rng.integers(0, 11, rows) / 100.0
    tax = rng.integers(0, 9, rows) / 100.0
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_linenumber": linenumber,
            "l_quantity": quantity,
            "l_extendedprice": extended,
            "l_discount": discount,
            "l_tax": tax,
        }
    )


def embeddings(seed: int, rows: int) -> pa.Table:
    """Clustered float embeddings (vec_id, embedding[64], label)."""
    rng = _rng(seed, 2)
    centers = rng.normal(0.0, 3.0, (8, EMBED_DIM))
    label = rng.integers(0, 8, rows).astype(np.int32)
    emb = centers[label] + rng.normal(0.0, 1.0, (rows, EMBED_DIM))
    return pa.table(
        {
            "vec_id": np.arange(rows, dtype=np.int64),
            "embedding": _array_column(emb.astype(np.float32), pa.float32()),
            "label": label,
        }
    )


def mmul_pair(seed: int, rows: int) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """F4-shaped dense pair: A (rows x 350) as a DRM table plus its
    in-core copy, and B (350 x 300) in core; both U[-1, 1) like
    ``symmetricUniformView``."""
    rng = _rng(seed, 3)
    a = rng.random((rows, MMUL_K)) * 2.0 - 1.0
    b = rng.random((MMUL_K, MMUL_N)) * 2.0 - 1.0
    table = pa.table(
        {
            "row_id": np.arange(rows, dtype=np.int64),
            "features": _array_column(a, pa.float64()),
        }
    )
    return table, a, b


def _label_word_probs(rng: np.random.Generator) -> np.ndarray:
    """Per-language word distribution: each language over-uses its own
    six terms, so the naive-Bayes classes are separable by a wide margin
    and score ties between labels do not occur."""
    probs = np.ones((len(LANGS), len(VOCAB)))
    perm = rng.permutation(len(VOCAB))
    for i in range(len(LANGS)):
        probs[i, perm[i * 6 : (i + 1) * 6]] = 6.0
    return probs / probs.sum(axis=1, keepdims=True)


def _texts(rng: np.random.Generator, labels: np.ndarray, probs: np.ndarray) -> list[str]:
    lengths = rng.integers(12, 90, len(labels))
    out = []
    vocab = np.array(VOCAB)
    for lab, n in zip(labels, lengths):
        out.append(" ".join(vocab[rng.choice(len(VOCAB), n, p=probs[lab])]))
    return out


def documents(seed: int, rows: int, first_id: int = 0, stream: int = 4) -> pa.Table:
    """(doc_id, text, lang): random word sequences over VOCAB, at least
    12 words each, so two distinct documents share almost no word
    3-grams."""
    rng = _rng(seed, stream)
    probs = _label_word_probs(_rng(seed, 4))
    labels = rng.integers(0, len(LANGS), rows)
    return pa.table(
        {
            "doc_id": np.arange(first_id, first_id + rows, dtype=np.int64),
            "text": _texts(rng, labels, probs),
            "lang": [LANGS[i] for i in labels],
        }
    )


@dataclass
class IngestPlan:
    """The documents split into a dedup corpus and sequential ingest
    batches; each batch also carries planted exact copies of earlier
    documents.  ``copies[b]`` maps each copy's doc_id in batch ``b`` to
    the id of the document it copies."""

    corpus: pa.Table
    batches: list[pa.Table]
    copies: list[dict[int, int]]


def ingest_plan(seed: int, docs: pa.Table, sz: Sizes) -> IngestPlan:
    docs = docs.select(["doc_id", "text"])
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    rng = _rng(seed, 6)
    n_seen = sz.dedup_corpus
    next_id = len(docs)  # copies get ids after every document's
    batches, copies = [], []
    used: set[int] = set()
    for _ in range(sz.dedup_batches):
        fresh = range(n_seen, n_seen + sz.batch_new)
        # originals drawn without replacement from the documents ingested
        # before this batch; copies never become originals, since a copy
        # of a copy has two identical earlier documents and dup_of is
        # the lower id
        pool = np.array([i for i in range(n_seen) if i not in used])
        picks = rng.choice(pool, sz.batch_copies, replace=False)
        used.update(int(p) for p in picks)
        copy_ids = np.arange(next_id, next_id + sz.batch_copies, dtype=np.int64)
        next_id += sz.batch_copies
        copies.append({int(c): int(ids[p]) for c, p in zip(copy_ids, picks)})
        b_ids = np.concatenate([ids[list(fresh)], copy_ids])
        b_texts = [texts[i] for i in fresh] + [texts[p] for p in picks]
        order = rng.permutation(len(b_ids))
        batches.append(
            pa.table({"doc_id": b_ids[order], "text": [b_texts[i] for i in order]})
        )
        n_seen += sz.batch_new
    return IngestPlan(corpus=docs.slice(0, sz.dedup_corpus), batches=batches, copies=copies)


def write_all(seed: int, scale: float, out_dir: str, workload: str) -> dict:
    """Write the tables ``workload`` reads into ``out_dir``; returns
    their directory plus the in-core copies the output checks compare
    against."""
    os.makedirs(out_dir, exist_ok=True)
    sz = sizes(scale)
    out: dict = {"sizes": sz, "dir": out_dir}
    if workload == "samsara_book":
        li = lineitem(seed, sz.lineitem_rows)
        _write(li, f"{out_dir}/lineitem.parquet")
        out["lineitem_np"] = np.column_stack(
            [li.column(c).to_numpy() for c in
             ("l_quantity", "l_extendedprice", "l_discount", "l_tax")]
        )
        out["linenumber_np"] = li.column("l_linenumber").to_numpy()
        _write(embeddings(seed, sz.embedding_rows), f"{out_dir}/embeddings.parquet")
        a, a_np, b = mmul_pair(seed, sz.mmul_rows)
        _write(a, f"{out_dir}/mmul_a.parquet")
        out["mmul_a_np"], out["mmul_b"] = a_np, b
    elif workload == "nb_text":
        docs = documents(seed, sz.documents)
        _write(docs, f"{out_dir}/documents.parquet")
        out["documents_np"] = list(
            zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
        )
        plan = ingest_plan(seed, docs, sz)
        _write(plan.corpus, f"{out_dir}/corpus.parquet")
        for i, t in enumerate(plan.batches):
            _write(t, f"{out_dir}/batch_{i}.parquet")
        out["copies"] = plan.copies
        out["text_bytes"] = sum(
            len(x.encode("utf-8"))
            for t in [plan.corpus, *plan.batches]
            for x in t.column("text").to_pylist()
        )
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return out
