"""Seeded input generators. Same seed, same bytes; nothing here reads data
the benchmark did not make itself.

The inputs keep the column names, types and value domains of the
engine's synthetic star schema (lineitem, documents, embeddings): the
sync pair, the replicated corpus with planted near-duplicate chains,
and the replicated embeddings.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
#: id stride between corpus / embedding replicas (replica r owns
#: ids [r * ID_OFFSET, (r + 1) * ID_OFFSET)).
ID_OFFSET = 10_000_000

_DAY_MS = 86_400_000
_EPOCH_1995 = np.datetime64("1995-01-01", "ms").astype(np.int64)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a stream never
    shifts the numbers another stream draws."""
    return np.random.default_rng([seed, *stream.encode()])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def doc_texts(rng, n: int) -> list[str]:
    """Documents in the fixture style: 10-100 tokens from a 30-word
    vocabulary; 5% (exactly n // 20) are an earlier document plus a
    trailing ``dup``."""
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    out = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.sort(rng.choice(np.arange(1, n), n // 20, replace=False)):
        out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def unit_vectors(rng, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _embedding_table(ids, vecs, labels) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels, pa.int32()),
        }
    )


def lineitem_table(r, li_order, order_day, n_part, n_supp) -> pa.Table:
    n = len(li_order)
    ship_day = order_day[li_order] + r.integers(1, 96, n)
    return pa.table(
        {
            "l_orderkey": pa.array(li_order, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105_000, n),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], n),
            "l_linestatus": _pick(r, ["F", "O"], n),
            "l_shipdate": pa.array(_EPOCH_1995 + ship_day * _DAY_MS, pa.timestamp("ms")),
        }
    )


# ---------------------------------------------------------------------------
# sync_cdc: typed target + all-string source with planted changes
# ---------------------------------------------------------------------------


def sync_target(seed: int, rows: int) -> pa.Table:
    """lineitem-shaped target keyed by a generated unique serial ``slno``
    (lineitem's own (l_orderkey, l_linenumber) repeats, and the sync
    contract needs a unique key)."""
    r = rng_for(seed, "sync.target")
    n_ord = max(1, rows // 4)
    order_day = r.integers(0, 2404, n_ord)
    li = lineitem_table(r, r.integers(0, n_ord, rows), order_day, rows // 30 + 1, rows // 600 + 1)
    return li.add_column(0, "slno", pa.array(np.arange(1, rows + 1), pa.int64()))


def sync_plan(seed: int, rows: int, mod=0.01, dele=0.005, ins=0.005) -> dict:
    """Which rows the source changes: 1% get one cell edited (column
    chosen per row), 0.5% are deleted, 0.5% new rows are inserted. The
    counts are fixed; the seed picks the rows. Returned as plain lists
    so the expected change count is exact."""
    r = rng_for(seed, "sync.plan")
    n_mod, n_del, n_ins = (int(round(rows * f)) for f in (mod, dele, ins))
    picked = r.choice(rows, n_mod + n_del, replace=False)
    modified, deleted = np.sort(picked[:n_mod]), np.sort(picked[n_mod:])
    edit_col = r.integers(0, 11, len(modified))
    return {
        "modified": modified.tolist(),
        "edit_col": edit_col.tolist(),
        "deleted": deleted.tolist(),
        "inserted": n_ins,
    }


# ---------------------------------------------------------------------------
# corpus_ann: replicated documents + planted near-duplicate chains
# ---------------------------------------------------------------------------


def corpus(seed: int, base_docs: int, replicas: int, chains: int) -> tuple[pa.Table, list[list[int]]]:
    """``replicas`` copies of a ``base_docs`` corpus, replica r > 0 with
    every token suffixed ``_x{r}`` so replicas share no shingles (the
    scale-probe replication scheme), plus ``chains`` planted chains of
    2, 3, 4, 5, 6, 2, ... documents: each member is the previous one with
    one of its 80-120 tokens replaced (~1%), so connected components
    needs several cycles to join a chain's ends. Returns the table and the planted chains'
    doc ids (first id = chain head)."""
    r = rng_for(seed, "corpus")
    base = doc_texts(r, base_docs)
    ids, texts = [], []
    for rep in range(replicas):
        for i, t in enumerate(base):
            ids.append(rep * ID_OFFSET + i)
            texts.append(t if rep == 0 else " ".join(f"{w}_x{rep}" for w in t.split(" ")))
    words = [f"{w}_c" for w in VOCAB]  # chain vocabulary: disjoint from every replica
    planted = []
    next_id = replicas * ID_OFFSET
    for _ in range(chains):
        toks = [words[j] for j in r.integers(0, len(words), int(r.integers(80, 121)))]
        chain = []
        for _ in range(2 + len(planted) % 5):
            chain.append(next_id)
            ids.append(next_id)
            texts.append(" ".join(toks))
            next_id += 1
            toks = list(toks)
            j = int(r.integers(0, len(toks)))
            toks[j] = words[(words.index(toks[j]) + int(r.integers(1, len(words)))) % len(words)]
        planted.append(chain)
    n = len(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": _pick(r, LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, planted


# ---------------------------------------------------------------------------
# corpus_ann: replicated embeddings with per-replica sign flips
# ---------------------------------------------------------------------------


def embeddings(seed: int, base_vecs: int, replicas: int) -> tuple[pa.Table, np.ndarray]:
    """``replicas`` sign-flipped copies of ``base_vecs`` unit vectors
    (within-replica dot products kept, cross-replica ones decorrelated),
    shuffled by the seed and numbered 0..n-1. The query set is every
    row with ``vec_id % 100 == 0`` (the registry's ANN query rule), so
    the seed decides which vectors are queries. Returns the table and
    the float32 matrix indexed by vec_id."""
    r = rng_for(seed, "embeddings")
    base = unit_vectors(r, base_vecs)
    reps = [base]
    for _ in range(1, replicas):
        signs = np.where(r.random(DIM) < 0.5, -1.0, 1.0).astype(np.float32)
        reps.append(base * signs)
    vecs = np.concatenate(reps)[r.permutation(base_vecs * replicas)]
    labels = r.integers(0, 10, len(vecs))
    return _embedding_table(np.arange(len(vecs)), vecs, labels), vecs

