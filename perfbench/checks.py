"""Correctness checks. Each takes plain Python data (rows, id lists,
frames already collected) and returns a list of failure messages, empty
when the output is right, so the benchmark's tests can feed them
deliberately corrupted outputs without a Spark session."""

from __future__ import annotations

import hashlib
import math


def _norm(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<null>" if math.isnan(v) else repr(v)
    return str(v)


def digest_rows(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of an iterable of row tuples."""
    lines = sorted("\x1f".join(_norm(v) for v in row) for row in rows)
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


def digest_frame(pdf) -> tuple[int, str]:
    """digest_rows over a pandas frame, columns taken in sorted order."""
    cols = sorted(pdf.columns)
    return digest_rows(pdf[cols].itertuples(index=False, name=None))


def check_equal_digest(what: str, got: tuple[int, str], want: tuple[int, str]) -> list[str]:
    if got == want:
        return []
    return [f"{what}: got {got[0]} rows hash {got[1]}, want {want[0]} rows hash {want[1]}"]


def check_change_count(what: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{what}: {got} changes, want {want}"]


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def components(pairs) -> dict[int, int]:
    """node -> min node id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_components(cc: dict[int, int], pairs) -> list[str]:
    """``cc`` (node -> component label) must be exactly the components
    of ``pairs`` labelled by their min id."""
    want = components(pairs)
    if cc == want:
        return []
    missing = sorted(set(want) - set(cc))[:3]
    extra = sorted(set(cc) - set(want))[:3]
    wrong = sorted(n for n in set(cc) & set(want) if cc[n] != want[n])[:3]
    return [f"connected_components: missing {missing} extra {extra} wrong labels at {wrong}"]


def check_kept(kept_ids, all_ids, pairs, planted) -> list[str]:
    """apply_dedup keeps every document outside the pairs and the min id
    of each component; each planted chain keeps exactly its head."""
    comp = components(pairs)
    want = sorted(i for i in all_ids if comp.get(i, i) == i)
    got = sorted(kept_ids)
    out = []
    if got != want:
        out.append(f"apply_dedup: kept {len(got)} docs, want {len(want)}")
    kept = set(got)
    bad = [c for c in planted if [i for i in c if i in kept] != [c[0]]]
    if bad:
        out.append(f"apply_dedup: {len(bad)} planted chains not reduced to their head, e.g. {bad[0]}")
    return out


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.strip().split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def check_minhash_pairs(pairs, texts: dict[int, str], threshold: float, k: int = 3) -> list[str]:
    """Every emitted (id_a, id_b, jac) has id_a < id_b and true shingle
    Jaccard >= threshold, matching the reported value."""
    out = []
    for a, b, jac in pairs:
        sa, sb = shingles(texts[a], k), shingles(texts[b], k)
        true = len(sa & sb) / len(sa | sb) if sa | sb else 0.0
        if not a < b or true < threshold - 1e-9 or abs(true - jac) > 1e-6:
            out.append(f"minhash pair ({a}, {b}, {jac}): true jaccard {true:.4f}")
            break
    return out


def near_pairs(fingerprints: dict[int, int], max_hamming: int) -> dict[tuple[int, int], int]:
    """Every (id_a, id_b) with id_a < id_b whose fingerprints differ in at
    most ``max_hamming`` bits, with that distance: all pairs, no blocking."""
    import numpy as np

    ids = np.array(sorted(fingerprints), dtype=np.int64)
    fp = np.array([fingerprints[i] for i in ids.tolist()], dtype=np.int64).view(np.uint64)
    popcount = np.array([bin(b).count("1") for b in range(256)], dtype=np.uint8)
    out = {}
    for i in range(len(ids) - 1):
        x = (fp[i + 1 :] ^ fp[i]).view(np.uint8).reshape(-1, 8)
        dist = popcount[x].sum(axis=1, dtype=np.int64)
        for j in np.nonzero(dist <= max_hamming)[0]:
            out[(int(ids[i]), int(ids[i + 1 + j]))] = int(dist[j])
    return out


def check_simhash_pairs(pairs, fingerprints: dict[int, int], max_hamming: int) -> list[str]:
    """(id_a, id_b, hamming) rows must be exactly the pairs of
    ``fingerprints`` within ``max_hamming`` bits, with their distances."""
    want = near_pairs(fingerprints, max_hamming)
    got = {(a, b): h for a, b, h in pairs}
    if len(got) == len(pairs) and got == want:
        return []
    missing = sorted(set(want) - set(got))[:3]
    extra = sorted(set(got) - set(want))[:3]
    wrong = sorted(p for p in set(got) & set(want) if got[p] != want[p])[:3]
    return [
        f"simhash pairs: {len(pairs)} rows, want {len(want)}; missing {missing} extra {extra} wrong distance {wrong}"
    ]


def check_histogram(hist: dict[int, int], cc: dict[int, int]) -> list[str]:
    sizes: dict[int, int] = {}
    for comp in cc.values():
        sizes[comp] = sizes.get(comp, 0) + 1
    want: dict[int, int] = {}
    for s in sizes.values():
        want[s] = want.get(s, 0) + 1
    return [] if hist == want else [f"cluster histogram {hist} != {want}"]


# ---------------------------------------------------------------------------
# ANN
# ---------------------------------------------------------------------------


def exact_topk(vecs, query_ids, k: int):
    """query id -> ids of its k nearest vectors by cosine (unit vectors:
    dot product), ties to the lower id; the query itself included."""
    import numpy as np

    q = vecs[np.asarray(query_ids)].astype(np.float64)
    scores = q @ vecs.astype(np.float64).T
    order = np.lexsort((np.broadcast_to(np.arange(vecs.shape[0]), scores.shape), -scores), axis=1)
    return {int(qid): [int(i) for i in order[j, :k]] for j, qid in enumerate(query_ids)}


def recall_at_k(result: dict[int, list[int]], exact: dict[int, list[int]]) -> float:
    hit = sum(len(set(result.get(q, [])) & set(ids)) for q, ids in exact.items())
    total = sum(len(ids) for ids in exact.values())
    return hit / total if total else 0.0


def check_topk_shape(result: dict[int, list[int]], query_ids, n_vectors: int, k: int) -> list[str]:
    """k distinct, existing neighbour ids for every query."""
    if sorted(result) != sorted(int(q) for q in query_ids):
        return [f"ann: results for {len(result)} queries, want {len(query_ids)}"]
    for q, ids in result.items():
        if len(ids) != k or len(set(ids)) != k or not all(0 <= i < n_vectors for i in ids):
            return [f"ann: query {q} got neighbours {ids}"]
    return []
