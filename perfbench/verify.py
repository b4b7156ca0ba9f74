"""Independent reference for every output the benchmark checks.

Nothing here imports the engine. The arithmetic replays the engine's
documented semantics in numpy float64 so that results compare exactly,
not within a tolerance:

- cosine = dot / (sqrt(fold a·a) * sqrt(fold b·b)), every fold a left
  fold over dimensions starting from 0.0; a zero norm gives 0.0 and a
  length mismatch gives -1.0;
- top-k order is (similarity DESC, id ASC);
- hash embeddings are md5(seed|j|text), first 13 hex digits / 2**52,
  mapped to [-1, 1);
- IVF replays nearest-centroid assignment (max cosine, lowest centroid
  id on ties) over the centroids k-means actually produced, probes the
  ``nprobe`` nearest lists and ranks the candidates exactly;
- graph edges are the per-cell top-m (self excluded), symmetrized;
- dedup replays the fingerprint groups and the MinHash-LSH candidate
  pairs with their exact Jaccard.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

TWO52 = float(1 << 52)
CONTEXT_SEPARATOR = "\n---\n"
PROMPT = (
    "Based on the following context, answer the question.\n\n"
    "CONTEXT:\n{context}\n\nQUESTION:\n{question}"
)


class Mismatch(AssertionError):
    """An engine output that differs from the reference."""


# -- vector arithmetic -------------------------------------------------------


def fold_norms(V: np.ndarray) -> np.ndarray:
    acc = np.zeros(V.shape[0])
    for j in range(V.shape[1]):
        acc += V[:, j] * V[:, j]
    return np.sqrt(acc)


def cosine_matrix(Q: np.ndarray, V: np.ndarray, vnorm: np.ndarray | None = None) -> np.ndarray:
    """(m, n) cosines of every row of ``Q`` against every row of ``V``."""
    Q = np.asarray(Q, dtype=np.float64).reshape(-1, V.shape[1])
    VT = np.ascontiguousarray(V.T)
    acc = np.zeros((Q.shape[0], V.shape[0]))
    term = np.empty_like(acc)
    for j in range(V.shape[1]):
        np.multiply(Q[:, j, None], VT[j], out=term)
        acc += term
    qn = fold_norms(Q)
    vn = fold_norms(V) if vnorm is None else vnorm
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = acc / (qn[:, None] * vn[None, :])
    sims[(qn == 0.0)[:, None] | (vn == 0.0)[None, :]] = 0.0
    return sims


def cosine(a, b) -> float:
    """Scalar cosine with the engine's edge values."""
    if len(a) != len(b):
        return -1.0
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    na, nb = na**0.5, nb**0.5
    if na == 0.0 or nb == 0.0:
        return 0.0
    return dot / (na * nb)


def topk(sims: np.ndarray, ids: np.ndarray, k: int) -> list[tuple[int, float]]:
    """(id, similarity) of the ``k`` best rows: similarity DESC, id ASC."""
    order = np.lexsort((ids, -sims))[:k]
    return [(int(ids[i]), float(sims[i])) for i in order]


def hash_embed(texts, dim: int = 64, seed: str = "s42") -> np.ndarray:
    pre = [hashlib.md5(f"{seed}|{j}|".encode()) for j in range(dim)]
    out = np.empty((len(texts), dim))
    for r, t in enumerate(texts):
        tb = t.encode()
        for j in range(dim):
            h = pre[j].copy()
            h.update(tb)
            out[r, j] = int(h.hexdigest()[:13], 16) / TWO52 * 2.0 - 1.0
    return out


# -- IVF and graph -----------------------------------------------------------


def assign(V: np.ndarray, C: np.ndarray, cids: np.ndarray, vnorm=None) -> np.ndarray:
    """Nearest centroid id per row (max cosine, lowest id on ties);
    ``C`` rows are in ascending ``cids`` order."""
    out = np.empty(V.shape[0], dtype=np.int64)
    step = 4096
    for s in range(0, V.shape[0], step):
        blk = V[s : s + step]
        sims = cosine_matrix(C, blk, None if vnorm is None else vnorm[s : s + step])
        # rows of sims are centroids: argmax over axis 0 takes the first
        # (lowest-id) maximum
        out[s : s + step] = cids[np.argmax(sims, axis=0)]
    return out


def probes(q: np.ndarray, C: np.ndarray, cids: np.ndarray, nprobe: int) -> list[int]:
    sims = cosine_matrix(q, C)[0]
    return [int(cids[i]) for i in np.lexsort((cids, -sims))[:nprobe]]


def graph_edges(ids: np.ndarray, V: np.ndarray, cell: np.ndarray, m: int) -> set[tuple[int, int]]:
    """Per-cell exact top-``m`` neighbours (self excluded), both directions."""
    edges: set[tuple[int, int]] = set()
    for c in np.unique(cell):
        rows = np.flatnonzero(cell == c)
        n = rows.size
        if n <= 1:
            continue
        rids = ids[rows]
        sims = cosine_matrix(V[rows], V[rows])
        keep = min(m, n - 1)
        for i in range(n):
            s = sims[i].copy()
            s[i] = -np.inf
            for j in np.lexsort((rids, -s))[:keep]:
                a, b = int(rids[i]), int(rids[j])
                edges.add((a, b))
                edges.add((b, a))
    return edges


class Corpus:
    """Reference copy of a vector store: ids, vectors, texts, and the
    IVF list of every row. Appends extend it, so later checks see them."""

    def __init__(self, ids, vecs, texts):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.vecs = np.asarray(vecs, dtype=np.float64)
        self.texts = list(texts)
        self.norms = fold_norms(self.vecs)
        self.cents: np.ndarray | None = None
        self.cids: np.ndarray | None = None
        self.cell: np.ndarray | None = None

    def set_centroids(self, cents: list[tuple[int, list[float]]]) -> None:
        cents = sorted(cents)
        self.cids = np.asarray([c for c, _ in cents], dtype=np.int64)
        self.cents = np.asarray([v for _, v in cents], dtype=np.float64)
        self.cell = assign(self.vecs, self.cents, self.cids, self.norms)

    def append(self, ids, vecs, texts) -> None:
        vecs = np.asarray(vecs, dtype=np.float64)
        norms = fold_norms(vecs)
        self.ids = np.concatenate([self.ids, np.asarray(ids, dtype=np.int64)])
        self.vecs = np.concatenate([self.vecs, vecs])
        self.norms = np.concatenate([self.norms, norms])
        self.texts.extend(texts)
        if self.cents is not None:
            self.cell = np.concatenate([self.cell, assign(vecs, self.cents, self.cids, norms)])

    def sims(self, Q: np.ndarray) -> np.ndarray:
        return cosine_matrix(Q, self.vecs, self.norms)

    def exact(self, Q: np.ndarray, k: int, sims=None) -> list[list[tuple[int, float]]]:
        sims = self.sims(Q) if sims is None else sims
        return [topk(row, self.ids, k) for row in sims]

    def ivf(self, Q: np.ndarray, k: int, nprobe: int, sims=None) -> list[list[tuple[int, float]]]:
        """Each question ranks only the rows of its ``nprobe`` nearest
        lists; a pair's cosine does not depend on which other rows are
        ranked, so the exact similarity matrix is reused."""
        Q = np.asarray(Q, dtype=np.float64).reshape(-1, self.vecs.shape[1])
        sims = self.sims(Q) if sims is None else sims
        out = []
        for q, row in zip(Q, sims):
            mask = np.isin(self.cell, probes(q, self.cents, self.cids, nprobe))
            out.append(topk(row[mask], self.ids[mask], k))
        return out

    def text_of(self, ids) -> list[str]:
        pos = {int(i): n for n, i in enumerate(self.ids)}
        return [self.texts[pos[int(i)]] for i in ids]


def expect_topk(op: str, got: list[tuple[int, float]], want: list[tuple[int, float]]) -> None:
    """Exact comparison of ids and similarity bits, in rank order."""
    if len(got) != len(want):
        raise Mismatch(f"{op}: {len(got)} results, expected {len(want)}")
    for r, ((gi, gs), (wi, ws)) in enumerate(zip(got, want)):
        if gi != wi:
            raise Mismatch(f"{op}: rank {r} id {gi}, expected {wi}")
        if float(gs) != ws:
            raise Mismatch(f"{op}: rank {r} similarity {gs!r}, expected {ws!r}")


def rows_to_topk(rows, qcol: str, idcol: str, n_queries: int) -> list[list[tuple[int, float]]]:
    """Group collected ``(query, id, similarity)`` rows into per-query
    lists in (similarity DESC, id ASC) order; the engine's row order
    across queries is not part of its contract."""
    per: list[list[tuple[int, float]]] = [[] for _ in range(n_queries)]
    for r in rows:
        per[int(r[qcol])].append((int(r[idcol]), float(r["similarity"])))
    for lst in per:
        lst.sort(key=lambda t: (-t[1], t[0]))
    return per


def expect_answer(op: str, got: str, question: str, texts: list[str]) -> None:
    want = PROMPT.format(context=CONTEXT_SEPARATOR.join(texts), question=question)
    if got != want:
        raise Mismatch(f"{op}: answer differs from the reference prompt")


# -- documents ---------------------------------------------------------------

_WS = "[ \t\n\x0b\x0c\r]+"


def chunks(text: str, size: int, overlap: int) -> list[str]:
    """Sliding windows at stride ``size - overlap``; windows that are
    empty after trimming spaces are dropped."""
    stride = size - overlap
    out = []
    for s in range(0, max(len(text) - 1, 0) + 1, stride):
        c = text[s : s + size]
        if c.strip(" "):
            out.append(c)
    return out


def fingerprint(text: str) -> str:
    return hashlib.md5(re.sub(_WS, " ", text).strip(" ").lower().encode()).hexdigest()


def exact_groups(doc_ids: list[int], texts: list[str]) -> dict[int, tuple[int, bool, str]]:
    """doc_id -> (group size, is canonical, fingerprint); canonical is
    the lowest id of its group."""
    groups: dict[str, list[int]] = {}
    for d, t in zip(doc_ids, texts):
        groups.setdefault(fingerprint(t), []).append(d)
    out = {}
    for fp, members in groups.items():
        lo = min(members)
        for d in members:
            out[d] = (len(members), d == lo, fp)
    return out


def shingles(text: str, n: int) -> list[str]:
    toks = re.split(_WS, text.strip(" "))
    if len(toks) < n:
        return []
    seen: dict[str, None] = {}
    for i in range(len(toks) - n + 1):
        seen.setdefault(" ".join(toks[i : i + n]), None)
    return list(seen)


def minhash_pairs(
    doc_ids: list[int], texts: list[str], n: int, num_hashes: int, bands: int, min_jaccard: float
) -> dict[tuple[int, int], float]:
    """(doc_a, doc_b) -> Jaccard of the MinHash-LSH candidate pairs that
    pass ``min_jaccard``, doc_a < doc_b."""
    rows = num_hashes // bands
    sets, buckets = {}, {}
    pre = [hashlib.md5(f"{j}|".encode()) for j in range(num_hashes)]
    for d, t in zip(doc_ids, texts):
        sh = shingles(t, n)
        if not sh:
            continue
        sets[d] = set(sh)
        sig = []
        for j in range(num_hashes):
            best = None
            for s in sh:
                h = pre[j].copy()
                h.update(s.encode())
                x = h.hexdigest()
                if best is None or x < best:
                    best = x
            sig.append(best)
        for b in range(bands):
            key = hashlib.md5(",".join(sig[b * rows : (b + 1) * rows]).encode()).hexdigest()
            buckets.setdefault((b, key), []).append(d)
    out = {}
    for members in buckets.values():
        for a in members:
            for b in members:
                if a < b and (a, b) not in out:
                    inter = len(sets[a] & sets[b])
                    jac = float(inter) / float(len(sets[a]) + len(sets[b]) - inter)
                    out[(a, b)] = jac
    return {p: j for p, j in out.items() if j >= min_jaccard}
