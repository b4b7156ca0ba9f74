"""Seeded input generator for the RAG benchmark.

Everything the engine receives comes from here: PDF files (with planted
exact and near duplicates, variable page count and text length), plain
documents, question texts, and a planted-cluster vector corpus with
Zipf-skewed cluster sizes. The same seed gives byte-identical inputs:
text uses ``random.Random(seed)``, vectors ``numpy.random.default_rng``,
PDF streams are written raw (zlib at a fixed level when compressed).
"""

from __future__ import annotations

import hashlib
import os
import random
import zlib
from dataclasses import dataclass, field

import numpy as np


def _words(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


#: Document shape: pages per document, lines per page, words per line
#: (inclusive ranges), vocabulary size; about EXACT_SHARE of the
#: documents are exact copies and NEAR_SHARE near copies (NEAR_EDIT of
#: their words replaced) of an earlier original.
PAGES, LINES, WORDS, VOCAB = (1, 4), (4, 20), (5, 14), 3000
EXACT_SHARE, NEAR_SHARE, NEAR_EDIT = 0.1, 0.1, 0.04
#: Vector corpus: Zipf exponent of the cluster sizes and the noise
#: radius around each planted center.
ZIPF_S, NOISE = 1.1, 0.6
#: A vector parquet is written as this many files of consecutive rows.
PARQUET_PARTS = 4


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


@dataclass
class DocSet:
    """Generated documents. ``pages[d]`` is a list of pages, each page a
    list of lines (one PDF text-show operator per line). ``exact_dups``
    and ``near_dups`` are (original index, copy index) pairs."""

    names: list[str]
    pages: list[list[list[str]]]
    exact_dups: list[tuple[int, int]] = field(default_factory=list)
    near_dups: list[tuple[int, int]] = field(default_factory=list)

    def text(self, d: int) -> str:
        """The text the PDF parser should return for document ``d``:
        per page, lines joined with a space, each page ending in a
        newline."""
        return "".join(" ".join(page) + "\n" for page in self.pages[d])


def make_docs(seed: int, n_docs: int) -> DocSet:
    """``n_docs`` documents, of which about ``EXACT_SHARE`` are exact
    copies and ``NEAR_SHARE`` are near copies of an earlier original."""
    rng = random.Random(f"docs|{seed}")
    vocab_words = _words(rng, VOCAB)
    weights = _zipf_weights(VOCAB, 0.8)
    names, all_pages = [], []
    exact, near = [], []
    originals: list[int] = []
    for d in range(n_docs):
        names.append(f"doc{d:05d}.pdf")
        r = rng.random()
        if originals and r < EXACT_SHARE:
            src = rng.choice(originals)
            all_pages.append([list(line) for line in all_pages[src]])
            exact.append((src, d))
            continue
        if originals and r < EXACT_SHARE + NEAR_SHARE:
            src = rng.choice(originals)
            copy = []
            for page in all_pages[src]:
                new_page = []
                for line in page:
                    toks = line.split(" ")
                    for i in range(len(toks)):
                        if rng.random() < NEAR_EDIT:
                            toks[i] = rng.choices(vocab_words, weights)[0]
                    new_page.append(" ".join(toks))
                copy.append(new_page)
            all_pages.append(copy)
            near.append((src, d))
            continue
        doc = []
        for _ in range(rng.randint(*PAGES)):
            doc.append(
                [
                    " ".join(rng.choices(vocab_words, weights, k=rng.randint(*WORDS)))
                    for _ in range(rng.randint(*LINES))
                ]
            )
        all_pages.append(doc)
        originals.append(d)
    return DocSet(names, all_pages, exact, near)


def _pdf_string(s: str) -> bytes:
    return b"(" + s.encode("latin-1").replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(
        b")", b"\\)"
    ) + b")"


def pdf_bytes(pages: list[list[str]], compress: bool) -> bytes:
    """A classic-xref PDF: catalog, page tree, one font, one content
    stream per page with one ``Tj`` per line."""
    n = len(pages)
    page_objs = [4 + 2 * i for i in range(n)]
    bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + b" ".join(b"%d 0 R" % p for p in page_objs)
        + b"] /Count %d >>" % n,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman >>",
    ]
    for i, lines in enumerate(pages):
        stream = b"BT /F1 11 Tf 56 760 Td 14 TL\n" + b"".join(
            _pdf_string(line) + b" Tj T*\n" for line in lines
        ) + b"ET"
        extra = b""
        if compress:
            stream = zlib.compress(stream, 6)
            extra = b" /Filter /FlateDecode"
        bodies.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % (page_objs[i] + 1)
        )
        bodies.append(
            b"<< /Length %d%s >>\nstream\n" % (len(stream), extra) + stream + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(bodies, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(bodies) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(bodies) + 1,
        xref,
    )
    return bytes(out)


def write_pdfs(docs: DocSet, out_dir: str) -> None:
    """Write every document as ``<out_dir>/<name>`` with raw content
    streams, so the parse path is measured on uncompressed streams only.
    Flate streams are left out: the engine's parser strips trailing
    CR/LF bytes from stream data before inflating, which truncates a
    deflate stream that happens to end in one
    (``test_flate_stream_ending_in_newline_parses`` pins the defect)."""
    os.makedirs(out_dir, exist_ok=True)
    for d, name in enumerate(docs.names):
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(pdf_bytes(docs.pages[d], compress=False))


def make_questions(seed: int, n: int, docs: DocSet, tag: str = "q") -> list[str]:
    """Questions quoting a few words of a random document line."""
    rng = random.Random(f"questions|{tag}|{seed}")
    out = []
    for i in range(n):
        d = rng.randrange(len(docs.pages))
        page = rng.choice(docs.pages[d])
        toks = rng.choice(page).split(" ")
        s = rng.randrange(len(toks))
        out.append(f"q{i} what does the text say about {' '.join(toks[s:s + 4])}?")
    return out


@dataclass
class VectorSet:
    """Planted-cluster vectors. ``vecs`` is (n, dim) float64, ``cluster``
    the planted cluster of each row, ``texts`` the passage text of each."""

    ids: np.ndarray
    vecs: np.ndarray
    cluster: np.ndarray
    centers: np.ndarray

    @property
    def texts(self) -> list[str]:
        return [f"passage {int(i)}" for i in self.ids]


def make_vectors(seed: int, n: int, dim: int, clusters: int, tag: str = "corpus") -> VectorSet:
    """``n`` vectors around ``clusters`` random unit centers; cluster
    sizes follow a Zipf law with exponent ``ZIPF_S`` (a few giant
    cells, a long tail of small ones). Centers depend only on the seed,
    so corpus, questions and appended batches of one seed share them."""
    crng = np.random.default_rng([seed, 0])
    centers = crng.standard_normal((clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rng = np.random.default_rng([seed, int.from_bytes(hashlib.md5(tag.encode()).digest()[:4], "little")])
    w = np.asarray(_zipf_weights(clusters, ZIPF_S))
    cluster = rng.choice(clusters, size=n, p=w / w.sum())
    vecs = centers[cluster] + rng.standard_normal((n, dim)) * (NOISE / np.sqrt(dim))
    ids = np.arange(n, dtype=np.int64)
    return VectorSet(ids, vecs, cluster, centers)


def write_vectors_parquet(vs: VectorSet, path: str) -> None:
    """Write ``(id, text, embedding)`` rows as ``PARQUET_PARTS`` parquet
    files of consecutive rows under the directory ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, dim = vs.vecs.shape
    table = pa.table(
        {
            "id": pa.array(vs.ids, pa.int64()),
            "text": pa.array(vs.texts, pa.string()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(vs.vecs.ravel())
            ),
        }
    )
    os.makedirs(path, exist_ok=True)
    step = -(-n // PARQUET_PARTS)
    for p in range(PARQUET_PARTS):
        pq.write_table(table.slice(p * step, step), os.path.join(path, f"part-{p}.parquet"))
