"""Tests of the benchmark's own generator and verifier (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import verify as ref  # noqa: E402
from verify import Mismatch  # noqa: E402


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a, b = gen.make_docs(7, 40), gen.make_docs(7, 40)
    assert a == b
    gen.write_pdfs(a, str(tmp_path / "a"))
    gen.write_pdfs(b, str(tmp_path / "b"))
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert gen.make_questions(7, 50, a) == gen.make_questions(7, 50, b)
    va, vb = gen.make_vectors(7, 500, 16, 8), gen.make_vectors(7, 500, 16, 8)
    assert np.array_equal(va.vecs, vb.vecs) and np.array_equal(va.ids, vb.ids)
    gen.write_vectors_parquet(va, str(tmp_path / "va"))
    gen.write_vectors_parquet(vb, str(tmp_path / "vb"))
    assert _files(tmp_path / "va") == _files(tmp_path / "vb")


def test_generator_varies_with_seed_and_plants_duplicates():
    a, b = gen.make_docs(1, 60), gen.make_docs(2, 60)
    assert a.pages != b.pages
    assert a.exact_dups and a.near_dups
    for src, dup in a.exact_dups:
        assert a.text(src) == a.text(dup)
    for src, dup in a.near_dups:
        assert a.text(src) != a.text(dup)
    v = gen.make_vectors(1, 4000, 8, 16)
    sizes = np.bincount(v.cluster, minlength=16)
    assert sizes[0] > 4 * sizes[-1]  # Zipf skew: a giant head cell


def test_tags_give_distinct_question_vectors():
    q12 = gen.make_vectors(3, 1, 8, 4, tag="q12").vecs
    q21 = gen.make_vectors(3, 1, 8, 4, tag="q21").vecs
    assert not np.array_equal(q12, q21)


def test_cosine_edges_and_matrix_match_the_scalar_fold():
    assert ref.cosine([0.0, 0.0], [1.0, 2.0]) == 0.0
    assert ref.cosine([1.0], [1.0, 2.0]) == -1.0
    rng = np.random.default_rng(0)
    Q, V = rng.standard_normal((3, 9)), rng.standard_normal((20, 9))
    V[4] = 0.0
    M = ref.cosine_matrix(Q, V)
    for i in range(3):
        for j in range(20):
            assert M[i, j] == ref.cosine(Q[i], V[j])


def test_hash_embedding_formula():
    v = ref.hash_embed(["some text"], dim=3)[0]
    h = hashlib.md5(b"s42|2|some text").hexdigest()
    assert v[2] == int(h[:13], 16) / float(1 << 52) * 2.0 - 1.0


def _corpus():
    vs = gen.make_vectors(5, 300, 8, 6)
    c = ref.Corpus(vs.ids, vs.vecs, [f"passage {i}" for i in vs.ids])
    c.set_centroids([(i, list(vs.centers[i])) for i in range(6)])
    return c, vs


def test_verifier_rejects_a_wrong_topk_id():
    c, vs = _corpus()
    want = c.exact(vs.vecs[:1], 5)[0]
    ref.expect_topk("ok", list(want), want)
    wrong = list(want)
    wrong[1], wrong[2] = (wrong[2][0], wrong[1][1]), (wrong[1][0], wrong[2][1])
    with pytest.raises(Mismatch, match="rank 1 id"):
        ref.expect_topk("ask", wrong, want)
    with pytest.raises(Mismatch, match="results"):
        ref.expect_topk("ask", want[:4], want)


def test_verifier_rejects_a_wrong_similarity_by_one_ulp():
    c, vs = _corpus()
    want = c.ivf(vs.vecs[:1], 5, 2)[0]
    i, s = want[3]
    wrong = want[:3] + [(i, float(np.nextafter(s, 2.0)))] + want[4:]
    with pytest.raises(Mismatch, match="rank 3 similarity"):
        ref.expect_topk("ivf_ask", wrong, want)


def test_verifier_rejects_a_stale_result_after_append():
    c, vs = _corpus()
    q = vs.vecs[:1] * 1.5
    stale = c.exact(q, 5)[0]
    stale_ivf = c.ivf(q, 5, 2)[0]
    c.append([10**12], q, ["appended passage"])
    with pytest.raises(Mismatch, match="rank 0 id"):
        ref.expect_topk("ask after append", stale, c.exact(q, 5)[0])
    with pytest.raises(Mismatch, match="rank 0 id"):
        ref.expect_topk("ivf_ask after append", stale_ivf, c.ivf(q, 5, 2)[0])
    with pytest.raises(Mismatch, match="answer"):
        ref.expect_answer("ask", "stale", "question", c.text_of([i for i, _ in c.exact(q, 5)[0]]))


def test_ivf_replay_probes_only_the_nearest_lists():
    c, vs = _corpus()
    q = vs.vecs[7]
    got = c.ivf(q[None, :], 300, 1)[0]
    lists = set(ref.probes(q, c.cents, c.cids, 1))
    cell = dict(zip(c.ids.tolist(), c.cell.tolist()))
    assert got and all(cell[i] in lists for i, _ in got)
    assert len(got) == sum(cell[i] in lists for i in c.ids.tolist())


def test_graph_edges_are_symmetric_per_cell_topm():
    c, _ = _corpus()
    edges = ref.graph_edges(c.ids, c.vecs, c.cell, 3)
    cell = dict(zip(c.ids.tolist(), c.cell.tolist()))
    assert all((b, a) in edges and cell[a] == cell[b] and a != b for a, b in edges)


def test_chunks_and_dedup_replay():
    assert ref.chunks("abcdefghij", 4, 1) == ["abcd", "defg", "ghij", "j"]
    assert ref.chunks("ab      ", 4, 2) == ["ab  "]  # space-only windows dropped
    docs = gen.make_docs(4, 60)
    texts = [docs.text(d) for d in range(60)]
    ids = list(range(100, 160))
    groups = ref.exact_groups(ids, texts)
    for a, b in docs.exact_dups:
        assert groups[ids[a]][0] > 1
    pairs = ref.minhash_pairs(ids, texts, n=3, num_hashes=12, bands=4, min_jaccard=0.5)
    assert all(a < b and 0.5 <= j <= 1.0 for (a, b), j in pairs.items())
    for a, b in docs.exact_dups:
        assert pairs[tuple(sorted((ids[a], ids[b])))] == 1.0


@pytest.mark.xfail(strict=True, reason="engine parser strips trailing CR/LF from Flate data")
def test_flate_stream_ending_in_newline_parses():
    """Seed 2's documents 46 and 108 have a page whose deflate stream
    ends in byte 0x0a; ``sources.pdfcodec`` rstrips it before inflating.
    When the engine is fixed this test passes, the strict xfail fails,
    and the benchmark's writer can compress again."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from rag_application_with_vectordb_spark.sources.pdfcodec import extract_pdf_text

    docs = gen.make_docs(2, 120)
    assert extract_pdf_text(gen.pdf_bytes(docs.pages[46], compress=True)) == docs.text(46)
