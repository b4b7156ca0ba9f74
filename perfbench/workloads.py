"""The two workloads, driven through the engine's public functions.

Every workload is one client's closed loop over one Spark session: the
next operation starts when the previous one has returned and its output
has been checked. Operation kinds:

- ``build``: PDFs (or documents, or vectors) on disk -> searchable store
  with its IVF index written partitioned by list and, where the
  workload has them, graph edges written;
- ``ask``: one exact question through ``RagPipeline.ask``;
- ``ivf_ask``: one question through ``ann_ivf_topk`` over the persisted
  index;
- ``batch``: one ``knn_join`` over a batch of questions;
- ``append``: ``VectorStore.add`` plus ``ivf_append`` of a small batch.

Both modes run the same engine calls. With tracing on, spans are put
around the methods of the run's embedder, store and pipeline objects
(``Tracer.wrap``), so ``RagPipeline.ask`` and ``ingest_documents`` run
unchanged and their collaborators are timed from outside.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

import numpy as np

import gen
import verify as ref
from verify import Mismatch

from rag_application_with_vectordb_spark.embedder import HashEmbedder
from rag_application_with_vectordb_spark.operators.ann import ann_ivf_topk, ivf_append, ivf_assign
from rag_application_with_vectordb_spark.operators.chunker import chunk_documents
from rag_application_with_vectordb_spark.operators.dedup import exact_dup_groups, minhash_lsh_pairs
from rag_application_with_vectordb_spark.operators.graph_ann import knn_graph_edges
from rag_application_with_vectordb_spark.operators.kmeans import kmeans_fit
from rag_application_with_vectordb_spark.operators.knn import knn_join
from rag_application_with_vectordb_spark.rag import RagPipeline, VectorStore, ingest_documents
from rag_application_with_vectordb_spark.sources.pdf import parse_documents, read_binary_documents

K = 5
DIM = 64
MINHASH = dict(n=3, num_hashes=12, bands=4, min_jaccard=0.5)

#: Sizes per workload: ``build`` builds from PDFs (with dedup and graph
#: edges), ``ask_large`` from a planted-cluster vector parquet.
SIZES = {
    "build": dict(
        pdf_docs=100, chunk=(1000, 200), lists=8, iters=3, nprobe=2, graph_m=6,
        batch=8, append=16,
        mix=("ask", "ask", "ivf_ask", "ask", "ask", "batch", "ask", "ask", "ivf_ask",
             "ask", "ask", "append"),
    ),
    "ask_large": dict(
        vectors=24_000, clusters=32, lists=16, train=2000, iters=2, nprobe=3,
        batch=2, append=128,
        mix=("ask", "batch", "ask", "ivf_ask", "ask", "append", "ask", "batch", "ask", "ivf_ask",
             "ask", "append"),
    ),
}
#: Questions of the recall measurement, asked of the store as built.
RECALL_QUESTIONS = {"build": 1024, "ask_large": 256}


class Run:
    """One workload run: the engine objects it builds, the reference
    copy of the store, and every op's wall time."""

    def __init__(self, spark, tracer, work: str, seed: int, name: str):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.name = name
        self.cfg = SIZES[name]
        self.embedder = HashEmbedder(dim=DIM)
        self.times: dict[str, list[float]] = defaultdict(list)
        self.traced: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failures: list[str] = []
        self.counts: dict[str, float] = {}
        self.n_asks = 0
        self.n_appends = 0
        self.next_id = 10**12
        self.fresh_text: str | None = None
        self.fresh_vec: np.ndarray | None = None
        self.planning: list[float] = []
        self.results = 0
        self.warm_up_s = 0.0
        self.asked: list[str] = []
        self.recall = 0.0
        self.search_rows: list | None = None
        self.search_df = None

    # -- bookkeeping ------------------------------------------------------

    def timed(self, kind: str, fn):
        """Run one op, record its wall time (under ``traced`` when the
        tracer is on), return its output."""
        t0 = time.perf_counter()
        with self.tr.op(kind):
            out = fn()
        (self.traced if self.tr.enabled else self.times)[kind].append(time.perf_counter() - t0)
        return out

    def check(self, op: str, fn) -> None:
        """Count one attempted op; a Mismatch counts it failed."""
        self.attempted += 1
        try:
            fn()
        except Mismatch as e:
            self.failures.append(f"{op}: {e}")

    # -- inputs -----------------------------------------------------------

    def make_inputs(self) -> None:
        c = self.cfg
        if "pdf_docs" in c:
            self.docs = gen.make_docs(self.seed, c["pdf_docs"])
            self.pdf_dir = os.path.join(self.work, "pdfs")
            gen.write_pdfs(self.docs, self.pdf_dir)
        else:
            self.vs = gen.make_vectors(self.seed, c["vectors"], DIM, c["clusters"])
            self.vec_path = os.path.join(self.work, "vectors")
            gen.write_vectors_parquet(self.vs, self.vec_path)
        self.q_texts = iter(gen.make_questions(self.seed, 10_000, self.docs) if hasattr(self, "docs")
                            else (f"q{i} passage question" for i in range(10**9)))

    def question_text(self) -> str:
        if self.fresh_text is not None:  # the first ask after an append targets it
            q, self.fresh_text = self.fresh_text, None
            return q
        return next(self.q_texts)

    def question_vec(self) -> np.ndarray:
        if self.fresh_vec is not None:
            v, self.fresh_vec = self.fresh_vec, None
            return v
        if hasattr(self, "vs"):
            self.n_asks += 1
            return gen.make_vectors(self.seed, 1, DIM, self.cfg["clusters"],
                                    tag=f"q{self.n_asks}").vecs[0]
        return ref.hash_embed([next(self.q_texts)], DIM)[0]

    # -- build ------------------------------------------------------------

    def build(self) -> None:
        """Build the store, its IVF index and graph edges; the run then
        serves from them."""
        self.store_path = os.path.join(self.work, "store")
        self.ivf_path = os.path.join(self.work, "ivf")
        self.edges_path = os.path.join(self.work, "edges")
        out = self.timed("build", self._build)
        self.check("build", lambda: self._verify_build(out))
        self.recall = self._recall()
        if self.tr.enabled and "pdf_docs" in self.cfg:
            self._time_lazy_layers(out["docs_df"])
        if "docs_df" in out:
            out["docs_df"].unpersist()

    def _build(self) -> dict:
        c, tr, spark = self.cfg, self.tr, self.spark
        out: dict = {}
        self.store = VectorStore(spark, self.store_path)
        tr.wrap(self.store, "add", "rag.store_add")
        if "vectors" in c:
            self.store.add(spark.read.parquet(self.vec_path))
        else:
            with tr.span("pdf.parse"):
                docs = parse_documents(read_binary_documents(spark, self.pdf_dir)).persist()
                docs.count()
            out["docs_df"] = docs
            with tr.span("dedup.exact"):
                out["exact"] = exact_dup_groups(docs).collect()
            inter: list = []
            with tr.span("dedup.minhash"):
                out["pairs"] = minhash_lsh_pairs(docs, **MINHASH, intermediates=inter).collect()
            for df in inter:
                df.unpersist()
            ingest_documents(self.store, docs, self.embedder, *c["chunk"])
        store_df = self.store.df()
        train = store_df
        if "train" in c:
            train = store_df.orderBy("id").limit(c["train"])
        with tr.span("kmeans.fit"):
            rows = kmeans_fit(train, k=c["lists"], iterations=c["iters"], id_col="id").collect()
        self.cents = sorted((int(r["centroid_id"]), [float(x) for x in r["cvec"]]) for r in rows)
        with tr.span("ann.ivf_assign"):
            ivf_assign(store_df, self.cents, corpus_id="id").write.partitionBy(
                "centroid_id"
            ).parquet(self.ivf_path)
        if "graph_m" in c:
            with tr.span("graph.edges"):
                knn_graph_edges(store_df, self.cents, m=c["graph_m"], corpus_id="id").write.parquet(
                    self.edges_path
                )
        self.pipe = RagPipeline(self.store, self.embedder)
        tr.wrap(self.embedder, "embed_one", "embedder.embed_one")
        tr.wrap(self.pipe, "answerer", "rag.answer")
        self._trace_search()
        return out

    def _trace_search(self) -> None:
        """Spans around ``store.search`` (plan build) and around the
        ``collect`` that ``RagPipeline.ask`` runs on the frame it returns
        (the scan); the collected rows are kept for the traced ask's id
        and similarity check."""
        search, tr = self.store.search, self.tr

        def traced(qvec, k=K):
            with tr.span("rag.search"):
                df = search(qvec, k=k)
            if tr.enabled:
                collect = df.collect

                def traced_collect():
                    with tr.span("rag.search"):
                        self.search_rows = collect()
                    return self.search_rows

                df.collect = traced_collect
                self.search_df = df
            return df

        self.store.search = traced

    def _time_lazy_layers(self, docs) -> None:
        """Chunking and embedding are lazy inside ``ingest_documents`` and
        run within the store write, so the traced run times them apart:
        each public call on its own, materialized, in an op of its own
        after the build."""
        from pyspark.sql import functions as F

        size, overlap = self.cfg["chunk"]
        with self.tr.op("layers"):
            with self.tr.span("chunker.chunk"):
                ch = chunk_documents(docs, chunk_size=size, overlap=overlap).persist()
                ch.count()
            with self.tr.span("embedder.embed"):
                emb = self.embedder.embed_df(
                    ch.select(F.col("chunk_text").alias("text")), text_col="text"
                ).persist()
                emb.count()
        emb.unpersist()
        ch.unpersist()

    def _verify_build(self, out: dict) -> None:
        c, spark = self.cfg, self.spark
        pdf = self.store.df().select("id", "text", "embedding").toPandas()
        ids = pdf["id"].to_numpy(np.int64)
        texts = list(pdf["text"])
        got = np.array(pdf["embedding"].tolist(), dtype=np.float64).reshape(len(ids), DIM)
        if len(set(ids.tolist())) != len(ids):
            raise Mismatch("store: duplicate chunk ids")
        if "vectors" in c:
            order = np.argsort(ids)
            if (
                not np.array_equal(ids[order], self.vs.ids)
                or not np.array_equal(got[order], self.vs.vecs)
                or [texts[i] for i in order] != self.vs.texts
            ):
                raise Mismatch("store: rows differ from the generated corpus")
            ids, texts, vecs = self.vs.ids, self.vs.texts, self.vs.vecs
        else:
            size, overlap = c["chunk"]
            want = sorted(
                t for d in range(len(self.docs.names)) for t in ref.chunks(self.docs.text(d), size, overlap)
            )
            if sorted(texts) != want:
                raise Mismatch("chunker: chunk texts differ from the reference windows")
            vecs = ref.hash_embed(texts, DIM)
            bad = np.flatnonzero(~(vecs == got).all(axis=1))
            if bad.size:
                raise Mismatch(f"embedder: {bad.size} hash embeddings differ, e.g. id {ids[bad[0]]}")
            self.counts["chunker.chunks"] = float(len(ids))
            self._verify_docs(out)
        corpus = ref.Corpus(ids, vecs, texts)
        corpus.set_centroids(self.cents)
        self.ref = corpus
        inv = spark.read.parquet(self.ivf_path).select("id", "centroid_id").toPandas()
        cell = dict(zip(corpus.ids.tolist(), corpus.cell.tolist()))
        wrong = sum(cell.get(int(i)) != int(cid) for i, cid in zip(inv["id"], inv["centroid_id"]))
        if wrong or len(inv) != len(corpus.ids):
            raise Mismatch(f"ivf_assign: {wrong} rows in the wrong list, {len(inv)} rows written")
        sizes = np.bincount(np.searchsorted(corpus.cids, corpus.cell))
        self.counts["ann.list_size_max"] = float(sizes.max())
        if "graph_m" in c:
            e = spark.read.parquet(self.edges_path).toPandas()
            got_edges = set(zip(e["src"].tolist(), e["dst"].tolist()))
            want_edges = ref.graph_edges(corpus.ids, corpus.vecs, corpus.cell, c["graph_m"])
            if got_edges != want_edges or len(e) != len(got_edges):
                raise Mismatch(
                    f"graph: {len(got_edges ^ want_edges)} edges differ ({len(e)} rows written)"
                )
            self.counts["graph.edges"] = float(len(e))

    def _verify_docs(self, out: dict) -> None:
        docs = out["docs_df"].select("doc_id", "path", "text").collect()
        by_name = {os.path.basename(r["path"]): r for r in docs}
        if sorted(by_name) != sorted(self.docs.names):
            raise Mismatch(f"pdf: parsed {len(by_name)} files, expected {len(self.docs.names)}")
        doc_ids, texts = [], []
        for d, name in enumerate(self.docs.names):
            r = by_name[name]
            if r["text"] != self.docs.text(d):
                raise Mismatch(f"pdf: text of {name} differs")
            doc_ids.append(int(r["doc_id"]))
            texts.append(r["text"])
        self.counts["pdf.docs"] = float(len(docs))
        groups = ref.exact_groups(doc_ids, texts)
        got = {
            int(r["doc_id"]): (int(r["group_size"]), bool(r["is_canonical"]), r["fingerprint"])
            for r in out["exact"]
        }
        if got != groups:
            raise Mismatch("dedup: exact duplicate groups differ")
        want_pairs = ref.minhash_pairs(doc_ids, texts, **MINHASH)
        got_pairs = {(int(r["doc_a"]), int(r["doc_b"])): float(r["jaccard"]) for r in out["pairs"]}
        if got_pairs != want_pairs or len(got_pairs) != len(out["pairs"]):
            raise Mismatch(
                f"dedup: MinHash pairs differ ({len(got_pairs)} found, {len(want_pairs)} expected)"
            )
        self.counts["dedup.pairs"] = float(len(got_pairs))
        found = 0
        for a, b in self.docs.exact_dups:
            found += got[doc_ids[a]][2] == got[doc_ids[b]][2]
        for a, b in self.docs.near_dups:
            found += tuple(sorted((doc_ids[a], doc_ids[b]))) in got_pairs
        planted = len(self.docs.exact_dups) + len(self.docs.near_dups)
        self.counts["dedup.planted_found_ratio"] = found / planted if planted else 1.0

    # -- serving ops ------------------------------------------------------

    def ask(self) -> None:
        q = self.question_text()
        self.search_rows = self.search_df = None
        ans = self.timed("ask", lambda: self.pipe.ask(q, k=K))
        rows = self.search_rows  # set by a traced ask only
        if self.search_df is not None:
            self.planning.append(self.tr.planning_ms(self.search_df))
        self.asked.append(q)
        qv = ref.hash_embed([q], DIM)
        want = self.ref.exact(qv, K)[0]

        def check():
            ref.expect_answer("ask", ans, q, self.ref.text_of([i for i, _ in want]))
            if rows is not None:
                ref.expect_topk("ask", [(int(r["id"]), float(r["similarity"])) for r in rows], want)

        self.check("ask", check)

    def recheck(self, n: int = 2) -> None:
        """After the window, untimed. Ids and similarities of ``n`` of the
        run's questions, asked again through the same retrieval against
        the final store (an untraced ask returns only its answer text,
        which the loop checks). If no op asked for the rows of the last
        append before the window closed, an exact and an IVF question
        for them check its freshness here."""
        step = max(1, len(self.asked) // n)
        qs = self.asked[::step][:n]
        if self.fresh_text is not None:
            qs.append(self.question_text())
        for q in qs:
            rows = self.pipe.retrieve(q, k=K).collect()
            want = self.ref.exact(ref.hash_embed([q], DIM), K)[0]
            self.check("ask recheck", lambda: ref.expect_topk(
                "ask recheck", [(int(r["id"]), float(r["similarity"])) for r in rows], want))
        if self.fresh_vec is not None:
            q = self.question_vec()[None, :]
            rows = self.ivf_topk(q)()
            want = self.ref.ivf(q, K, self.cfg["nprobe"])
            self.check("ivf_ask recheck", lambda: ref.expect_topk(
                "ivf_ask recheck", ref.rows_to_topk(rows, "query_id", "id", 1)[0], want[0]))

    def _query_df(self, Q: np.ndarray):
        return self.spark.createDataFrame(
            [(i, [float(x) for x in q]) for i, q in enumerate(Q)],
            "query_id long, qvec array<double>",
        )

    def ivf_topk(self, Q: np.ndarray):
        def run():
            df = ann_ivf_topk(
                None, self.cents, self._query_df(Q), k=K, nprobe=self.cfg["nprobe"],
                corpus_id="id", inverted=self.spark.read.parquet(self.ivf_path),
            )
            with self.tr.span("ann.ivf_topk"):
                rows = df.collect()
            if self.tr.enabled:
                self.planning.append(self.tr.planning_ms(df))
            return rows

        return run

    def ivf_ask(self) -> None:
        q = self.question_vec()[None, :]
        rows = self.timed("ivf_ask", self.ivf_topk(q))
        want = self.ref.ivf(q, K, self.cfg["nprobe"])
        self.check("ivf_ask", lambda: ref.expect_topk(
            "ivf_ask", ref.rows_to_topk(rows, "query_id", "id", 1)[0], want[0]))
        if self.tr.enabled:  # rows per result is over traced asks, whose input is counted
            self.results += len(rows)

    def batch(self) -> None:
        Q = np.stack([self.question_vec() for _ in range(self.cfg["batch"])])

        def run():
            df = knn_join(self.store.df(), self._query_df(Q), k=K, corpus_id="id")
            with self.tr.span("knn.join"):
                return df.collect()

        rows = self.timed("batch", run)
        want = self.ref.exact(Q, K)
        got = ref.rows_to_topk(rows, "query_id", "id", len(Q))

        def check():
            for i in range(len(Q)):
                ref.expect_topk(f"batch query {i}", got[i], want[i])

        self.check("batch", check)

    def append(self) -> None:
        c = self.cfg
        n = c["append"]
        self.n_appends += 1
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        texts = [f"appended passage {self.n_appends} {i} about {t}" for i, t in
                 zip(ids, (next(self.q_texts) for _ in range(n)))]
        if hasattr(self, "vs"):
            # half the batch near planted clusters, half hash-embedded
            # text so exact asks can find them
            vs = gen.make_vectors(self.seed, n, DIM, c["clusters"], tag=f"a{self.n_appends}")
            vecs = vs.vecs.copy()
            vecs[n // 2:] = ref.hash_embed(texts[n // 2:], DIM)
        else:
            vecs = ref.hash_embed(texts, DIM)
        rows = [(i, t, [float(x) for x in v]) for i, t, v in zip(ids, texts, vecs)]

        def run():
            # a small batch arrives as one partition: one new file in the
            # store and at most one per touched IVF list, not one per core
            df = self.spark.createDataFrame(
                rows, "id long, text string, embedding array<double>"
            ).coalesce(1)
            self.store.add(df)
            with self.tr.span("ann.ivf_append"):
                ivf_append(df, self.cents, self.ivf_path, corpus_id="id")

        self.timed("append", run)
        self.ref.append(ids, vecs, texts)
        self.fresh_text = texts[-1]
        self.fresh_vec = vecs[0]
        # freshness is checked by the next ask and ivf_ask, which target
        # this batch; the op itself counts as attempted here
        self.attempted += 1

    def _recall(self) -> float:
        """Mean top-5 overlap of IVF with the exact top-5 over a fixed
        question set, asked of the store as built (before any append),
        so each seed gives one value. Computed by the reference replay
        over the centroids the engine trained; the replay stands for the
        engine because every IVF answer the engine gives in the run is
        checked to match it exactly."""
        n = RECALL_QUESTIONS[self.name]
        if hasattr(self, "vs"):
            Q = gen.make_vectors(self.seed, n, DIM, self.cfg["clusters"], tag="recall").vecs
        else:
            Q = ref.hash_embed(gen.make_questions(self.seed, n, self.docs, tag="recall"), DIM)
        overlap = []
        for s in range(0, n, 64):
            sims = self.ref.sims(Q[s : s + 64])
            got = self.ref.ivf(Q[s : s + 64], K, self.cfg["nprobe"], sims)
            want = self.ref.exact(Q[s : s + 64], K, sims)
            overlap += [len({a for a, _ in g} & {b for b, _ in w}) / K for g, w in zip(got, want)]
        return float(np.mean(overlap))

    def _ops(self) -> dict:
        return {"ask": self.ask, "ivf_ask": self.ivf_ask, "batch": self.batch,
                "append": self.append}

    def warm_up(self) -> None:
        """One untraced op of each kind, checked but left out of the
        timings: the first op of a kind pays code generation and JIT
        warm-up that a long-running service pays once."""
        ops = self._ops()
        traced, self.tr.enabled = self.tr.enabled, False
        for kind in dict.fromkeys(self.cfg["mix"]):
            ops[kind]()
            self.warm_up_s += sum(self.times[kind])
            self.times[kind].clear()
        self.tr.enabled = traced

    def loop(self, seconds: float, trace: bool = False) -> None:
        """The closed loop: ops in the workload's mix until ``seconds``
        have passed and every kind has run. With ``trace``, every second
        op of a kind is traced, so traced and untraced ops of a kind are
        interleaved in time and their wall-time difference is the
        tracing overhead."""
        ops = self._ops()
        mix = self.cfg["mix"]
        n = defaultdict(int)
        end = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < end or not all(self.times[k] for k in mix) or (
            trace and not all(self.traced[k] for k in mix)
        ):
            kind = mix[i % len(mix)]
            self.tr.enabled = trace and n[kind] % 2 == 1
            ops[kind]()
            n[kind] += 1
            i += 1
        self.tr.enabled = False
