"""The benchmark workloads.

Each workload writes its inputs and computes the expected answers in
``prepare``, which needs no Spark and so runs while the JVM starts,
builds what needs Spark in ``setup``, and then hands out *passes*: a
fixed list of operations that the timed loop runs in order. Every
operation goes through a public entry point of the
engine (a registered ``QuerySpec`` or a function of ``operators/*``),
returns a materialised result, and is checked against an answer that
was computed before timing started (a DuckDB oracle, an exact
brute-force k-NN, or the client's own model of what it wrote).

- ``batch_mix``: registered headline queries, one per family, plus
  the ``availableNow`` drain of the stream-stream attribution join over
  a Zipf-skewed events table.
- ``serve_mixed``: the CineGraph serving tier (tree, movie lookup, HNSW,
  IVF and PQ k-NN) under a closed-loop client that also writes.

``warm_kinds`` names the operation kinds set-up runs once, untimed,
before the timed phase (``None``: every kind of the first pass), on
``warm_threads`` threads.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass
from typing import Callable

import numpy as np

import gen

SCALE = 0.01  # star schema size: ~60k lineitem rows
N_EVENTS = 5_000
N_DOCS = 500
N_VECS = 1_000


@dataclass
class Op:
    """One client operation. ``run`` performs the call and returns the
    materialised result; ``check`` says whether it is the right one."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    write: bool = False


# --- result comparison -------------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def rowset(columns: list[str], rows) -> tuple[list[str], list[str]]:
    """Order-insensitive canonical form: columns by name, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return ([columns[i] for i in order],
            sorted("|".join(_canon(r[i]) for i in order) for r in rows))


def _duck(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{data_dir}/{name}.parquet'")
    return con


# --- registry-driven workloads ---------------------------------------------


class BatchMix:
    """Registered headline queries, one per family, plus one
    ``availableNow`` drain. Each query is one operation, split into the
    driver-side build (``spec.spark``, which includes eager checkpoints
    and streaming drains) and the action (``collect``). Every query is
    warmed up: run cold, most take two to ten times as long. The queries
    share no state, so the warm-up runs them on two threads."""

    warm_kinds = None
    warm_threads = 2

    queries = (
        "q1_pricing_summary",                      # TPC-H relational
        "strfn_clean_chain",                       # text cleaning
        "dedup_ngram_jaccard_pairs",               # n-gram Jaccard dedup
        "vec_ann_ivf_topk",                        # rebuild-per-query ANN
        "graph_sssp_weighted",                     # graph supersteps
        "events_asof_nearest_click",               # events / as-of
        "ts_holt_linear_daily",                    # Arrow/pandas boundary
        "stream_join_purchase_click_attribution",  # stream-stream join
    )

    def prepare(self, data_dir: str, seed: int) -> None:
        from cinegraph_spark.queries import load_all

        self.data_dir = os.path.join(data_dir, "tables")
        tables = gen.engine_tables(seed, SCALE, N_EVENTS, N_DOCS, N_VECS)
        gen.write_tables(tables, self.data_dir)
        self.specs = load_all()
        con = _duck(self.data_dir, tables)
        self.expected = {}
        for name in self.queries:
            cur = con.execute(self.specs[name].oracle)
            self.expected[name] = rowset([d[0] for d in cur.description],
                                         cur.fetchall())
        con.close()

    def setup(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def pass_ops(self, pass_no: int) -> list[Op]:
        return [Op(name, self._runner(name), self._checker(name))
                for name in self.queries]

    def _runner(self, name: str):
        spec = self.specs[name]

        def run():
            with self.tracer.span("queries.build", query=name):
                df = spec.spark(self.spark, self.data_dir)
            with self.tracer.span("queries.exec", query=name):
                rows = df.collect()
            return df.columns, rows
        return run

    def _checker(self, name: str):
        want = self.expected[name]
        return lambda res: rowset(res[0], res[1]) == want


# --- serving ------------------------------------------------------------------

N_MOVIES = 40
N_SERVE_VECS = 512
ADMISSIBLE = (2, 5, 7)        # filtered k-NN label predicate
PQ_LABEL = 3                  # filtered PQ: one label, exact-rerank regime
NEW_LABEL = gen.N_CLUSTERS    # vectors written after the build
#: requests of each kind in one pass (writes are each followed by a read
#: that must see them). The shares are not taken from a measured request
#: log: one of each kind keeps a pass inside the run budget while every
#: kind is timed. Conclusions rest on the per-kind latencies.
MIX = {
    "children": 1, "subtree": 1, "movie": 1,
    "knn_hnsw": 1, "knn_hnsw_filtered": 1,
    "knn_ivf": 1, "knn_ivf_filtered": 1,
    "knn_pq": 1, "knn_pq_filtered": 1,
    "hnsw_insert": 1, "movie_upsert": 1, "movie_delete": 1,
}


def _cos_top(corpus: np.ndarray, ids: np.ndarray, qv: np.ndarray, k: int,
             mask=None) -> list[tuple[int, float]]:
    """Exact cosine top-k by (score desc, id asc)."""
    sims = corpus @ qv / (np.linalg.norm(corpus, axis=1) * np.linalg.norm(qv))
    if mask is not None:
        sims = np.where(mask, sims, -np.inf)
    order = np.lexsort((ids, -np.round(sims, 6)))[:k]
    return [(int(ids[i]), float(sims[i])) for i in order if sims[i] > -np.inf]


def _same_ranking(got: list[tuple[int, float]],
                  want: list[tuple[int, float]]) -> bool:
    return (len(got) == len(want)
            and all(g[0] == w[0] and abs(g[1] - w[1]) < 2e-6
                    for g, w in zip(got, want)))


class ServeMixed:
    """CineGraph serving state plus a closed-loop, single-thread client.

    Set-up runs the batch pipeline (clean → windowize → stub scores →
    ``movie_features`` → cluster tree → ``build_graph_tables``), writes
    the graph and a movies layout, and builds HNSW, IVF and PQ indexes
    with generations. A pass is the ``MIX`` of requests in a fixed
    order, so the one pass a run times is the same sequence for every
    seed; the seed draws the node ids (Zipf-wise), the movies and the
    query vectors, from a pool whose exact answers are known.

    The build already runs the engine's Spark paths cold, and no
    request ran measurably slower right after it: on a 4-vCPU virtual
    machine the first pass after the build took 15.3 s, the next two
    14.2 and 15.6 s, and each k-NN kind's first latency was within the
    range of its later ones. So set-up runs no separate warm-up."""

    warm_kinds = ()
    warm_threads = 1

    def prepare(self, data_dir: str, seed: int) -> None:
        self.seed = seed
        self.root = root = os.path.join(data_dir, "serve")
        rng = np.random.default_rng(seed)
        self.centers = centers = gen.cluster_centers(seed)
        docs = gen.documents_table(rng, N_MOVIES)
        emb = gen.embeddings_table(rng, N_SERVE_VECS, centers)
        gen.write_tables({"documents": docs, "embeddings": emb}, root)
        ratings = np.round(rng.uniform(1, 10, N_MOVIES), 1)
        self.movies = {i: float(ratings[i]) for i in range(N_MOVIES)}
        self.deleted: set[int] = set()

        # exact answers for the query pool
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)
                        ).astype(np.float64)
        ids = emb.column("vec_id").to_numpy()
        labels = emb.column("label").to_numpy()
        self.vecs = vecs
        self.pool = [int(i) for i in np.random.default_rng(seed + 1).choice(
            ids, 40, replace=False)]
        cents = np.stack([vecs[labels == c].mean(axis=0)
                          for c in range(gen.N_CLUSTERS)])
        adm = np.isin(labels, ADMISSIBLE)
        self.expect = {}
        for q in self.pool:
            qv, not_self = vecs[q], ids != q
            probe = _cos_top(cents, np.arange(gen.N_CLUSTERS), qv, 2)
            probe_f = _cos_top(cents, np.arange(gen.N_CLUSTERS), qv, 2,
                               mask=np.isin(np.arange(gen.N_CLUSTERS),
                                            ADMISSIBLE))
            self.expect[q] = {
                "knn_hnsw": _cos_top(vecs, ids, qv, 3, mask=not_self),
                "knn_hnsw_filtered": _cos_top(vecs, ids, qv, 3,
                                              mask=not_self & adm),
                "knn_ivf": _cos_top(vecs, ids, qv, 10, mask=np.isin(
                    labels, [c for c, _ in probe])),
                "knn_ivf_filtered": _cos_top(vecs, ids, qv, 10, mask=np.isin(
                    labels, [c for c, _ in probe_f])),
                "knn_pq_filtered": _cos_top(vecs, ids, qv, 10,
                                            mask=labels == PQ_LABEL),
            }
        self.n_pq_admissible = int((labels == PQ_LABEL).sum())

    def setup(self, spark, tracer) -> None:
        from pyspark.sql import functions as F

        from cinegraph_spark.functions.text_clean import clean_subtitles
        from cinegraph_spark.operators.features import movie_features
        from cinegraph_spark.operators.graph_build import build_graph_tables
        from cinegraph_spark.operators.hnsw import (
            hnsw_corpus_layout,
            hnsw_index_save,
        )
        from cinegraph_spark.operators.maintenance import hash_layout_save
        from cinegraph_spark.operators.scoring import stub_scores
        from cinegraph_spark.operators.similarity import (
            ivf_centroids_save,
            ivf_corpus_layout,
            pq_codes_save,
            pq_train,
        )
        from cinegraph_spark.operators.windowize import (
            tokenize_whitespace,
            windowize,
        )
        from cinegraph_spark.schemas import EMOTIONS, NUM_ACTS
        from cinegraph_spark.session import bounded_shuffle

        self.spark, self.tracer, root = spark, tracer, self.root
        with tracer.span("pipeline.build"):
            d = spark.read.parquet(f"{root}/documents.parquet")
            toks = d.select("doc_id", tokenize_whitespace(
                clean_subtitles(F.col("text"))).alias("tokens"))
            scored = stub_scores(
                windowize(toks, "doc_id", window_size=32, stride=16), "doc_id")
            feats = movie_features(scored, key_col="doc_id", round_to=4)
            feats = feats.localCheckpoint(eager=True)
        feature_cols = [f"{e}_act{a}" for a in range(1, NUM_ACTS + 1)
                        for e in EMOTIONS] + [f"{e}_std" for e in EMOTIONS]
        with tracer.span("clustering.tree"), bounded_shuffle(spark):
            graph, membership = build_graph_tables(
                spark, feats, "doc_id", feature_cols, k=8, seed=42)
            graph.write.parquet(f"{root}/graph")
            membership.write.parquet(f"{root}/membership")
        self.graph = spark.read.parquet(f"{root}/graph")
        nodes = sorted((r["id"], r["path"]) for r in self.graph.collect())
        self.nodes = nodes
        self.inner_paths = [p for _, p in nodes
                            if any(q.startswith(p + ".") for _, q in nodes)]

        # movies layout: the target of lookups, upserts and erasures
        leaf = {r["doc_id"]: r["graph_id"] for r in
                spark.read.parquet(f"{root}/membership").collect()}
        movie_rows = [(i, f"Movie {i}", self.movies[i], leaf.get(i))
                      for i in range(N_MOVIES)]
        self.movie_schema = ("movie_id long, title string, rating double, "
                             "graph_id long")
        self.movies_path = f"{root}/movies"
        with tracer.span("maintenance.layout_save"):
            hash_layout_save(self._df(movie_rows, self.movie_schema),
                             self.movies_path, "movie_id", 4)

        e = spark.read.parquet(f"{root}/embeddings.parquet").select(
            "vec_id", "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        e = e.localCheckpoint(eager=True)
        self.e = e
        self.hnsw_path = f"{root}/hnsw"
        self.hnsw_corpus = f"{root}/hnsw_corpus"
        with tracer.span("hnsw.save"):
            hnsw_index_save(e.select("vec_id", "v"), self.hnsw_path,
                            target_rows_per_subindex=256, keep_generations=2)
            hnsw_corpus_layout(e.select("vec_id", "v"), self.hnsw_corpus,
                               self.hnsw_path)
        self.ivf_path, self.ivf_corpus = f"{root}/ivf", f"{root}/ivf_corpus"
        with tracer.span("similarity.ivf_save"):
            ivf_centroids_save(e, self.ivf_path, keep_generations=2)
            ivf_corpus_layout(e, self.ivf_corpus)
        self.pq_path = f"{root}/pq"
        with tracer.span("similarity.pq_save"), bounded_shuffle(spark):
            books = pq_train(e, m=8, k=16)
            pq_codes_save(e.select("vec_id", "v"), books, self.pq_path,
                          n_partitions=4, keep_generations=2)

    # -- helpers -------------------------------------------------------------

    def _df(self, rows, schema):
        from cinegraph_spark.session import local_df

        return local_df(self.spark, rows, schema)

    def _qdf(self, qid: int, vec):
        return self._df([(qid, [float(x) for x in vec])],
                        "vec_id long, v array<double>")

    def _exact_cos(self, vid: int, qv: np.ndarray) -> float:
        v = self.vecs[vid]
        return float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))

    # -- the request stream --------------------------------------------------

    def pass_ops(self, pass_no: int) -> list[Op]:
        rng = random.Random(self.seed * 100_003 + pass_no)
        kinds = [k for k, n in MIX.items() for _ in range(n)]
        ops: list[Op] = []
        for i, kind in enumerate(kinds):
            ops.extend(getattr(self, "_" + kind)(rng, pass_no, i))
        return ops

    def _zipf_index(self, rng: random.Random, n: int) -> int:
        # P(i) ~ 1 / (i + 1)^1.2 over n items
        w = [1 / (i + 1) ** 1.2 for i in range(n)]
        return rng.choices(range(n), weights=w)[0]

    def _children(self, rng, pass_no, i):
        from cinegraph_spark.operators.graph_build import children_of

        path = self.inner_paths[self._zipf_index(rng, len(self.inner_paths))]
        want = sorted(n for n, p in self.nodes if p.startswith(path + ".")
                      and "." not in p[len(path) + 1:])

        def run():
            with self.tracer.span("graph_build.children"):
                return children_of(self.graph, path).collect()
        return [Op("read.children", run,
                   lambda rows: sorted(r["id"] for r in rows) == want)]

    def _subtree(self, rng, pass_no, i):
        from cinegraph_spark.operators.graph_build import subtree

        path = self.inner_paths[self._zipf_index(rng, len(self.inner_paths))]
        want = sorted(n for n, p in self.nodes
                      if p == path or p.startswith(path + "."))

        def run():
            with self.tracer.span("graph_build.children"):
                return subtree(self.graph, path).collect()
        return [Op("read.subtree", run,
                   lambda rows: sorted(r["id"] for r in rows) == want)]

    def _movie_read(self, movie_id: int, kind: str = "read.movie") -> Op:
        """Lookup of one movie; the expected answer is taken from the
        client's model when the check runs, i.e. after every earlier
        write of the pass."""
        from pyspark.sql import functions as F

        from cinegraph_spark.operators.maintenance import layout_read

        def run():
            with self.tracer.span("maintenance.read"):
                return layout_read(self.spark, self.movies_path).filter(
                    F.col("movie_id") == movie_id).collect()

        def check(rows) -> bool:
            if movie_id in self.deleted:
                return rows == []
            return (len(rows) == 1
                    and rows[0]["rating"] == self.movies[movie_id])
        return Op(kind, run, check)

    def _movie(self, rng, pass_no, i):
        return [self._movie_read(self._zipf_index(rng, N_MOVIES))]

    def _movie_upsert(self, rng, pass_no, i):
        from cinegraph_spark.operators.maintenance import hash_layout_upsert

        # upserts own the lower half of the ids, erasures the upper half
        movie_id = rng.randrange(N_MOVIES // 2)
        rating = round(1 + (pass_no * 7 + i) % 90 / 10, 1)

        def run():
            with self.tracer.span("maintenance.upsert"):
                hash_layout_upsert(self.spark, self.movies_path, self._df(
                    [(movie_id, f"Movie {movie_id}", rating, None)],
                    self.movie_schema))
            self.movies[movie_id] = rating
            return True
        return [Op("write.movie_upsert", run, bool, write=True),
                self._movie_read(movie_id, "read.after_write")]

    def _movie_delete(self, rng, pass_no, i):
        from cinegraph_spark.operators.maintenance import layout_dv_delete

        # erasing an already erased id again is a valid no-op tombstone
        movie_id = rng.randrange(N_MOVIES // 2, N_MOVIES)

        def run():
            with self.tracer.span("maintenance.dv_delete"):
                layout_dv_delete(self.spark, self.movies_path, self._df(
                    [(movie_id,)], "movie_id long"))
            self.deleted.add(movie_id)
            return True
        return [Op("write.movie_delete", run, bool, write=True),
                self._movie_read(movie_id, "read.after_write")]

    def _hnsw_insert(self, rng, pass_no, i):
        from cinegraph_spark.operators.hnsw import (
            hnsw_index_knn,
            hnsw_index_update,
        )
        from cinegraph_spark.operators.maintenance import hash_layout_upsert

        # new vectors come from a cluster no pool query belongs to, so
        # they never displace a pool query's expected neighbours
        new_id = 1_000_000 + pass_no * 100 + i
        vrng = np.random.default_rng([self.seed, pass_no, i])
        vec = gen.clustered_vectors(vrng, self.centers,
                                    np.array([NEW_LABEL]))[0]

        def write():
            with self.tracer.span("hnsw.update"):
                delta = self._qdf(new_id, vec)
                hash_layout_upsert(self.spark, self.hnsw_corpus, delta)
                hnsw_index_update(self.hnsw_corpus, delta.select("vec_id"),
                                  self.hnsw_path)
            return True

        def read():
            with self.tracer.span("hnsw.knn"):
                return hnsw_index_knn(self.spark, self.hnsw_path,
                                      self._qdf(-1, vec), k=3).collect()

        def check(rows) -> bool:
            top = min(rows, key=lambda r: r["rnk"]) if rows else None
            return top is not None and top["nid"] == new_id
        return [Op("write.hnsw_insert", write, bool, write=True),
                Op("read.after_write", read, check)]

    def _pool_query(self, rng) -> int:
        return self.pool[rng.randrange(len(self.pool))]

    def _knn_hnsw(self, rng, pass_no, i, filtered=False):
        from pyspark.sql import functions as F

        from cinegraph_spark.operators.hnsw import (
            hnsw_index_filtered_knn,
            hnsw_index_knn,
        )

        q = self._pool_query(rng)
        kind = "knn_hnsw_filtered" if filtered else "knn_hnsw"
        want = self.expect[q][kind]

        def run():
            with self.tracer.span("hnsw.knn"):
                qdf = self._qdf(q, self.vecs[q])
                if filtered:
                    adm = self.e.filter(F.col("label").isin(*ADMISSIBLE)
                                        ).select("vec_id")
                    out = hnsw_index_filtered_knn(self.spark, self.hnsw_path,
                                                  qdf, adm, k=3)
                else:
                    out = hnsw_index_knn(self.spark, self.hnsw_path, qdf, k=3)
                return out.collect()

        def check(rows) -> bool:
            got = [(r["nid"], r["cos_sim"])
                   for r in sorted(rows, key=lambda r: r["rnk"])]
            return _same_ranking(got, want)
        return [Op("read." + kind, run, check)]

    def _knn_hnsw_filtered(self, rng, pass_no, i):
        return self._knn_hnsw(rng, pass_no, i, filtered=True)

    def _knn_ivf(self, rng, pass_no, i, filtered=False):
        from pyspark.sql import functions as F

        from cinegraph_spark.operators.similarity import ivf_index_topk

        q = self._pool_query(rng)
        kind = "knn_ivf_filtered" if filtered else "knn_ivf"
        want = self.expect[q][kind]

        def run():
            with self.tracer.span("similarity.ivf_topk"):
                qdf = self._qdf(q, self.vecs[q]).select(F.col("v").alias("qv"))
                return ivf_index_topk(
                    self.ivf_corpus, qdf, self.ivf_path, nprobe=2, k=10,
                    cell_filter=(F.col("label").isin(*ADMISSIBLE)
                                 if filtered else None)).collect()

        def check(rows) -> bool:
            return _same_ranking([(r["vec_id"], r["cos_sim"]) for r in rows],
                                 want)
        return [Op("read." + kind, run, check)]

    def _knn_ivf_filtered(self, rng, pass_no, i):
        return self._knn_ivf(rng, pass_no, i, filtered=True)

    def _knn_pq(self, rng, pass_no, i, filtered=False):
        from pyspark.sql import functions as F

        from cinegraph_spark.operators.similarity import pq_index_topk

        q = self._pool_query(rng)
        kind = "knn_pq_filtered" if filtered else "knn_pq"

        def run():
            with self.tracer.span("similarity.pq_topk"):
                qdf = self._qdf(q, self.vecs[q]).select(F.col("v").alias("qv"))
                corpus = self.e.select("vec_id", "v")
                if filtered:
                    # rerank >= |admissible|: the exact regime
                    adm = self.e.filter(F.col("label") == PQ_LABEL
                                        ).select("vec_id")
                    out = pq_index_topk(corpus, qdf, self.pq_path, k=10,
                                        rerank=max(512, self.n_pq_admissible),
                                        admissible=adm)
                else:
                    out = pq_index_topk(corpus, qdf, self.pq_path, k=10,
                                        rerank=40)
                return out.collect()

        def check(rows) -> bool:
            got = [(r["vec_id"], r["cos_sim"]) for r in rows]
            if filtered:
                return _same_ranking(got, self.expect[q][kind])
            # approximate tier: every returned score must be the exact
            # cosine of its vector, ranked, k of them
            qv = self.vecs[q]
            return (len(got) == 10
                    and all(abs(s - self._exact_cos(v, qv)) < 2e-6
                            for v, s in got)
                    and all(a[1] >= b[1] for a, b in zip(got, got[1:])))
        return [Op("read." + kind, run, check)]

    def _knn_pq_filtered(self, rng, pass_no, i):
        return self._knn_pq(rng, pass_no, i, filtered=True)


WORKLOADS = {
    "batch_mix": BatchMix,
    "serve_mixed": ServeMixed,
}

