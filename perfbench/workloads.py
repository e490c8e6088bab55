"""The benchmark's workloads: seeded inputs, set-up, timed passes, output checks.

Each workload is a closed loop with one client: the next call goes out
only when the previous one has returned. Calls go through the package's
public API only. A workload has four phases:

- ``prepare``: harness-side input generation, once per seed, cached on
  disk and excluded from every timing;
- ``prime``: the first call of every kind the timed passes make, on
  a small separate input, so that no timed call is the first of its
  kind (worker start, imports, code generation);
- ``setup``: the scans of the real input, repeated three times;
- ``measure``: timed passes over the real input, repeated until
  ``seconds`` have passed and at least ``MIN_PASSES`` have run, every
  output checked against the numpy oracle in ``gen`` or the planted
  truth.

After each pass the row state is released (``kernel_out``,
``cache.release_caches()``, any persistent RDD left), so a repeated call
with an identical plan never times a cache read.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

import gen
from spans import Tracer

from vectorsearch_with_hnsw_spark import cache
from vectorsearch_with_hnsw_spark.index.build import HnswIndex, hnsw_build
from vectorsearch_with_hnsw_spark.index.local_hnsw import HnswParams, LocalHNSW
from vectorsearch_with_hnsw_spark.index.query import knn_hnsw, knn_hnsw_distributed
from vectorsearch_with_hnsw_spark.operators.clusters import connected_components
from vectorsearch_with_hnsw_spark.operators.dedup import fuzzy_dedup, minhash_lsh_candidates
from vectorsearch_with_hnsw_spark.sources import load_table

K = 10
MIN_PASSES = 3
QUERY_SCHEMA = "query_id long, query_vec array<float>"
VECTOR_SCHEMA = "id long, vec array<float>"


class Run:
    """What one benchmark run observed: per-call latencies, checks, leaks."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.times: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracked_after_op: list[int] = []
        self.persisted_after_release: list[int] = []
        self.values: dict[str, float] = {}

    @contextmanager
    def op(self, name: str):
        """Time one call into a layer (and trace it when tracing is on)."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            yield
            self.times[name].append(time.perf_counter() - t0)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)

    def release(self, spark, *indexes: HnswIndex) -> None:
        """Free the row state a pass left, recording what the package's
        own release hooks did not free."""
        self.tracked_after_op.append(cache.tracked_count())
        for idx in indexes:
            if idx.kernel_out is not None:
                idx.kernel_out.unpersist()
        cache.release_caches()
        jsc = spark.sparkContext._jsc
        self.persisted_after_release.append(int(jsc.getPersistentRDDs().size()))
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        spark.catalog.clearCache()


@dataclass
class Outcome:
    pass_s: list[float]  # engine seconds of each timed pass
    work_per_s: float  # input size over the median time of the pass's main call
    quality: float


def _more(pass_s: list[float], t0: float, seconds: float) -> bool:
    return len(pass_s) < MIN_PASSES or time.perf_counter() - t0 < seconds


def _engine_s(run: Run, names: tuple[str, ...], since: dict[str, int]) -> float:
    return sum(sum(run.times[n][since.get(n, 0):]) for n in names)


def _vectors(spark, sf_dir: str):
    return load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


def _queries(spark, sf_dir: str):
    return load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _frame(spark, ids: np.ndarray, vecs: np.ndarray, schema: str):
    return spark.createDataFrame([(int(i), v.tolist()) for i, v in zip(ids, vecs)], schema)


def _neighbours(rows) -> dict[int, list[int]]:
    out: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for r in rows:
        out[int(r["query_id"])].append((int(r["rnk"]), int(r["neighbor_id"])))
    return {q: [n for _, n in sorted(v)] for q, v in out.items()}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


def _kernel_slice(run: Run, params: HnswParams, base: np.ndarray, queries: np.ndarray) -> None:
    """Time the partition-local kernel in-process on one partition-sized
    slice: add_batch (insert), from_tables (reconstruct), search."""
    ids = np.arange(len(base), dtype=np.int64)
    h = LocalHNSW(params)
    with run.op("index.local_hnsw.add_batch"):
        h.add_batch(ids, base)
    layer, src, dst = h.edges()
    with run.op("index.local_hnsw.from_tables"):
        h2 = LocalHNSW.from_tables(
            params, ids, base, np.array(h.levels, dtype=np.int32), np.zeros(len(ids), bool),
            layer, src, dst, h.ids[h.entry_point], h.max_layer,
        )
    with run.op("index.local_hnsw.search"):
        for q in queries:
            h2.search(q, k=K)
    run.values["index.local_hnsw.insert_ms"] = 1000.0 * run.times["index.local_hnsw.add_batch"][-1] / len(ids)
    run.values["index.local_hnsw.edges_per_node"] = len(src) / float(len(ids))
    run.values["index.local_hnsw.search_ms"] = 1000.0 * run.times["index.local_hnsw.search"][-1] / len(queries)
    run.values["index.local_hnsw.from_tables_s"] = run.times["index.local_hnsw.from_tables"][-1]


class Index512:
    """The reference's one published configuration: dim 512, cosine,
    M=16, efc=200, 4 partitions.

    One timed pass builds the index from scratch, answers a batch probe
    scored for recall, and answers one 16-query interactive probe. The
    build is large enough (400 vectors a partition) that the kernel's
    inserts, not Spark's fixed cost, take most of it.

    The prime builds and probes a small separate index of 256 vectors.
    After the timed passes, the traced run also takes that input, with
    16 vectors appended, through the write path (append, delete,
    rebuild, save, load). Every answer is checked against the exact
    top-10 of the vectors alive at that moment."""

    name = "index_512d"
    primary = "index.query"  # op_p50_s: one 16-query interactive probe
    n_base, n_batch, batch = 1600, 200, 16
    n_probe_sets = 4  # interactive probes rotate through this many query sets
    n_small, append_n, delete_n = 256, 16, 8
    spec = gen.VectorSpec(n_base=n_base, n_queries=n_batch + n_probe_sets * batch,
                          dim=512, n_clusters=256, spread=3.0)
    small = gen.VectorSpec(n_base=n_small + append_n, n_queries=n_batch + batch,
                           dim=512, n_clusters=256, spread=3.0)
    params = HnswParams(dim=512, metric="cosine", M=16, ef_construction=200)
    partitions = 4
    # the batch probe runs at a tight ef, where recall@10 sits well below
    # 1.0 and any loss of graph quality shows; the interactive probes use
    # the default ef_search
    batch_ef = 24
    batch_recall_floor = 0.8
    recall_floor = 0.9
    pass_ops = ("index.build", "index.query.batch", "index.query")

    def prepare(self, data_dir, seed):
        base, queries = gen.gaussian_mixture(self.spec, seed)
        gen.write_embeddings(f"{data_dir}/main/base", np.arange(self.n_base), base)
        gen.write_embeddings(f"{data_dir}/main/batch", np.arange(self.n_batch), queries[: self.n_batch])
        np.save(f"{data_dir}/main/base.npy", base)
        np.save(f"{data_dir}/main/queries.npy", queries)
        np.save(f"{data_dir}/main/batch_truth.npy", gen.exact_topk(base, queries[: self.n_batch], K))
        allv, q = gen.gaussian_mixture(self.small, seed + 7919)
        gen.write_embeddings(f"{data_dir}/small/base", np.arange(self.n_small), allv[: self.n_small])
        gen.write_embeddings(f"{data_dir}/small/batch", np.arange(self.n_batch), q[: self.n_batch])
        np.save(f"{data_dir}/small/all.npy", allv)
        np.save(f"{data_dir}/small/queries.npy", q)

    def prime(self, run, spark, data_dir):
        d = f"{data_dir}/small"
        idx = hnsw_build(_vectors(spark, f"{d}/base"), self.params, self.partitions)
        knn_hnsw_distributed(idx, _queries(spark, f"{d}/batch"), k=K, ef=self.batch_ef).collect()
        q = np.load(f"{d}/queries.npy")[-self.batch :]
        knn_hnsw(idx, _frame(spark, np.arange(self.batch), q, QUERY_SCHEMA), k=K).collect()
        run.release(spark, idx)

    def setup(self, run, spark, data_dir, work_dir, seed):
        d = f"{data_dir}/main"
        with run.op("sources.scan"):
            base, batch = _vectors(spark, f"{d}/base"), _queries(spark, f"{d}/batch")
            base.count()
            batch.count()
        truth = np.load(f"{d}/batch_truth.npy")
        return dict(base=base, batch=batch, base_np=np.load(f"{d}/base.npy"),
                    queries=np.load(f"{d}/queries.npy"),
                    batch_truth={i: list(t) for i, t in enumerate(truth)},
                    data_dir=data_dir, work_dir=work_dir, seed=seed)

    def _probe(self, run, spark, name, idx, qids, q, vecs, alive) -> tuple[dict[int, list[int]], int]:
        """One interactive probe: its neighbours, and how many of them are
        in the exact top-10 of the vectors alive now."""
        with run.op(name):
            rows = knn_hnsw(idx, _frame(spark, qids, q, QUERY_SCHEMA), k=K).collect()
        found = _neighbours(rows)
        returned = {n for ns in found.values() for n in ns}
        run.check("probe: no tombstoned or unknown id returned",
                  all(0 <= n < len(vecs) and alive[n] for n in returned))
        alive_ids = np.flatnonzero(alive)
        truth = alive_ids[gen.exact_topk(vecs[alive_ids], q, K)]
        return found, sum(len(set(found.get(int(i), [])) & set(t.tolist())) for i, t in zip(qids, truth))

    def _pass(self, run, spark, st, i) -> tuple[float, float]:
        """One timed pass; returns (batch recall@10, interactive recall@10)."""
        base = st["base_np"]
        with run.op("index.build"):
            idx = hnsw_build(st["base"], self.params, self.partitions)
            nodes = idx.meta.agg(F.sum("n_nodes")).first()[0]  # runs the whole build
        run.check("build: every vector is a linked node", nodes == len(base))
        with run.op("index.query.batch"):
            rows = knn_hnsw_distributed(idx, st["batch"], k=K, ef=self.batch_ef).collect()
        recall = gen.recall_at_k(_neighbours(rows), st["batch_truth"], K)
        run.check("batch probe: recall@10 at or above floor", recall >= self.batch_recall_floor)
        j = self.n_batch + (i % self.n_probe_sets) * self.batch
        qid = np.arange(10**9, 10**9 + self.batch)  # query ids apart from vector ids
        _, hits = self._probe(run, spark, "index.query", idx, qid, st["queries"][j : j + self.batch],
                              base, np.ones(len(base), dtype=bool))
        run.release(spark, idx)
        return recall, hits / (K * self.batch)

    def _lifecycle(self, run, spark, data_dir, work_dir, seed) -> None:
        """A small index, built and saved, through append, delete,
        rebuild, save and load, probed after the writes and after the
        reload."""
        allv = np.load(f"{data_dir}/small/all.npy")
        queries = np.load(f"{data_dir}/small/queries.npy")
        saved, rebuilt_path = f"{work_dir}/small-index", f"{work_dir}/small-rebuilt"
        n = self.n_small
        alive = np.zeros(len(allv), dtype=bool)
        alive[:n] = True
        small = hnsw_build(_vectors(spark, f"{data_dir}/small/base"), self.params, self.partitions)
        small.save(saved)
        run.release(spark, small)
        idx = HnswIndex.load(spark, saved)
        new = np.arange(n, n + self.append_n)
        with run.op("index.append"):
            idx2 = idx.append(_frame(spark, new, allv[new], VECTOR_SCHEMA))
            idx2.meta.count()
        alive[new] = True
        gone = np.random.default_rng(seed).choice(n, self.delete_n, replace=False)
        with run.op("index.delete"):
            idx3 = idx2.delete(spark.createDataFrame([(int(i),) for i in gone], "id long"))
            n_tomb = idx3.nodes.filter(F.col("deleted")).count()
        alive[gone] = False
        run.check("delete: tombstone count matches", n_tomb == self.delete_n)
        # the appended vectors as queries: each must come back first
        found, _ = self._probe(run, spark, "index.query.lifecycle", idx3, new, allv[new], allv, alive)
        run.check("append: every appended id finds itself at rank 1",
                  all(found.get(int(i), [None])[0] == int(i) for i in new))
        with run.op("index.rebuild"):
            rebuilt = idx3.rebuild()
            rebuilt.edges.count()
        with run.op("index.save"):
            rebuilt.save(rebuilt_path)
        run.values["index.save.bytes_per_vector_byte"] = _dir_bytes(rebuilt_path) / float(
            alive.sum() * self.params.dim * 4)
        run.release(spark, rebuilt)
        with run.op("index.load"):
            loaded = HnswIndex.load(spark, rebuilt_path)
        qid = np.arange(10**9, 10**9 + self.batch)
        _, hits = self._probe(run, spark, "index.query.lifecycle", loaded, qid, queries[-self.batch :],
                              allv, alive)
        run.check("rebuild-save-load: recall@10 at or above floor",
                  hits / (K * self.batch) >= self.recall_floor)
        run.release(spark)

    def measure(self, run, spark, st, seconds, trace):
        t0 = time.perf_counter()
        recalls, interactive, pass_s = [], [], []
        while _more(pass_s, t0, seconds):
            since = {k: len(v) for k, v in run.times.items()}
            r, ri = self._pass(run, spark, st, len(pass_s))
            recalls.append(r)
            interactive.append(ri)
            pass_s.append(_engine_s(run, self.pass_ops, since))
        interactive = statistics.mean(interactive)
        run.check("interactive probes: recall@10 at or above floor", interactive >= self.recall_floor)
        if trace:
            self._lifecycle(run, spark, st["data_dir"], st["work_dir"], st["seed"])
            part = st["base_np"][: self.n_base // self.partitions]
            _kernel_slice(run, self.params, part, st["queries"][: self.n_batch])
        build_s = statistics.median(run.times["index.build"])
        probe_s = run.times["index.query"]
        run.values.update(
            build_vecs_per_s=self.n_base / build_s,
            probe_p50_s=statistics.median(probe_s),
            probe_samples=len(probe_s),
            recall_at_10=statistics.median(recalls),
            interactive_recall_at_10=interactive,
        )
        return Outcome(pass_s, self.n_base / build_s, statistics.median(recalls))


class DedupDocs:
    """The corpus-pipeline side: MinHash LSH candidates, connected
    components and keeper choice over Zipfian text with planted
    near-duplicate clusters. Shuffles and joins, no Python kernels.

    One timed pass runs ``fuzzy_dedup`` over the corpus, then
    ``minhash_lsh_candidates`` alone: the candidate relation is what an
    interactive near-duplicate lookup needs, and its latency is the
    workload's ``op_p50_s``."""

    name = "dedup_docs"
    primary = "operators.dedup.candidates"
    spec = gen.DocSpec(n_docs=4000, n_dup_clusters=400, dup_cluster_size=5, vocab=20000,
                       min_len=20, max_len=60, edit_rate=0.03)
    warm = gen.DocSpec(n_docs=300, n_dup_clusters=10, dup_cluster_size=5, vocab=20000,
                       min_len=20, max_len=60, edit_rate=0.03)
    recall_floor = 0.75
    precision_floor = 0.05
    pass_ops = ("operators.dedup.fuzzy_dedup", "operators.dedup.candidates")

    def prepare(self, data_dir, seed):
        ids, text, labels = gen.documents(self.spec, seed)
        gen.write_documents(f"{data_dir}/docs", ids, text)
        np.save(f"{data_dir}/truth.npy", np.stack([ids, labels]))
        wids, wtext, _ = gen.documents(self.warm, seed + 7919)
        gen.write_documents(f"{data_dir}/warm", wids, wtext)

    def prime(self, run, spark, data_dir):
        warm = load_table(spark, f"{data_dir}/warm", "documents")
        fuzzy_dedup(warm).collect()
        minhash_lsh_candidates(warm).collect()
        run.release(spark)

    def setup(self, run, spark, data_dir, work_dir, seed):
        with run.op("sources.scan"):
            docs = load_table(spark, f"{data_dir}/docs", "documents")
            n = docs.count()
        ids, labels = np.load(f"{data_dir}/truth.npy")
        truth = dict(zip(ids.tolist(), labels.tolist()))
        _, sizes = np.unique(labels, return_counts=True)
        return dict(docs=docs, n=n, truth=truth, true_pairs=int((sizes * (sizes - 1) // 2).sum()))

    def _score(self, run, st, rows) -> tuple[float, float]:
        doc = np.array([r["doc_id"] for r in rows], dtype=np.int64)
        run.check("dedup: one verdict per doc_id, every doc", len(np.unique(doc)) == len(doc) == st["n"])
        pred = np.array([r["cluster_id"] for r in rows], dtype=np.int64)
        keepers = np.array([r["is_keeper"] for r in rows], dtype=bool)
        run.check("dedup: exactly one keeper per cluster",
                  np.array_equal(np.unique(pred), np.sort(pred[keepers])))
        truth = np.array([st["truth"][int(d)] for d in doc], dtype=np.int64)
        recall, precision = gen.pair_scores(pred, truth)
        run.check("dedup: pair recall at or above floor", recall >= self.recall_floor)
        run.check("dedup: pair precision at or above floor", precision >= self.precision_floor)
        return recall, precision

    def _score_candidates(self, run, st, pairs) -> None:
        truth = st["truth"]
        found = {(min(a, b), max(a, b)) for a, b in pairs}
        run.check("candidates: known doc ids, no self pair",
                  all(a != b and a in truth and b in truth for a, b in found))
        true_found = sum(truth[a] == truth[b] for a, b in found)
        run.check("candidates: planted-pair recall at or above floor",
                  true_found / st["true_pairs"] >= self.recall_floor)
        run.values["operators.dedup.candidate_pairs"] = len(pairs)
        run.values["operators.dedup.candidate_precision"] = true_found / max(1, len(found))
        run.values["candidate_recall"] = true_found / st["true_pairs"]

    def _pass(self, run, spark, st):
        """One timed pass; returns (pair recall, pair precision, candidate pairs)."""
        with run.op("operators.dedup.fuzzy_dedup"):
            rows = fuzzy_dedup(st["docs"]).select("doc_id", "cluster_id", "is_keeper").collect()
        recall, precision = self._score(run, st, rows)
        run.release(spark)
        with run.op("operators.dedup.candidates"):
            pairs = [(r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(st["docs"]).collect()]
        self._score_candidates(run, st, pairs)
        run.release(spark)
        return recall, precision, pairs

    def measure(self, run, spark, st, seconds, trace):
        t0 = time.perf_counter()
        scores, pass_s = [], []
        while _more(pass_s, t0, seconds):
            since = {k: len(v) for k, v in run.times.items()}
            *score, pairs = self._pass(run, spark, st)
            scores.append(score)
            pass_s.append(_engine_s(run, self.pass_ops, since))
        if trace:
            pairs_df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
            with run.op("operators.clusters.cc"):
                connected_components(pairs_df).collect()
            run.release(spark)
        docs_per_s = st["n"] / statistics.median(run.times["operators.dedup.fuzzy_dedup"])
        recall = statistics.median(s[0] for s in scores)
        run.values.update(
            dedup_docs_per_s=docs_per_s,
            dedup_recall=recall,
            dedup_precision=statistics.median(s[1] for s in scores),
        )
        return Outcome(pass_s, docs_per_s, recall)


WORKLOADS = {w.name: w for w in (Index512(), DedupDocs())}
