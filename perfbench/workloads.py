"""The benchmark's workloads, each a set-up and one repeatable operation.

Every call into an engine layer runs inside ``Bench.spans.span(<layer
name>)``, together with whatever materializes its result, so its wall time
and (in a traced run) its Spark jobs are attributed to that layer.

- ``hnsw_serve``: a content-sharded HNSW index is built, saved as a
  serving unit and reloaded pinned in memory; one operation is a
  500-query ``ann_search`` batch routed to 6 shards.
- ``scan_serve``: IVF-PQ and IVF-SQ8 indexes over the same corpus; one
  operation is a round of a 50-query ``ann_search`` (exact-scan arm), a
  500-query ``ivfpq_search`` and a 500-query ``ivfsq8_search``, both with
  exact re-rank.

Traced runs also exercise every layer the traced workload does not: the
other workload, one ``knn_join`` self-join (``KnnGraph``), an insert/delete
churn round (``churn``) and a driver-side replay of the HNSW kernel
(``kernel_replay``), so every per-layer metric is measured in every traced
run.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from checks import Mixture, TopkCheck, exact_topk, DIM
from hawk_pack_spark.config import DEFAULT_PARAMS
from hawk_pack_spark.operators import hnsw
from hawk_pack_spark.operators.pq import (
    ivfpq_build, ivfpq_search, ivfsq8_build, ivfsq8_search,
)
from hawk_pack_spark.operators.similarity import ivf_build, knn_join, l2_topk_numpy
from hawk_pack_spark.session import get_spark
from hawk_pack_spark.sources import graph_io
from tracing import Spans

K = 10
SERVE_N = 10_000          # corpus of hnsw_serve and scan_serve
CELLS = 12                # k-means cells / IVF lists (~830 vectors each)
NPROBE = 6                # shards or cells probed per query
BATCH = 500               # queries per serving batch
SMALL_BATCH = 50          # queries per small (exact-arm) batch
BATCHES = 4               # distinct query batches per size; the loop cycles
PQ_KNOBS = dict(sample_size=4_000, pq_iters=8, kmeans_iter=5)
KNN_N = 5_000             # corpus of the traced knn_join
KNN_KNOBS = dict(n_clusters=16, nprobe=2, replicas=1, descent_rounds=0, fit_fraction=1.0)
KNN_ANCHORS = 64
CHURN = 100               # vectors inserted, then deleted, per churn round
REPLAY_SHARDS = 4


@dataclass
class Result:
    """One engine answer and what it is checked against."""

    check: TopkCheck
    rows: object              # pandas frame: query_id, vec_id, dist
    expected: np.ndarray      # query ids that must each get k rows
    truth: dict               # query id -> exact top-k ids, for recall


@dataclass
class Op:
    seconds: float
    items: int
    results: list


class Bench:
    """State of one run: the session, spans and scratch directory."""

    def __init__(self, work: str, cpus: int, extra_conf: dict[str, str]):
        self.work = work
        self.cpus = cpus
        self.extra_conf = extra_conf
        self.spans = Spans()
        self.spark = None
        self._files = 0

    def start(self) -> None:
        with self.spans.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench", master=f"local[{self.cpus}]",
                shuffle_partitions=self.cpus, extra_conf=self.extra_conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spans.sc = self.spark.sparkContext

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.spans.sc = None

    def path(self, stem: str) -> str:
        self._files += 1
        return os.path.join(self.work, f"{stem}-{self._files}")

    def frame(self, ids: np.ndarray, mat: np.ndarray, id_col: str, vec_col: str,
              spread: bool = True):
        """A Spark frame of (id, vector) rows written from numpy. With
        ``spread`` it is split into one partition per core and pinned;
        without, it stays a lazy parquet scan (query batches)."""
        path = self.path("input") + ".parquet"
        vec = pa.FixedSizeListArray.from_arrays(pa.array(mat.ravel()), DIM)
        pq.write_table(pa.table({
            id_col: pa.array(ids, pa.int64()),
            vec_col: vec.cast(pa.list_(pa.float64())),
        }), path)
        df = self.spark.read.parquet(path)
        return df.repartition(self.cpus).localCheckpoint(eager=True) if spread else df


def _rows(df):
    return df.select("query_id", "vec_id", "dist").toPandas()


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class _Serving:
    """Corpus and held-out query pool shared by the two serving workloads."""

    def __init__(self, seed: int):
        mix = Mixture(seed)
        self.corpus = mix.draw(SERVE_N)
        self.queries = mix.draw(BATCHES * BATCH)
        self.fresh = mix.draw(CHURN)
        self.ids = np.arange(SERVE_N, dtype=np.int64)
        self.check = TopkCheck(K, dict(enumerate(self.queries)), dict(enumerate(self.corpus)))
        self._truth: dict[tuple[int, int], dict] = {}

    def truth(self, lo: int, hi: int) -> dict:
        if (lo, hi) not in self._truth:
            top = exact_topk(self.queries[lo:hi], self.corpus, self.ids, K)
            self._truth[(lo, hi)] = dict(zip(range(lo, hi), top))
        return self._truth[(lo, hi)]

    def batches(self, b: Bench, size: int) -> list:
        out = []
        for lo in range(0, BATCHES * size, size):
            ids = np.arange(lo, lo + size, dtype=np.int64)
            rows = self.queries[lo:lo + size]
            out.append((lo, lo + size, b.frame(ids, rows, "query_id", "query_vec", spread=False)))
        return out

    def result(self, rows, lo: int, hi: int) -> Result:
        return Result(self.check, rows, np.arange(lo, hi), self.truth(lo, hi))


class HnswServe(_Serving):
    name = "hnsw_serve"

    def setup(self, b: Bench) -> None:
        span = b.spans.span
        vecs = b.frame(self.ids, self.corpus, "vec_id", "embedding")
        self.vecs = vecs
        self.q = self.batches(b, BATCH)
        with span("similarity.ivf_build"):
            assigned, _ = ivf_build(vecs, n_clusters=CELLS, max_iter=5, with_payload=False)
            asg = assigned.select("vec_id", F.col("cluster").alias("shard")).localCheckpoint(eager=True)
        with span("hnsw.balance_assignments"):
            asg = hnsw.balance_assignments(asg, max_cell=3 * SERVE_N // (2 * CELLS)).localCheckpoint(eager=True)
        num_shards = 1 + asg.agg(F.max("shard")).collect()[0][0]
        with span("hnsw.build_index"):
            index = hnsw.build_index(
                vecs, num_shards=num_shards, assignments=asg,
            ).localCheckpoint(eager=True)
        with span("hnsw.shard_centroids"):
            cents = hnsw.shard_centroids(index).collect()
        self.index_path = b.path("serving_index")
        with span("graph_io.save_serving_index"):
            graph_io.save_serving_index(index, self.index_path, centroids=cents, params=DEFAULT_PARAMS)
        with span("graph_io.load_serving_index"):
            self.bundle = graph_io.load_serving_index(b.spark, self.index_path, materialize=True)
        self.decisions: list[dict] = []

    def op(self, b: Bench, i: int) -> Op:
        lo, hi, qdf = self.q[i % len(self.q)]
        decision: dict = {}
        with b.spans.span("hnsw.ann_search"):
            rows, dt = _timed(lambda: _rows(hnsw.ann_search(
                self.bundle, qdf, k=K, nprobe_shards=NPROBE, decision_out=decision,
            )))
        self.decisions.append(decision)
        return Op(dt, hi - lo, [self.result(rows, lo, hi)])


class ScanServe(_Serving):
    name = "scan_serve"

    def setup(self, b: Bench) -> None:
        span = b.spans.span
        vecs = b.frame(self.ids, self.corpus, "vec_id", "embedding")
        self.vecs = vecs
        self.slim = vecs.selectExpr("vec_id", "embedding AS vec").localCheckpoint(eager=True)
        self.small = self.batches(b, SMALL_BATCH)
        self.large = self.batches(b, BATCH)
        with span("pq.ivfpq_build"):
            enc, centers, books = ivfpq_build(
                vecs, n_clusters=CELLS, **PQ_KNOBS,
            )
            self.pq = (enc.localCheckpoint(eager=True), centers, books)
        with span("pq.ivfsq8_build"):
            enc, centers, lo, scale = ivfsq8_build(vecs, n_clusters=CELLS, kmeans_iter=5)
            self.sq8 = (enc.localCheckpoint(eager=True), centers, lo, scale)
        self.decisions: list[dict] = []

    def op(self, b: Bench, i: int) -> Op:
        span = b.spans.span
        s_lo, s_hi, small = self.small[i % len(self.small)]
        lo, hi, large = self.large[i % len(self.large)]
        decision: dict = {}
        with span("hnsw.ann_search"):
            r1, t1 = _timed(lambda: _rows(hnsw.ann_search(self.slim, small, k=K, decision_out=decision)))
        self.decisions.append(decision)
        enc, centers, books = self.pq
        with span("pq.ivfpq_search"):
            r2, t2 = _timed(lambda: _rows(ivfpq_search(
                enc, centers, books, large, kth=K, nprobe=NPROBE, rerank_with=self.vecs,
            )))
        enc, centers, lo8, scale = self.sq8
        with span("pq.ivfsq8_search"):
            r3, t3 = _timed(lambda: _rows(ivfsq8_search(
                enc, centers, lo8, scale, large, kth=K, nprobe=NPROBE, rerank_with=self.vecs,
            )))
        return Op(t1 + t2 + t3, (s_hi - s_lo) + 2 * (hi - lo), [
            self.result(r1, s_lo, s_hi), self.result(r2, lo, hi), self.result(r3, lo, hi),
        ])

    def exact_direct(self, b: Bench) -> Op:
        """One 50-query ``l2_topk_numpy`` call, made directly."""
        lo, hi, small = self.small[0]
        with b.spans.span("similarity.l2_topk_numpy"):
            rows, dt = _timed(lambda: _rows(l2_topk_numpy(self.slim, small, k=K, vec_col="vec")))
        return Op(dt, hi - lo, [self.result(rows, lo, hi)])


class KnnGraph:
    """Traced runs only: one ``knn_join(k=10)`` self-join per operation."""

    def __init__(self, seed: int):
        mix = Mixture(seed)
        self.corpus = mix.draw(KNN_N)
        self.ids = np.arange(KNN_N, dtype=np.int64)
        vectors = dict(enumerate(self.corpus))
        self.check = TopkCheck(K, vectors, vectors, exclude_self=True)
        anchors = np.sort(np.random.default_rng(seed).choice(KNN_N, KNN_ANCHORS, replace=False))
        top = exact_topk(self.corpus[anchors], self.corpus, self.ids, K, exclude=anchors)
        self.truth = dict(zip(anchors.tolist(), top))

    def setup(self, b: Bench) -> None:
        self.vecs = b.frame(self.ids, self.corpus, "vec_id", "embedding")

    def op(self, b: Bench, i: int) -> Op:
        with b.spans.span("similarity.knn_join"):
            graph, dt = _timed(lambda: knn_join(
                self.vecs, k=K, n_rows=KNN_N, dim=DIM, **KNN_KNOBS,
            ).localCheckpoint(eager=True))
        rows = _rows(graph)
        return Op(dt, KNN_N, [Result(self.check, rows, self.ids, self.truth)])


WORKLOADS = {w.name: w for w in (HnswServe, ScanServe)}


# ---------------------------------------------------------------------------
# traced runs only


def churn(b: Bench, serve: HnswServe, seed: int) -> tuple[Op, dict]:
    """Insert fresh vectors, delete as many old ones, then search the
    churned index: no deleted id may come back, and recall is measured
    against the survivors plus the inserted vectors."""
    span = b.spans.span
    bundle = serve.bundle
    new_ids = np.arange(SERVE_N, SERVE_N + CHURN, dtype=np.int64)
    dead = np.random.default_rng(seed).choice(SERVE_N, CHURN, replace=False)
    batch = b.frame(new_ids, serve.fresh, "vec_id", "embedding")
    t0 = time.perf_counter()
    with span("hnsw.insert_batch"):
        idx = hnsw.insert_batch(
            bundle.index, batch, match_threshold=0.0, serving_gate=True,
            centroids=bundle.centroids, params=bundle.params,
        ).repartition(bundle.num_shards, "shard").localCheckpoint(eager=True)
    inserted = np.array(
        [r[0] for r in idx.where(F.col("vec_id") >= SERVE_N).select("vec_id").collect()],
        dtype=np.int64,
    )
    dels = b.spark.createDataFrame([(int(v),) for v in dead], "vec_id long")
    with span("hnsw.delete_from_index"):
        idx = hnsw.delete_from_index(
            idx, dels, metric="l2_sq", params=bundle.params,
        ).repartition(bundle.num_shards, "shard").localCheckpoint(eager=True)
    seconds = time.perf_counter() - t0
    lo, hi, qdf = serve.q[0]
    rows = _rows(hnsw.ann_search(
        idx, qdf, k=K, params=bundle.params, nprobe_shards=NPROBE,
        centroids=bundle.centroids,
    ))
    live_ids = np.concatenate([np.setdiff1d(serve.ids, dead), inserted])
    by_id = dict(enumerate(serve.corpus))
    by_id.update(zip(new_ids.tolist(), serve.fresh))
    for v in dead.tolist():
        del by_id[v]
    order = np.argsort(live_ids)
    live_mat = np.stack([by_id[v] for v in live_ids[order].tolist()])
    top = exact_topk(serve.queries[lo:hi], live_mat, live_ids[order], K)
    check = TopkCheck(K, serve.check.queries, by_id, dead=set(dead.tolist()))
    counts = {"hnsw.insert_batch.accepted_ratio": len(inserted) / CHURN}
    return Op(seconds, 2 * CHURN, [Result(check, rows, np.arange(lo, hi), dict(zip(range(lo, hi), top)))]), counts


def kernel_replay(serve: HnswServe, seed: int) -> dict[str, float]:
    """Replay the serving kernel on the driver over a seeded sample of the
    shards batch 0 probes: rehydration (``index_from_arrays(frozen=True)``),
    ``LocalHNSW.search`` per routed query, and distance evaluations counted
    by wrapping the instance's ``metric.batch``. ``build_local`` and
    ``LocalHNSW.insert`` are timed on the largest sampled shard."""
    from hawk_pack_spark.operators import _hnsw_kernel as kern

    bundle = serve.bundle
    params = bundle.params or DEFAULT_PARAMS
    queries = serve.queries[:BATCH]
    cents = sorted(bundle.centroids, key=lambda r: r[0])
    c_ids = np.array([r[0] for r in cents])
    c_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in cents])
    diff = queries[:, None, :] - c_mat[None, :, :]
    probes = np.argsort(np.einsum("qcd,qcd->qc", diff, diff), axis=1, kind="stable")[:, :NPROBE]
    routed: dict[int, list[int]] = {}
    for qi, row in enumerate(probes):
        for c in row:
            routed.setdefault(int(c_ids[c]), []).append(qi)
    shards = sorted(routed)
    sample = sorted(np.random.default_rng(seed).choice(shards, min(REPLAY_SHARDS, len(shards)), replace=False).tolist())
    pdf = bundle.index.where(F.col("shard").isin(sample)).toPandas()

    rehydrate = search = 0.0
    evals = pairs = 0
    biggest = None
    for shard in sample:
        part = pdf[pdf["shard"] == shard].sort_values("vec_id").reset_index(drop=True)
        ids = part["vec_id"].to_numpy(dtype=np.int64)
        data = np.stack(part["vec"].to_numpy())
        layers = part["layer"].to_numpy(dtype=np.int32)
        sel = routed[shard]
        full = np.vstack([data, queries[sel]])
        adjacency = (part["e_layer"].tolist(), part["e_dst"].tolist(), part["e_dist"].tolist())
        t0 = time.perf_counter()
        index = kern.index_from_arrays(ids, full, "l2_sq", params, *adjacency, layers=layers, frozen=True)
        t1 = time.perf_counter()
        for j in range(len(sel)):
            index.search(len(ids) + j, K)
        search += time.perf_counter() - t1
        rehydrate += t1 - t0
        pairs += len(sel)
        plain = index.metric.batch

        def counted(q_idx, cand, _plain=plain):
            nonlocal evals
            evals += len(cand)
            return _plain(q_idx, cand)

        index.metric.batch = counted
        for j in range(len(sel)):
            index.search(len(ids) + j, K)
        if biggest is None or len(ids) > len(biggest[0]):
            biggest = (ids, data, layers, full, adjacency, len(sel))

    ids, data, layers, full, adjacency, m = biggest
    t0 = time.perf_counter()
    kern.build_local(ids, data, "l2_sq", params, layers=kern.assign_layer(kern.uniform_from_ids(ids), params.m_L))
    build_s = time.perf_counter() - t0
    index = kern.index_from_arrays(ids, full, "l2_sq", params, *adjacency, layers=layers)
    new_layers = kern.assign_layer(kern.uniform_from_ids(np.arange(m) + 10 * SERVE_N), params.m_L)
    t0 = time.perf_counter()
    for j in range(m):
        index.insert(len(ids) + j, int(new_layers[j]))
    insert_s = time.perf_counter() - t0

    per_shard = rehydrate / len(sample)
    per_pair = search / pairs
    return {
        "kernel.index_from_arrays.ms_per_shard": 1e3 * per_shard,
        "kernel.search.us_per_query_shard": 1e6 * per_pair,
        "kernel.search.dist_evals_per_query_shard": evals / pairs,
        "kernel.build_local.ms_per_1k": 1e6 * build_s / len(ids),
        "kernel.insert.ms_per_vector": 1e3 * insert_s / m,
        "kernel.replay.rehydrate_s_per_batch": per_shard * len(shards),
        "kernel.replay.search_s_per_batch": per_pair * sum(map(len, routed.values())),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
