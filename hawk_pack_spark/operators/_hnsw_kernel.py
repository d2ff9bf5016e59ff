"""Partition-local HNSW kernel: numpy and Python, run by Spark Python tasks.

Implements the HNSW algorithm (Malkov & Yashunin 2016, arXiv:1603.09320,
cited by the reference's README) for one index shard held in memory.
Semantics follow the reference engine (SURVEY.md §2.4): best-first beam
search with a visited set and early exit; insertion trims forward edges
to M and back-edges to M_max (2M at layer 0); the entry point only moves
to a strictly higher layer; queries and vectors share one ID space.

This file is deliberately Spark-free: plain numpy in / numpy out, so it
unit-tests in milliseconds and the Spark layer (operators/hnsw.py) stays
a thin orchestration shell. The methods here are the semantic
reference; for the built-in l2_sq and hamming metrics, ``build_local``
and ``LocalHNSW.search_batch`` over a frozen index dispatch to the
gcc-compiled kernel in ``_native_hnsw.c`` (see ``_native.py``), same
algorithm and tie order, falling back to the Python loop when it is
unavailable.
"""

from __future__ import annotations

import heapq
import math

import numpy as np

from hawk_pack_spark.config import HawkParams

_POPCOUNT_LUT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)

# user-registered eval_distance_batch kernels (functions/distance.py::
# register_metric — the VectorStore-trait plug-in point). Keyed by metric
# name; signature (data (n, dim) float64, q_idx, cand) -> list[float].
CUSTOM_BATCH: dict = {}


def popcount64(arr: np.ndarray) -> np.ndarray:
    """Vectorized popcount for uint64 arrays (numpy<2 has no bitwise_count)."""
    return _POPCOUNT_LUT[arr.view(np.uint8).reshape(-1, 8)].sum(axis=1)


class Metric:
    """Batch distance evaluator: one query against many stored vectors —
    the shape of the reference's ``eval_distance_batch`` hot path.

    Candidate batches inside beam search are tiny (≤ M_max), where numpy
    per-call overhead dominates — so hamming runs on native Python ints
    (3.11's C-level ``int.bit_count``), ~5× faster at this batch size;
    float metrics stay vectorized. Returns plain lists."""

    def __init__(self, name: str, data: np.ndarray):
        self.name = name
        self.data = data  # (n, dim) float64 for l2/cosine; (n,) uint64 for hamming
        self.size = len(data)
        if name == "hamming":
            self._ints: list[int] = data.tolist()
        if name == "cosine":
            norms = np.linalg.norm(data, axis=1)
            norms[norms == 0.0] = 1.0
            self._unit = data / norms[:, None]

    def batch(self, q_idx: int, cand) -> list[float]:
        if self.name == "hamming":
            ints = self._ints
            qv = ints[q_idx]
            return [float((ints[c] ^ qv).bit_count()) for c in cand]
        if self.name == "l2_sq":
            diff = self.data[cand] - self.data[q_idx]
            return np.einsum("ij,ij->i", diff, diff).tolist()
        if self.name == "cosine":
            return (1.0 - self._unit[cand] @ self._unit[q_idx]).tolist()
        if self.name == "dot":
            # distance = negative inner product (functions/distance.py
            # METRICS["dot"]) so less_than stays the native <
            return (-(self.data[cand] @ self.data[q_idx])).tolist()
        if self.name in CUSTOM_BATCH:
            return CUSTOM_BATCH[self.name](self.data, q_idx, list(cand))
        raise KeyError(f"unknown metric {self.name!r}")


class LocalHNSW:
    """One in-memory HNSW graph over local indices 0..n-1."""

    def __init__(
        self,
        metric: Metric,
        params: HawkParams,
        neighbor_heuristic: bool = True,
    ):
        self.metric = metric
        self.params = params
        # Algorithm 4 neighbor selection (Malkov & Yashunin 2016) with
        # keepPrunedConnections backfill is the DEFAULT since r9. The
        # reference trims to the M NEAREST (connect_bidir), which on
        # near-duplicate-clustered data lets a tight cluster capture all
        # M slots and partitions the graph into unreachable islands —
        # observed three times (multimodal features r2, the sf1 rebuild
        # fixture r8, and a Hypothesis counterexample where layer 0
        # reached only 10 of 21 nodes, breaking self-recall; pinned in
        # tests/test_properties.py). The heuristic keeps
        # direction-diverse edges instead, restoring the self-recall
        # guarantee the reference's own flagship test asserts
        # (hawk_searcher.rs:441-479). Pass False for strict
        # reference connect_bidir parity (safe only on uniform-ish,
        # cluster-free data).
        self.neighbor_heuristic = neighbor_heuristic
        # adjacency: layer -> node -> ascending [(dist, nbr), ...]
        self.adj: dict[int, dict[int, list[tuple[float, int]]]] = {}
        # frozen search-only overlay: layer -> (indptr, nbrs) CSR with
        # neighbors dist-ascending per node. Search never reads stored
        # edge distances, so a rehydrated serving index can skip
        # materializing the per-node tuple lists entirely (the measured
        # hot cost of index_from_arrays). Mutation paths require adj.
        self.csr: dict[int, tuple[np.ndarray, np.ndarray]] | None = None
        self.entry: int | None = None
        self.entry_layer: int = -1

    # -- storage-facing ----------------------------------------------------
    def num_layers(self) -> int:
        return self.entry_layer + 1

    def neighbors(self, lc: int, node: int) -> list[tuple[float, int]]:
        """get_links semantics: missing key → empty (graph_mem.rs:100-111)."""
        return self.adj.get(lc, {}).get(node, [])

    def set_entry_point(self, node: int, layer: int) -> None:
        """Monotonicity contract: a new entry point must sit on a higher
        layer (graph_mem.rs:86-91)."""
        if layer <= self.entry_layer:
            raise ValueError(
                f"entry point layer must increase ({layer} <= {self.entry_layer})"
            )
        self.entry, self.entry_layer = node, layer

    # -- search ------------------------------------------------------------
    def search_layer(
        self, q_idx: int, entry_points: list[tuple[float, int]], ef: int, lc: int
    ) -> list[tuple[float, int]]:
        """Best-first beam search in one layer. entry_points are (dist,
        node) seeds; returns ascending (dist, node), at most ef.

        The visited set is a bytearray indexed by node (O(1) membership,
        no hashing) — the hot line of the whole kernel."""
        visited = bytearray(self.metric.size)
        for _, n in entry_points:
            visited[n] = 1
        # C: nearest-first candidate heap; W: beam as max-heap via negation
        cand = list(entry_points)
        heapq.heapify(cand)
        beam = [(-d, n) for d, n in entry_points]
        heapq.heapify(beam)
        while len(beam) > ef:
            heapq.heappop(beam)
        csr = self.csr.get(lc) if self.csr is not None else None
        layer_adj = self.adj.get(lc) if csr is None else None
        vis_np = np.frombuffer(visited, dtype=np.uint8) if csr is not None else None
        while cand:
            c_dist, c_node = heapq.heappop(cand)
            if c_dist > -beam[0][0]:
                break  # nearest candidate is beyond the beam's furthest
            if csr is not None:
                indptr, flat = csr
                sl = flat[indptr[c_node]:indptr[c_node + 1]]
                if len(sl) == 0:
                    continue
                nbrs_arr = sl[vis_np[sl] == 0]
                if len(nbrs_arr) == 0:
                    continue
                vis_np[nbrs_arr] = 1
                nbrs = nbrs_arr.tolist()
            else:
                lst = layer_adj.get(c_node) if layer_adj else None
                if not lst:
                    continue
                nbrs = []
                for _, nb in lst:
                    if not visited[nb]:
                        visited[nb] = 1
                        nbrs.append(nb)
                if not nbrs:
                    continue
            dists = self.metric.batch(q_idx, nbrs)
            for d, n in zip(dists, nbrs):
                if len(beam) < ef:
                    heapq.heappush(beam, (-d, n))
                    heapq.heappush(cand, (d, n))
                elif d < -beam[0][0]:
                    heapq.heapreplace(beam, (-d, n))
                    heapq.heappush(cand, (d, n))
        return sorted((-nd, n) for nd, n in beam)

    def _descend(
        self, q_idx: int, from_layer: int, to_layer: int, ef_for_layer
    ) -> list[tuple[float, int]]:
        """Greedy/beam descent from from_layer down to to_layer (exclusive
        bound below), carrying the beam between layers."""
        d0 = float(self.metric.batch(q_idx, [self.entry])[0])
        w = [(d0, self.entry)]
        for lc in range(from_layer, to_layer, -1):
            w = self.search_layer(q_idx, w, ef_for_layer(lc), lc)
        return w

    def search(self, q_idx: int, k: int, ef_search: int | None = None) -> list[tuple[float, int]]:
        """kNN query: greedy upper layers, beam ef_search at layer 0."""
        if self.entry is None:
            return []
        p = self.params
        w = self._descend(q_idx, self.entry_layer, 0, lambda lc: p.get_ef_search(lc))
        ef0 = max(ef_search or p.get_ef_search(0), k)
        w = self.search_layer(q_idx, w, ef0, 0)
        return w[:k]

    def search_batch(
        self, q_positions, k: int, ef_search: int | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """``search`` for every query position: (nq, k) local node ids
        (-1 where a query has fewer than k results) and distances. A
        frozen l2_sq/hamming index runs the C kernel; anything else
        loops over ``search``."""
        from hawk_pack_spark.operators import _native as NAT

        q_positions = np.asarray(q_positions, dtype=np.int64)
        if self.entry is not None and self.csr is not None and NAT.usable(
            self.metric.name, self.params
        ):
            p = self.params
            return NAT.search(
                self.metric.data, self.metric.name, self.csr,
                self.entry, self.entry_layer,
                [p.get_ef_search(lc) for lc in range(self.entry_layer + 1)],
                max(ef_search or p.get_ef_search(0), k), k, q_positions,
            )
        local = np.full((len(q_positions), k), -1, dtype=np.int64)
        dist = np.zeros((len(q_positions), k), dtype=np.float64)
        for i, q in enumerate(q_positions.tolist()):
            for j, (d, n) in enumerate(self.search(q, k, ef_search)):
                local[i, j], dist[i, j] = n, d
        return local, dist

    # -- insert ------------------------------------------------------------
    def insert(self, q_idx: int, insertion_layer: int) -> None:
        """Full insert: two-phase (search then connect), like the
        reference's search_to_insert + insert_from_search_results split."""
        per_layer = self.search_to_insert(q_idx, insertion_layer)
        self.insert_from_search_results(q_idx, insertion_layer, per_layer)

    def search_to_insert(
        self, q_idx: int, insertion_layer: int
    ) -> list[list[tuple[float, int]]]:
        """Phase 1: candidate neighbor queues for layers 0..insertion_layer
        (index = layer). Empty lists pad layers above the current top."""
        p = self.params
        if self.entry is None:
            return [[] for _ in range(insertion_layer + 1)]
        L = self.entry_layer
        w = self._descend(
            q_idx, L, min(L, insertion_layer), lambda lc: p.get_ef_constr_search(lc)
        )
        out: list[list[tuple[float, int]]] = []
        for lc in range(min(L, insertion_layer), -1, -1):
            w = self.search_layer(q_idx, w, p.get_ef_constr_insert(lc), lc)
            out.append(list(w))
        out.reverse()  # now out[lc] = candidates at layer lc
        while len(out) <= insertion_layer:
            out.append([])  # new top layers have no neighbors yet
        return out

    def insert_from_search_results(
        self,
        q_idx: int,
        insertion_layer: int,
        per_layer: list[list[tuple[float, int]]],
    ) -> None:
        """Phase 2: connect bidirectionally per layer; move the entry point
        only if the insertion created a higher layer."""
        p = self.params
        for lc in range(min(insertion_layer, len(per_layer) - 1), -1, -1):
            self._connect_bidir(q_idx, per_layer[lc], lc)
        if insertion_layer > self.entry_layer:
            self.set_entry_point(q_idx, insertion_layer)

    def _select_neighbors(
        self, node: int, candidates: list[tuple[float, int]], m: int
    ) -> list[tuple[float, int]]:
        """Neighbor selection for `node` from distance-ascending
        `candidates`. Default (neighbor_heuristic=True): Algorithm 4 —
        keep a candidate only if it is closer to `node` than to every
        already-kept neighbor (edges span directions instead of piling
        into one tight cluster), then backfill with the remaining
        nearest (keepPrunedConnections). With neighbor_heuristic=False:
        the reference's M-nearest trim.

        The heuristic runs in FORWARD-DOMINATION form for the built-in
        (symmetric) metrics: each newly selected neighbor s marks every
        remaining candidate c with d(c,s) <= d(c,node) as dominated in
        ONE vectorized batch call — <= m batch calls over shrinking
        candidate sets instead of len(candidates) calls of size <= m.
        Output is identical to the per-candidate scan (same predicate,
        same ascending order); custom registered metrics may be
        asymmetric, so they keep the d(c, selected) orientation."""
        if not self.neighbor_heuristic or len(candidates) <= m:
            return candidates[:m]
        selected: list[tuple[float, int]] = []
        if self.metric.name in ("hamming", "l2_sq", "cosine", "dot"):
            alive = list(candidates)
            while alive and len(selected) < m:
                d_s, s = alive[0]
                selected.append((d_s, s))
                rest = alive[1:]
                if not rest:
                    break
                d_to_s = self.metric.batch(s, [c for _, c in rest])
                alive = [
                    rc for rc, dcs in zip(rest, d_to_s) if rc[0] < dcs
                ]
        else:
            for d, c in candidates:
                if len(selected) >= m:
                    break
                sel_ids = [s for _, s in selected]
                if not sel_ids or all(
                    d < dcs for dcs in self.metric.batch(c, sel_ids)
                ):
                    selected.append((d, c))
        if len(selected) < m:
            kept = {c for _, c in selected}
            for d, c in candidates:
                if len(selected) >= m:
                    break
                if c not in kept:
                    selected.append((d, c))
            selected.sort()
        return selected

    def _connect_bidir(
        self, q_idx: int, candidates: list[tuple[float, int]], lc: int
    ) -> None:
        p = self.params
        chosen = self._select_neighbors(q_idx, candidates, p.get_M(lc))
        layer = self.adj.setdefault(lc, {})
        layer[q_idx] = list(chosen)
        m_max = p.get_M_max(lc)
        for d, n in chosen:
            q = layer.get(n, [])
            # ordered insert, then degree-bound trim (connect_bidir)
            q.append((d, q_idx))
            q.sort()
            if len(q) > m_max:
                q[:] = self._select_neighbors(n, q, m_max)
            layer[n] = q

    def is_match(self, q_idx: int, threshold: float = 0.0) -> bool:
        """Duplicate probe: nearest bottom-layer neighbor within threshold
        (reference hawk_searcher.rs:417-429); empty graph → False."""
        res = self.search(q_idx, 1)
        return bool(res) and res[0][0] <= threshold


# ---------------------------------------------------------------------------
# deterministic layer assignment


def assign_layer(u: np.ndarray, m_l: float) -> np.ndarray:
    """Geometric layer from uniform(0,1]: floor(-ln(u) * m_L) — the
    standard HNSW sample, vectorized. u must avoid exact 0."""
    return np.floor(-np.log(u) * m_l).astype(np.int32)


def uniform_from_ids(ids: np.ndarray, seed: int = 42) -> np.ndarray:
    """Deterministic per-id uniform in (0,1]: splitmix64 of (id ^ seed).
    Stable under any partitioning / insertion batching."""
    offset = np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
    x = ids.astype(np.uint64) + offset
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return (x.astype(np.float64) + 1.0) / 18446744073709551616.0


def build_local(
    ids: np.ndarray,
    data: np.ndarray,
    metric_name: str,
    params: HawkParams,
    layers: np.ndarray | None = None,
    seed: int = 42,
    neighbor_heuristic: bool = True,
) -> LocalHNSW:
    """Build one shard's index by sequential insertion in id order (the
    reference engine is serial by design; order fixed for determinism).

    neighbor_heuristic defaults True (Algorithm 4): connectivity-safe on
    clustered/near-dup data; False = strict reference connect_bidir."""
    order = np.argsort(ids, kind="stable")
    metric = Metric(metric_name, data)
    index = LocalHNSW(metric, params, neighbor_heuristic=neighbor_heuristic)
    if layers is None:
        layers = assign_layer(uniform_from_ids(ids, seed), params.m_L)
    if _try_native_build(
        index, data, metric_name, layers, order, params, neighbor_heuristic
    ):
        return index
    for pos in order.tolist():
        index.insert(int(pos), int(layers[pos]))
    return index


def _try_native_build(
    index: LocalHNSW,
    data: np.ndarray,
    metric_name: str,
    layers: np.ndarray,
    order: np.ndarray,
    params: HawkParams,
    neighbor_heuristic: bool,
) -> bool:
    """Populate ``index`` from the gcc-compiled build kernel (same
    algorithm, same tie-breaking — see operators/_native.py). Returns
    False when the native path is unavailable, leaving the caller on
    the pure-Python insert loop above. The reconstructed ``adj``
    replicates the Python kernel's dict layout exactly: layer keys in
    creation order (descending runs as the top layer rises), node keys
    in insertion order, every (node, lc <= node_layer) entry present
    even when its queue is empty (to_links emits those rows), neighbor
    lists (dist, local) ascending — so adjacency_arrays() output is
    byte-for-byte the order the Python insert loop would produce."""
    from hawk_pack_spark.operators import _native as NAT

    if len(layers) == 0 or not NAT.usable(metric_name, params):
        return False
    res = NAT.build(data, metric_name, layers, order, params, neighbor_heuristic)
    if res is None:
        return False
    e_node, e_layer, e_dst, e_dist, entry, entry_layer = res
    order_l = order.tolist()
    adj = index.adj
    top = -1
    for pos in order_l:
        node_l = int(layers[pos])
        if node_l > top:
            for lc in range(node_l, top, -1):
                adj[lc] = {}
            top = node_l
    for pos in order_l:
        for lc in range(int(layers[pos]), -1, -1):
            adj[lc][pos] = []
    en = e_node.tolist()
    el = e_layer.tolist()
    ed = e_dst.tolist()
    edist = e_dist.tolist()
    for i in range(len(en)):
        adj[el[i]][en[i]].append((edist[i], ed[i]))
    if entry >= 0:
        index.entry, index.entry_layer = int(entry), int(entry_layer)
    return True


def flat_adjacency(index: LocalHNSW, ids: np.ndarray):
    """The graph as `index_from_flat`'s input — per-node edge counts and
    flat (e_layer, e_dst in GLOBAL ids, e_dist), an Arrow list column's
    layout; a node's edges come layer by layer in ``adj`` key order."""
    runs = [(node, lc, nbrs) for lc, nodes in index.adj.items() for node, nbrs in nodes.items()]
    sizes = [len(nbrs) for _, _, nbrs in runs]
    src = np.repeat(np.array([r[0] for r in runs], dtype=np.int64), sizes)
    lay = np.repeat(np.array([r[1] for r in runs], dtype=np.int32), sizes)
    order = np.argsort(src, kind="stable")
    # (dist, local nbr) pairs; local ids are exact in float64
    edges = np.array([e for _, _, nbrs in runs for e in nbrs], dtype=np.float64)
    edges = edges.reshape(-1, 2)[order]
    return (
        np.bincount(src, minlength=len(ids)), lay[order],
        ids[edges[:, 1].astype(np.int64)], edges[:, 0].copy(),
    )


def adjacency_arrays(index: LocalHNSW, ids: np.ndarray):
    """Flatten the graph to per-node parallel lists (e_layer, e_dst,
    e_dist) in GLOBAL ids: `flat_adjacency` split per node."""
    counts, *flat = flat_adjacency(index, ids)
    bounds = np.r_[0, np.cumsum(counts)].tolist()
    return tuple(
        [a[i:j].tolist() for i, j in zip(bounds[:-1], bounds[1:])] for a in flat
    )


def index_from_arrays(
    ids: np.ndarray,
    data: np.ndarray,
    metric_name: str,
    params: HawkParams,
    e_layers: list,
    e_dsts: list,
    e_dists: list,
    layers: np.ndarray | None = None,
    neighbor_heuristic: bool = True,
    frozen: bool = False,
) -> LocalHNSW:
    """Rehydrate a LocalHNSW from stored per-node adjacency lists (one
    ``e_layer``/``e_dst``/``e_dist`` list per node, global ids): a thin
    adapter that flattens the lists and calls `index_from_flat`, where
    the semantics (entry rule, ``frozen``, the whole-shard check) are
    documented."""
    counts = np.fromiter((len(x) for x in e_dsts), dtype=np.int64, count=len(ids))

    def flat(lists: list, dtype) -> np.ndarray:
        parts = [np.asarray(x, dtype=dtype) for x in lists if len(x)]
        return np.concatenate(parts) if parts else np.empty(0, dtype=dtype)

    return index_from_flat(
        ids, data, metric_name, params, counts,
        flat(e_layers, np.int64), flat(e_dsts, np.int64), flat(e_dists, np.float64),
        layers=layers, neighbor_heuristic=neighbor_heuristic, frozen=frozen,
    )


def _local_ids(ids: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Map global edge destinations to local indices (positions in
    ``ids``); a destination outside ``ids`` means a split shard."""
    order = np.argsort(ids, kind="stable")
    sorted_ids = ids[order]
    pos = np.searchsorted(sorted_ids, dst)
    ok = (pos < len(ids)) & (sorted_ids[np.minimum(pos, len(ids) - 1)] == dst)
    if not bool(ok.all()):
        bad = int(dst[~ok][0])
        raise ValueError(
            f"edge destination vec_id={bad} is not in this slice "
            "of the index: the partition does not contain its whole "
            "shard. Index partitions must hold complete shards — after "
            "reading a saved index from parquet (file-split "
            "partitions), repartition(num_shards, 'shard') before "
            "searching."
        )
    return order[pos]


def _runs_ascending(lay, src, dist, dst) -> bool:
    """True when every (layer, src) run is (dist, dst)-ascending — O(E),
    no sort. NaN distances fail the check."""
    same = (lay[1:] == lay[:-1]) & (src[1:] == src[:-1])
    d0, d1 = dist[:-1], dist[1:]
    ok = (d0 < d1) | ((d0 == d1) & (dst[:-1] <= dst[1:]))
    return bool((ok | ~same).all())


def index_from_flat(
    ids: np.ndarray,
    data: np.ndarray,
    metric_name: str,
    params: HawkParams,
    counts: np.ndarray,
    e_layer: np.ndarray,
    e_dst: np.ndarray,
    e_dist: np.ndarray,
    layers: np.ndarray | None = None,
    neighbor_heuristic: bool = True,
    frozen: bool = False,
) -> LocalHNSW:
    """Rehydrate a LocalHNSW from flat stored adjacency: ``counts[i]``
    edges of node ``i`` (local index = position in ``ids``) come next
    in the flat ``e_layer``/``e_dst`` (global ids)/``e_dist`` arrays —
    exactly an Arrow list column's values and offsets, so a serving
    task reads them without materializing per-row lists.

    ``layers`` is the stored per-node assigned max layer (the index
    DataFrame's ``layer`` column). The entry point is the lowest id at
    the max stored layer — the build's monotone rule exactly, so a node
    alone on a new top layer (whose queues there are empty and therefore
    absent from adjacency, per hawk_searcher.rs:380-386 padding) keeps
    its layer across a round-trip. Without ``layers`` (legacy callers)
    the layer is derived from adjacency presence, which can under-report
    exactly that case.

    Each (layer, node) neighbor run must end up (dist, local dst)-
    ascending. Every writer already stores its runs in that order
    (``adjacency_arrays`` emits the kernel's sorted lists, the Spark
    assembly ``array_sort``s (layer, dist, dst)), so a stable sort by
    layer alone yields the final order; an O(E) check confirms it, and
    only a failed check (hand-written or shuffled adjacency, NaN
    distances) pays the full (layer, src, dist, dst) lexsort. The result
    is identical either way.

    ``frozen=True`` builds a SEARCH-ONLY index: adjacency stays in
    numpy CSR form (one indptr/nbrs pair per layer, dist-ascending per
    node) and the per-node tuple lists — the measured hot cost of
    rehydration — are never materialized. The serving search paths use
    this; anything that mutates or re-serializes the graph (insert,
    delete/repair, to_links) needs the default dict form. Requires
    ``layers`` (the entry point cannot be derived from CSR presence)."""
    if frozen and layers is None:
        raise ValueError("frozen=True requires the stored layers column")
    index = LocalHNSW(
        Metric(metric_name, data), params, neighbor_heuristic=neighbor_heuristic
    )
    n_nodes = len(ids)
    src = np.repeat(np.arange(n_nodes, dtype=np.int64), counts)
    dst = _local_ids(ids, e_dst)
    perm = np.argsort(e_layer, kind="stable")
    lay, src, dist, dst = e_layer[perm], src[perm], e_dist[perm], dst[perm]
    if not _runs_ascending(lay, src, dist, dst):
        perm = np.lexsort((dst, dist, src, lay))
        lay, src, dist, dst = lay[perm], src[perm], dist[perm], dst[perm]
    if frozen:
        # one CSR per run of equal layer (lay is sorted)
        index.csr = {}
        for lc in np.unique(lay).tolist():
            a, b = np.searchsorted(lay, [lc, lc + 1]).tolist()
            indptr = np.zeros(n_nodes + 1, dtype=np.int64)
            np.cumsum(np.bincount(src[a:b], minlength=n_nodes), out=indptr[1:])
            index.csr[int(lc)] = (indptr, dst[a:b])
    elif len(lay):
        # one neighbor list per run of equal (layer, src)
        new_run = (lay[1:] != lay[:-1]) | (src[1:] != src[:-1])
        starts = np.flatnonzero(np.r_[True, new_run])
        bounds = np.r_[starts, len(lay)].tolist()
        d_list, l_list = dist.tolist(), dst.tolist()
        lay_l, src_l = lay[starts].tolist(), src[starts].tolist()
        for gi in range(len(starts)):
            a, b = bounds[gi], bounds[gi + 1]
            index.adj.setdefault(lay_l[gi], {})[src_l[gi]] = list(
                zip(d_list[a:b], l_list[a:b])
            )
    if n_nodes:
        if layers is not None:
            node_top = np.asarray(layers, dtype=np.int64)
        else:
            # a node "is on" layer lc if it has a queue there (layer 0 holds all)
            node_top = np.zeros(n_nodes, dtype=np.int64)
            np.maximum.at(node_top, src, lay)
        top = int(node_top.max())
        on_top = np.flatnonzero(node_top == top)
        index.entry = int(on_top[np.argmin(ids[on_top])])
        index.entry_layer = top
    return index


def repair_deleted(ids: np.ndarray, counts: np.ndarray, e_layer: np.ndarray,
                   e_dst: np.ndarray, e_dist: np.ndarray, dead: np.ndarray,
                   params: HawkParams, score=None):
    """Delete the ``dead`` nodes of one shard from its flat stored
    adjacency (`index_from_flat`'s layout) and repair their
    in-neighbours; returns (live mask, counts, e_layer, e_dst, e_dist)
    of the survivors, in input order. A survivor with no edge into the
    deleted set keeps its edges byte for byte. Any other loses those
    edges and, with ``score`` (distances of local pairs ``a[i] →
    b[i]``), gains forward-only bridges survivor → deleted → survivor
    on the same layer (``src != dst``, each once; a stored edge wins
    over its duplicate), then keeps each layer's ``M_max`` best by
    (dist, dst) (``get_M_max(0)`` on layer 0, ``get_M_max(1)`` above);
    its edges are written sorted by (layer, dist, dst). Reverse bridges
    evict other nodes' only in-edges in the M_max competition (a 20k
    clustered corpus deleting 10%: 16 unreachable survivors, against 1
    forward-only); accumulated damage calls for a shard rebuild."""
    n = len(ids)
    src = np.repeat(np.arange(n, dtype=np.int64), counts)
    dst = _local_ids(ids, e_dst)
    gone = dead[dst]  # edges into the deleted set
    redo = np.zeros(n, dtype=bool)
    redo[src[gone]] = True
    mine = (redo & ~dead)[src]  # the rewritten rows' edges
    lay, s, t, d = (a[mine & ~gone] for a in (e_layer, src, dst, e_dist))
    if score is not None and gone.any():
        # bridges: each survivor's (layer, src → mid) into the deleted
        # set joined with the mid's (layer, mid → dst) out of it
        into, out = gone & ~dead[src], dead[src] & ~gone
        width = int(e_layer.max()) + 1
        o_key = src[out] * width + e_layer[out]
        by_key = np.argsort(o_key, kind="stable")
        o_key, o_dst = o_key[by_key], dst[out][by_key]
        i_key = dst[into] * width + e_layer[into]
        lo = np.searchsorted(o_key, i_key, "left")
        reps = np.searchsorted(o_key, i_key, "right") - lo
        b_dst = o_dst[np.repeat(lo - np.cumsum(reps) + reps, reps) + np.arange(reps.sum())]
        b_src = np.repeat(src[into], reps)
        b_lay = np.repeat(e_layer[into].astype(np.int64), reps)
        ok = b_src != b_dst
        pair = np.unique((b_lay[ok] * n + b_src[ok]) * n + b_dst[ok])
        lay = np.r_[lay, (pair // (n * n)).astype(lay.dtype)]
        s, t = np.r_[s, pair // n % n], np.r_[t, pair % n]
        d = np.r_[d, np.asarray(score(pair // n % n, pair % n), dtype=np.float64)]
        # the stable sort keeps a stored edge ahead of its duplicate bridge
        o = np.lexsort((t, lay, s))
        o = o[_new_run(s[o], lay[o], t[o])]
        lay, s, t, d = lay[o], s[o], t[o], d[o]
    o = np.lexsort((ids[t], d, lay, s))
    lay, s, t, d = lay[o], s[o], t[o], d[o]
    if score is not None and len(s):
        # re-trim every (layer, node) run of the rewritten rows to M_max
        start = np.flatnonzero(_new_run(s, lay))
        rank = np.arange(len(s)) - np.repeat(start, np.diff(np.r_[start, len(s)]))
        keep = rank < np.where(lay == 0, params.get_M_max(0), params.get_M_max(1))
        lay, s, t, d = lay[keep], s[keep], t[keep], d[keep]
    calm = ~(mine | dead[src])
    out_src = np.r_[src[calm], s]
    order = np.argsort(out_src, kind="stable")
    return (
        ~dead,
        np.bincount(out_src, minlength=n)[~dead],
        np.r_[e_layer[calm], lay][order],
        np.r_[e_dst[calm], ids[t]][order],
        np.r_[e_dist[calm], d][order],
    )


def _new_run(*keys: np.ndarray) -> np.ndarray:
    """True where sorted ``keys`` start a new run of equal tuples."""
    head = np.zeros(len(keys[0]), dtype=bool)
    head[:1] = True
    for k in keys:
        head[1:] |= k[1:] != k[:-1]
    return head
