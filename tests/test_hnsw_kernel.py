"""Unit tests for the numpy HNSW kernel (no Spark — milliseconds).

Replicates the reference's test strategy (SURVEY.md §5): seeded
determinism, self-recall E2E, dedup via is_match, entry monotonicity.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from hawk_pack_spark.config import HawkParams, layer_probability_from_m_l, m_l_from_layer_probability
from hawk_pack_spark.operators import _hnsw_kernel as K


def test_param_formulas():
    p = HawkParams.new(64, 32, 32)
    assert p.M == 32 and p.get_M_max(0) == 64 and p.get_M_max(1) == 32
    assert abs(p.m_L - 1 / np.log(32)) < 1e-12
    # inverse pair (reference hawk_searcher.rs:80-94)
    assert abs(m_l_from_layer_probability(layer_probability_from_m_l(p.m_L)) - p.m_L) < 1e-12
    # clamped beyond N_PARAM_LAYERS
    assert p.get_M(99) == 32 and p.get_ef_search(99) == 1


def test_layer_assignment_distribution():
    ids = np.arange(100_000, dtype=np.int64)
    u = K.uniform_from_ids(ids)
    layers = K.assign_layer(u, HawkParams.new(M=32).m_L)
    # geometric with p = 1/32: ~96.9% at layer 0
    frac0 = (layers == 0).mean()
    assert 0.95 < frac0 < 0.98
    assert layers.min() == 0
    # deterministic under permutation
    perm = np.random.permutation(ids)
    assert (K.uniform_from_ids(perm) == u[perm]).all()


def test_popcount():
    x = np.array([0, 1, 3, (1 << 63) | 1, 2**64 - 1], dtype=np.uint64)
    assert K.popcount64(x).tolist() == [0, 1, 2, 2, 64]


def _build_codes(n=199, params=None):
    ids = np.arange(n, dtype=np.int64)
    data = ids.astype(np.uint64)  # codes = consecutive ints, like the reference bench
    params = params or HawkParams.new(64, 32, 32)
    return ids, data, K.build_local(ids, data, "hamming", params)


def test_self_recall_hamming_199():
    """The reference's flagship E2E (hawk_searcher.rs:441-479): insert 199
    u64 codes, search each at k=1, every query must match itself."""
    ids, data, index = _build_codes(199)
    for i in range(199):
        res = index.search(i, 1)
        assert res and res[0][1] == i and res[0][0] == 0.0, f"query {i}: {res}"
        assert index.is_match(i, 0.0)


def test_knn_recall_vs_bruteforce_l2():
    rng = np.random.default_rng(42)
    data = rng.standard_normal((500, 32))
    ids = np.arange(500, dtype=np.int64)
    index = K.build_local(ids, data, "l2_sq", HawkParams.new(64, 64, 16))
    hits = total = 0
    for q in range(0, 100):
        got = {n for _, n in index.search(q, 10)}
        d = ((data - data[q]) ** 2).sum(axis=1)
        truth = set(np.argsort(d, kind="stable")[:10].tolist())
        hits += len(got & truth)
        total += 10
    assert hits / total > 0.95, f"recall {hits/total}"


def test_entry_monotonicity():
    ids, data, index = _build_codes(10)
    with pytest.raises(ValueError):
        index.set_entry_point(0, index.entry_layer)  # same layer must fail


def test_degree_bounds():
    params = HawkParams.new(64, 32, 8)
    ids = np.arange(300, dtype=np.int64)
    rng = np.random.default_rng(1)
    data = rng.integers(0, 2**63, 300).astype(np.uint64)
    index = K.build_local(ids, data, "hamming", params)
    for lc, nodes in index.adj.items():
        bound = params.get_M_max(lc)
        for node, nbrs in nodes.items():
            assert len(nbrs) <= bound, f"layer {lc} node {node}: {len(nbrs)} > {bound}"
            dists = [d for d, _ in nbrs]
            assert dists == sorted(dists)


def test_roundtrip_through_arrays():
    """Persist → rehydrate must preserve search behavior and entry rule."""
    ids, data, index = _build_codes(50)
    e_layer, e_dst, e_dist = K.adjacency_arrays(index, ids)
    back = K.index_from_arrays(ids, data, "hamming", HawkParams.new(64, 32, 32),
                               e_layer, e_dst, e_dist)
    assert back.entry_layer == index.entry_layer
    assert back.entry == index.entry
    for q in range(50):
        assert index.search(q, 3) == back.search(q, 3)


def test_roundtrip_lone_high_layer_node():
    """A node alone on a new top layer has EMPTY queues there (padded per
    hawk_searcher.rs:380-386), so it has no adjacency at that layer; the
    stored per-node layer column must still restore the exact entry point
    and num_layers across persist → rehydrate (graph_mem.rs:86-98)."""
    params = HawkParams.new(64, 32, 8)
    ids = np.arange(30, dtype=np.int64)
    rng = np.random.default_rng(7)
    data = rng.integers(0, 2**63, 30).astype(np.uint64)
    layers = K.assign_layer(K.uniform_from_ids(ids), params.m_L)
    # force one node far above everything: empty top-layer queue guaranteed
    layers[13] = int(layers.max()) + 3
    index = K.build_local(ids, data, "hamming", params, layers=layers)
    assert index.entry == 13 and index.entry_layer == layers[13]

    e_layer, e_dst, e_dist = K.adjacency_arrays(index, ids)
    back = K.index_from_arrays(ids, data, "hamming", params,
                               e_layer, e_dst, e_dist, layers=layers)
    assert back.entry == index.entry
    assert back.entry_layer == index.entry_layer
    assert back.num_layers() == index.num_layers()
    for q in range(30):
        assert index.search(q, 3) == back.search(q, 3)


def test_is_match_dedup():
    """LinearDb-style dedup via HNSW is_match (linear_db.rs:43-52)."""
    ids, data, index = _build_codes(20)
    # staged duplicate of code 7 at local index 20
    data2 = np.concatenate([data, np.array([7], dtype=np.uint64)])
    index2 = K.LocalHNSW(K.Metric("hamming", data2), index.params)
    index2.adj, index2.entry, index2.entry_layer = index.adj, index.entry, index.entry_layer
    assert index2.is_match(20, 0.0)
    # a fresh code far from everything is not a match
    data3 = np.concatenate([data, np.array([0xFFFF_FFFF_0000_0000], dtype=np.uint64)])
    index3 = K.LocalHNSW(K.Metric("hamming", data3), index.params)
    index3.adj, index3.entry, index3.entry_layer = index.adj, index.entry, index.entry_layer
    assert not index3.is_match(20, 0.0)


def test_neighbor_heuristic_keeps_clustered_graph_connected():
    """Near-duplicate clusters + scattered points: the reference's
    M-nearest trim lets each tight cluster capture every edge slot,
    stranding scattered vectors (observed with real multimodal
    features). Algorithm 4 neighbor selection must keep every vector
    reachable — 100% self-recall — while the default path stays
    reference-faithful."""
    import numpy as np

    from hawk_pack_spark.config import HawkParams
    from hawk_pack_spark.operators import _hnsw_kernel as K

    rng = np.random.default_rng(17)
    clusters = []
    for c in range(3):  # 3 tight clusters of 60 near-identical vectors
        center = rng.standard_normal(16) * 5
        clusters.append(center + rng.standard_normal((60, 16)) * 1e-3)
    scattered = rng.standard_normal((20, 16)) * 5
    data = np.vstack(clusters + [scattered])
    ids = np.arange(len(data))
    params = HawkParams.new(16, 16, 8)

    index = K.build_local(ids, data, "cosine", params, neighbor_heuristic=True)
    misses = sum(
        1 for i in range(len(data))
        if not (res := index.search(int(i), 1)) or res[0][1] != i
    )
    assert misses == 0, f"{misses} unreachable vectors with heuristic"

    # degree bounds still hold under heuristic selection
    for lc, nodes in index.adj.items():
        for node, nbrs in nodes.items():
            assert len(nbrs) <= params.get_M_max(lc)


def test_frozen_rehydration_searches_identically():
    """frozen=True (CSR, search-only) must return byte-identical search
    results to the dict-form rehydration at every k/ef — the serving
    paths run frozen, the mutation paths run dict, and they must agree."""
    import numpy as np

    from hawk_pack_spark.config import HawkParams
    from hawk_pack_spark.operators import _hnsw_kernel as K

    params = HawkParams.new(32, 16, 8)
    n, dim = 700, 24
    rng = np.random.default_rng(7)
    data = rng.standard_normal((n, dim))
    ids = np.arange(n, dtype=np.int64) * 3 + 11
    built = K.build_local(ids, data, "l2_sq", params)
    la, ds, di = K.adjacency_arrays(built, ids)
    node_layers = np.array(
        [max([lc for lc in built.adj if loc in built.adj[lc]], default=0)
         for loc in range(n)],
        dtype=np.int32,
    )
    q = rng.standard_normal((40, dim))
    full = np.vstack([data, q])
    slow = K.index_from_arrays(
        ids, full, "l2_sq", params, la, ds, di, layers=node_layers
    )
    fast = K.index_from_arrays(
        ids, full, "l2_sq", params, la, ds, di, layers=node_layers, frozen=True
    )
    assert fast.entry == slow.entry and fast.entry_layer == slow.entry_layer
    for j in range(40):
        for k in (1, 5, 10):
            assert fast.search(n + j, k, None) == slow.search(n + j, k, None)
    # frozen requires layers (entry cannot be derived from CSR presence)
    import pytest

    with pytest.raises(ValueError, match="layers"):
        K.index_from_arrays(ids, full, "l2_sq", params, la, ds, di, frozen=True)
    # the whole-shard error contract survives the vectorized path
    bad_ds = [list(x) for x in ds]
    for x in bad_ds:
        if x:
            x[0] = 10**9  # id not in this slice
            break
    with pytest.raises(ValueError, match="whole\\s+shard|whole shard"):
        K.index_from_arrays(
            ids, full, "l2_sq", params, la, bad_ds, di, layers=node_layers,
            frozen=True,
        )


# ---------------------------------------------------------------------------
# native (gcc/ctypes) kernel parity: the Python kernel is the reference


def _native_lib():
    from hawk_pack_spark.operators import _native as NAT

    lib = NAT.get_lib()
    if lib is None:
        pytest.skip("native kernel unavailable (no gcc or SPARK_GRAFT_NO_NATIVE)")
    return NAT


def _shard_data(kind: str, n: int, seed: int, dim: int = 12):
    """Payload for one shard: ``random`` Gaussian, ``mixture`` (tight
    clusters), ``dups`` (each vector stored six times) or ``hamming``
    (uint64 codes with many exact-distance ties)."""
    rng = np.random.default_rng(seed)
    if kind == "hamming":
        return rng.integers(0, 1 << 20, n, dtype=np.int64).view(np.uint64)
    if kind == "random":
        return rng.standard_normal((n, dim))
    if kind == "mixture":
        centers = 8.0 * rng.standard_normal((6, dim))
        return centers[rng.integers(0, 6, n)] + 0.05 * rng.standard_normal((n, dim))
    base = rng.standard_normal((max(n // 6, 1), dim))
    return base[np.arange(n) % len(base)]


def _metric_of(kind: str) -> str:
    return "hamming" if kind == "hamming" else "l2_sq"


@pytest.mark.parametrize("kind", ["random", "mixture", "hamming"])
def test_native_build_matches_python_build(kind, monkeypatch):
    """`_try_native_build` claims the adjacency the Python insert loop
    would produce: same layer/node key order, same neighbour ids, same
    entry point; l2_sq edge distances may differ in the last ulps
    (sequential C sum vs numpy's einsum), hamming ones are exact."""
    NAT = _native_lib()
    params = HawkParams.new(32, 16, 8)
    data = _shard_data(kind, 400, seed=3)
    ids = np.random.default_rng(4).permutation(10_000)[:400].astype(np.int64)
    metric = _metric_of(kind)
    nat = K.build_local(ids, data, metric, params)
    monkeypatch.setattr(NAT, "get_lib", lambda: None)
    py = K.build_local(ids, data, metric, params)

    assert (nat.entry, nat.entry_layer) == (py.entry, py.entry_layer)
    assert list(nat.adj) == list(py.adj)
    for lc in py.adj:
        assert list(nat.adj[lc]) == list(py.adj[lc])
        for node, nbrs in py.adj[lc].items():
            got = nat.adj[lc][node]
            assert [n for _, n in got] == [n for _, n in nbrs], (lc, node)
            d_nat = np.array([d for d, _ in got])
            d_py = np.array([d for d, _ in nbrs])
            if metric == "hamming":
                assert d_nat.tolist() == d_py.tolist()
            else:
                np.testing.assert_allclose(d_nat, d_py, rtol=1e-12, atol=0)


def _frozen_shard(kind: str, n: int, nq: int, seed: int, params, query_rows=None):
    """A frozen (serving-form) shard index with ``nq`` queries staged
    after its ``n`` vectors; ``query_rows`` stages copies of stored
    vectors as the queries instead of fresh draws."""
    data = _shard_data(kind, n + nq, seed)
    stored, q = data[:n], data[n:]
    if query_rows is not None:
        q = stored[query_rows]
    ids = np.arange(n, dtype=np.int64) * 7 + 5
    metric = _metric_of(kind)
    built = K.build_local(ids, stored, metric, params)
    la, ds, di = K.adjacency_arrays(built, ids)
    layers = K.assign_layer(K.uniform_from_ids(ids), params.m_L)
    full = np.concatenate([stored, q]) if metric == "hamming" else np.vstack([stored, q])
    index = K.index_from_arrays(
        ids, full, metric, params, la, ds, di, layers=layers, frozen=True
    )
    return index, np.arange(n, n + len(q))


@pytest.mark.parametrize(
    "kind, n, k, ef_search, self_queries",
    [
        ("random", 600, 10, None, False),
        ("mixture", 600, 10, None, False),
        ("dups", 600, 10, None, False),
        ("hamming", 600, 10, None, False),
        ("random", 600, 10, 4, False),       # ef override below k: ef0 = k
        ("mixture", 600, 5, 80, False),      # ef override above the default
        ("random", 600, 10, None, True),     # queries equal stored vectors
        ("dups", 600, 10, None, True),
        ("hamming", 600, 10, None, True),
        ("random", 0, 10, None, False),      # empty shard
        ("hamming", 1, 10, None, False),     # one-node shard
        ("random", 1, 3, None, False),
        ("random", 7, 20, None, False),      # k larger than the shard
        ("hamming", 7, 20, None, True),
    ],
)
def test_search_batch_native_matches_python(kind, n, k, ef_search, self_queries, monkeypatch):
    """`LocalHNSW.search_batch` on the C kernel must return the Python
    search loop's ids (same tie order, same ef rule) and its distances
    (exact for hamming, within 1e-12 relative for l2_sq)."""
    NAT = _native_lib()
    params = HawkParams.new(32, 16, 8)
    rows = np.random.default_rng(9).integers(0, n, 40) if self_queries else None
    index, qpos = _frozen_shard(kind, n, 40, seed=11, params=params, query_rows=rows)
    calls = []
    real_search = NAT.search
    monkeypatch.setattr(NAT, "search", lambda *a: calls.append(1) or real_search(*a))
    loc, dist = index.search_batch(qpos, k, ef_search)
    assert calls or n == 0  # the native path ran (an empty shard never needs it)
    monkeypatch.setattr(NAT, "get_lib", lambda: None)
    ref_loc, ref_dist = index.search_batch(qpos, k, ef_search)

    assert loc.shape == dist.shape == (40, k)
    assert loc.tolist() == ref_loc.tolist()
    for j, q in enumerate(qpos.tolist()):
        want = index.search(q, k, ef_search)
        assert loc[j, : len(want)].tolist() == [m for _, m in want]
        assert (loc[j, len(want):] == -1).all()
    if kind == "hamming":
        assert dist.tolist() == ref_dist.tolist()
    else:
        np.testing.assert_allclose(dist, ref_dist, rtol=1e-12, atol=0)
    if self_queries and kind != "dups":  # 6x duplicates may strand a copy
        assert (dist[:, 0] == 0.0).all()
    if n:
        assert (loc[:, : min(k, n)] >= 0).all()


# ---------------------------------------------------------------------------
# rehydration: flat core vs list adapter vs the full lexsort


def _lexsort_reference(ids, layers, e_layers, e_dsts, e_dists):
    """Per-layer (indptr, nbrs) CSR and (entry, entry_layer) by the plain
    definition: lexsort every edge by (layer, src, dist, local dst)."""
    n = len(ids)
    local = {int(g): i for i, g in enumerate(ids)}
    src = np.repeat(np.arange(n), [len(x) for x in e_dsts])
    lay = np.array([v for x in e_layers for v in x], dtype=np.int64)
    dst = np.array([local[int(v)] for x in e_dsts for v in x], dtype=np.int64)
    dist = np.array([v for x in e_dists for v in x], dtype=np.float64)
    perm = np.lexsort((dst, dist, src, lay))
    csr = {}
    for lc in np.unique(lay).tolist():
        m = lay[perm] == lc
        indptr = np.r_[0, np.cumsum(np.bincount(src[perm][m], minlength=n))]
        csr[lc] = (indptr, dst[perm][m])
    top = int(layers.max())
    on_top = np.flatnonzero(layers == top)
    return csr, (int(on_top[np.argmin(ids[on_top])]), top)


def _assert_rehydration_parity(rows, params, monkeypatch) -> bool:
    """Rehydrate one shard's Arrow rows (ordered by vec_id) through the
    list adapter and through the flat core on the Arrow list values; both
    must give the lexsort reference's CSR and entry, and the dict form
    the same neighbour order. Returns whether the stored-order check
    passed (False = the lexsort branch ran)."""
    from hawk_pack_spark.operators.hnsw import _flat

    checks = []
    real = K._runs_ascending
    monkeypatch.setattr(
        K, "_runs_ascending", lambda *a: checks.append(real(*a)) or checks[-1]
    )
    ids = rows.column("vec_id").to_numpy()
    layers = rows.column("layer").to_numpy()
    data = np.zeros((len(ids), 2))  # the payload plays no part in the CSR
    la, ds, di = (rows.column(c).to_pylist() for c in ("e_layer", "e_dst", "e_dist"))
    csr, entry = _lexsort_reference(ids, layers, la, ds, di)
    counts, flat_lay = _flat(rows.column("e_layer"))
    core = K.index_from_flat(
        ids, data, "l2_sq", params, counts, flat_lay,
        _flat(rows.column("e_dst"))[1], _flat(rows.column("e_dist"))[1],
        layers=layers, frozen=True,
    )
    adapter = K.index_from_arrays(
        ids, data, "l2_sq", params, la, ds, di, layers=layers, frozen=True
    )
    for index in (core, adapter):
        assert (index.entry, index.entry_layer) == entry
        assert sorted(index.csr) == sorted(csr)
        for lc, (indptr, nbrs) in csr.items():
            np.testing.assert_array_equal(index.csr[lc][0], indptr)
            np.testing.assert_array_equal(index.csr[lc][1], nbrs)
    as_dict = K.index_from_arrays(ids, data, "l2_sq", params, la, ds, di, layers=layers)
    for lc, (indptr, nbrs) in csr.items():
        for node, run in as_dict.adj[lc].items():
            assert [t for _, t in run] == nbrs[indptr[node]:indptr[node + 1]].tolist()
    assert len(set(checks)) == 1
    return checks[0]


def test_rehydration_parity_flat_core_and_list_adapter(spark, monkeypatch):
    """The flat rehydration core and the list adapter give the same CSR
    and entry as a full (layer, src, dist, dst) lexsort on every stored
    form of a shard: a `build_local` shard, a `to_links`→`from_links`
    round trip, a `delete_from_index`-repaired shard — all stored
    (dist, dst)-ascending, so the stored-order check passes and the
    lexsort is skipped — and a shard whose per-node edge order was
    shuffled on purpose, which must take the lexsort branch and still
    match."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from hawk_pack_spark.operators import hnsw

    params = HawkParams.new(32, 16, 8)
    rng = np.random.default_rng(11)
    n = 300
    data = rng.standard_normal((n, 6))
    ids = np.arange(n, dtype=np.int64) * 5 + 2

    built = K.build_local(ids, data, "l2_sq", params)
    la, ds, di = K.adjacency_arrays(built, ids)
    layers = K.assign_layer(K.uniform_from_ids(ids), params.m_L)
    local = pa.table({
        "vec_id": ids, "layer": layers,
        "e_layer": pa.array(la, pa.list_(pa.int32())),
        "e_dst": pa.array(ds, pa.list_(pa.int64())),
        "e_dist": pa.array(di, pa.list_(pa.float64())),
    })
    assert _assert_rehydration_parity(local, params, monkeypatch)

    perms = [rng.permutation(len(x)) for x in ds]
    shuffled = local.set_column(2, "e_layer", pa.array(
        [[x[i] for i in p] for x, p in zip(la, perms)], pa.list_(pa.int32())
    )).set_column(3, "e_dst", pa.array(
        [[x[i] for i in p] for x, p in zip(ds, perms)], pa.list_(pa.int64())
    )).set_column(4, "e_dist", pa.array(
        [[x[i] for i in p] for x, p in zip(di, perms)], pa.list_(pa.float64())
    ))
    assert not _assert_rehydration_parity(shuffled, params, monkeypatch)

    vecs = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, data)],
        "vec_id long, embedding array<double>",
    )
    index = hnsw.build_index(vecs, params=params, num_shards=2).localCheckpoint()
    round_trip = hnsw.from_links(hnsw.to_links(index), vecs)
    repaired = hnsw.delete_from_index(
        index, vecs.where(F.col("vec_id") % 7 == 0).select("vec_id"),
        metric="l2_sq", params=params,
    )
    for frame in (index, round_trip, repaired):
        table = frame.select(*hnsw._SHARD_COLS).toArrow()
        for shard in (0, 1):
            rows = table.filter(pc.equal(table["shard"], shard)).sort_by("vec_id")
            assert rows.num_rows > 100
            assert _assert_rehydration_parity(rows, params, monkeypatch)


def _fold_dist(metric: str, a, b) -> float:
    """``distance_expr(metric)`` of two payloads in plain Python floats:
    the expression's left-to-right fold, a zero vector at cosine sim 0."""
    if metric == "hamming":
        return float(bin(int(a) ^ int(b)).count("1"))

    def fold(x, y):
        acc = 0.0
        for p, q in zip(x.tolist(), y.tolist()):
            acc = acc + ((p - q) * (p - q) if metric == "l2_sq" else p * q)
        return acc

    if metric == "l2_sq":
        return fold(a, b)
    den = math.sqrt(fold(a, a)) * math.sqrt(fold(b, b))
    return 1.0 - (0.0 if den == 0 else fold(a, b) / den)


def _join_rule_repair(ids, la, ds, di, dead_ids, data, metric, params):
    """`delete_from_index`'s former join pipeline over one shard, in
    plain Python: prune edges from or to deleted nodes; with a metric,
    add the distinct forward bridges survivor → deleted → survivor
    (src != dst), a stored edge winning over its duplicate bridge;
    re-trim each (layer, src) to M_max by (dist, dst); sort a rewritten
    node's edges by (layer, dist, dst). Survivors with no edge into the
    deleted set keep their stored lists. Returns vec_id → [(layer, dst,
    dist)]."""
    pos = {v: i for i, v in enumerate(ids.tolist())}
    dead = set(dead_ids)
    out = {}
    for i, v in enumerate(ids.tolist()):
        if v in dead:
            continue
        stored = list(zip(la[i], ds[i], di[i]))
        if not any(t in dead for _, t, _ in stored):
            out[v] = stored
            continue
        kept = {(lay, t): d for lay, t, d in stored if t not in dead}
        if metric is not None:
            for lay, mid, _ in stored:
                if mid not in dead:
                    continue
                for l2, t2 in zip(la[pos[mid]], ds[pos[mid]]):
                    if l2 == lay and t2 not in dead and t2 != v and (lay, t2) not in kept:
                        kept[(lay, t2)] = _fold_dist(metric, data[i], data[pos[t2]])
        edges = sorted((lay, d, t) for (lay, t), d in kept.items())
        if metric is not None:
            cap = {lay: params.get_M_max(min(lay, 1)) for lay, _, _ in edges}
            edges = [
                e for lay in sorted(cap) for e in [x for x in edges if x[0] == lay][: cap[lay]]
            ]
        out[v] = [(lay, t, d) for lay, d, t in edges]
    return out


@pytest.mark.parametrize(
    "kind, metric",
    [("random", "l2_sq"), ("hamming", "hamming"), ("mixture", "cosine"), ("random", None)],
)
def test_delete_repair_matches_join_rule(kind, metric):
    """`repair_deleted` over one shard's flat edge arrays gives exactly
    the rows of the join rule it replaced (`_join_rule_repair`): the
    same survivors, edge lists and bridge distances as Python floats —
    the expression's fold order — and untouched survivors byte for
    byte. The ids are a permutation, so (dist, dst) ties break by
    global id, not by position; the cosine shard holds a zero vector."""
    params = HawkParams.new(32, 16, 8)
    n = 400
    data = _shard_data(kind, n, seed=21)
    if metric == "cosine":
        data[7] = 0.0
    build_metric = metric or "l2_sq"
    ids = np.random.default_rng(22).permutation(5 * n)[:n].astype(np.int64)
    built = K.build_local(ids, data, build_metric, params)
    la, ds, di = K.adjacency_arrays(built, ids)
    # stored distances one ulp above the fold's: a bridge duplicating a
    # stored edge must keep the stored value
    di = [np.nextafter(x, np.inf).tolist() for x in di]
    dead_ids = ids[np.random.default_rng(23).random(n) < 0.15]

    from hawk_pack_spark.operators.hnsw import _pair_dists

    counts = np.array([len(x) for x in ds])
    flat = [np.concatenate(x).astype(t) for x, t in ((la, np.int32), (ds, np.int64), (di, np.float64))]
    score = None if metric is None else (lambda a, b: _pair_dists(data, a, b, metric))
    live, cnt, e_layer, e_dst, e_dist = K.repair_deleted(
        ids, counts, *flat, np.isin(ids, dead_ids), params, score
    )
    bounds = np.r_[0, np.cumsum(cnt)].tolist()
    got = {
        int(v): list(zip(e_layer[a:b].tolist(), e_dst[a:b].tolist(), e_dist[a:b].tolist()))
        for v, a, b in zip(ids[live], bounds[:-1], bounds[1:])
    }
    want = _join_rule_repair(ids, la, ds, di, set(dead_ids.tolist()), data, metric, params)
    assert got == want
    stored = {(int(v), e) for i, v in enumerate(ids) for e in zip(la[i], ds[i], di[i])}
    bridged = {(v, e) for v, es in got.items() for e in es} - stored
    assert len(bridged) > 0 if metric is not None else not bridged
