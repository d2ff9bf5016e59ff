"""Quantized ANN: product quantization (PQ) and scalar quantization
(SQ8) codes, flat or behind coarse IVF cells, searched by one scan.

At 100 TB a float embedding column (64-d float32 = 256 B/row) dwarfs
executor memory. PQ stores M uint8 codes per vector (8 B/row, 32×
compression); SQ8 stores one byte per dimension (4×) with recall that
does not depend on the corpus shape. IVF variants encode RESIDUALS
(v − cell centre) and make the scan partition-prunable by cell.

- PQ TRAIN: split each vector into M subvectors, k-means each subspace
  to 256 centroids on a driver-side SAMPLE (codebooks are M×256×(D/M)
  floats; the full data never leaves the cluster). ENCODE: per row,
  each subvector's nearest-centroid id, one Arrow-batched pandas UDF
  with the codebooks in a broadcast. SQ8 train/encode live in
  `similarity` (`sq8_train`, `sq8_encode`).
- SEARCH: every search (`pq_search`, `ivfpq_search`, `ivfsq8_search`,
  `similarity.sq8_topk`, the exact `similarity.l2_topk_numpy`,
  `hamming_topk_numpy`, `cosine_topk_numpy` and the IVF-Flat
  `similarity.ivf_search`) is argument handling around one skeleton,
  `_scan_topk`, parameterized by a distance scorer — the hawk-pack
  shape of a fixed engine over a store's distance:
  1. collect the query batch (bounded, below);
  2. route each query to its ``nprobe`` nearest cells (stable sort on
     ``distance_expr``'s l2_sq fold, `topk.l2_fold`); a flat scan skips
     routing and the residual, so the query payload keeps its dtype;
  3. filter the scan to the routed cells (`cell IN (...)`: partition
     filters on a cell-partitioned layout) and coalesce it to at most
     one Python task per core;
  4. per (Arrow batch, cell), score the routed (residual) queries with
     ``score(state, rq, codes[, cnorm]) -> (nq_c, n)`` in query chunks
     under `_TILE_BYTES`; each task keeps a running top-k per query by
     (dist, vec_id) — ties break by vec_id at any partitioning;
  5. the driver merges the partial rows in numpy (`topk.merge_topk`);
     a re-rank fetches the ``oversample``·k shortlist's floats with one
     broadcast join and scores them there in ``distance_expr``'s fold
     order. A search is ONE Python stage, run when it is called.

  Scorers: `_adc_scores` (PQ ADC — per-subspace LUT folded in a fixed
  order, then an m-gather sum in subspace order; no float vector is
  read, and a distance does not depend on tiling or partitioning),
  `_sq8_scores` (asymmetric SQ8 — the expanded form over the encode-
  time ``cnorm``, one fixed-grid float64 dot on the code tile, exact
  in any BLAS blocking, so an SQ8 distance does not depend on tiling
  or partitioning), and in `similarity` the exact `_l2_scores`
  (expanded-form selection, whose picks `_l2_refine` recomputes in the
  difference form), `_hamming_scores` (XOR + 16-bit popcount LUT) and
  `_cosine_scores` (−sim, negated back by `cosine_topk_numpy`).

Serving-surface bound: every search collects its query batch to the
driver (``max_driver_queries``, as `ann_search`), and its merge rows
are kept within `_DRIVER_ROWS` by running fewer scan tasks, both
before the scan. On overflow the quantized searches and `ivf_search`
raise a ValueError naming the bound; the exact scans, the bulk
fallbacks, run the distributed expression-join scan (`knn_exact`).

All stages are seeded and deterministic. Recall vs exact kNN is
asserted in tests on the fixture embeddings.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hawk_pack_spark.operators.materialize import materialize
from hawk_pack_spark.operators.similarity import (
    _collect_query_batch,
    _list_col_matrix,
    ivf_build,
    sq8_encode,
    sq8_train,
)
from hawk_pack_spark.operators.topk import (
    RESULT_SCHEMA,
    SEARCH_SCHEMA,
    fold_lr,
    hits_table,
    l2_fold,
    merge_topk,
    result_frame,
)

# Byte budget of one scored tile, the (routed queries × batch rows)
# float64 distance matrix: each (Arrow batch, cell) is scored in query
# chunks under it, so a task's memory does not grow with the query
# batch (100 000 queries × a 10 000-row Arrow batch is 8 GB at once).
_TILE_BYTES = 96 << 20

# (query_id, vec_id, dist) rows of 24 B one scan may send to its
# driver merge (≈144 MB), counted by `_scan_topk` before the scan.
_DRIVER_ROWS = 6_000_000


def _kmeans_np(x: np.ndarray, k: int, seed: int, iters: int = 20) -> np.ndarray:
    """Seeded Lloyd's k-means (numpy). Deterministic; empty clusters
    re-seeded from the farthest points."""
    rng = np.random.RandomState(seed)
    centers = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].copy()
    if len(centers) < k:  # fewer points than centroids: pad by repeats
        centers = np.vstack([centers] * (k // len(centers) + 1))[:k]
    xx = (x * x).sum(1, keepdims=True)
    for _ in range(iters):
        # ||x-c||² = ||x||² - 2 x·c + ||c||² via one matmul — never
        # materializes the (n, k, d) broadcast tensor
        d = xx - 2.0 * x @ centers.T + (centers * centers).sum(1)[None, :]
        assign = d.argmin(1)
        # mean per cluster with one scatter-add instead of a k-loop
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.zeros_like(centers)
        np.add.at(sums, assign, x)
        nonempty = counts > 0
        centers[nonempty] = sums[nonempty] / counts[nonempty, None]
        if not nonempty.all():
            far = np.argsort(-d.min(1))  # farthest points re-seed empties
            centers[~nonempty] = x[far[: (~nonempty).sum()]]
    return centers


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    sample_size: int = 20_000,
    seed: int = 42,
    iters: int = 20,
) -> np.ndarray:
    """Fit codebooks on a driver-side sample. Returns (m, k, d/m)."""
    n = vectors.count()
    frac = min(1.0, sample_size / max(n, 1))
    sample = (
        vectors.sample(fraction=frac, seed=seed) if frac < 1.0 else vectors
    ).select(F.col(vec_col).cast("array<float>").alias("v")).collect()
    x = np.asarray([r.v for r in sample], dtype=np.float32)
    d = x.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    sub = d // m
    return np.stack(
        [
            _kmeans_np(x[:, i * sub : (i + 1) * sub].astype(np.float64),
                       k, seed + i, iters)
            for i in range(m)
        ]
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes ARRAY<SMALLINT>[m]) — 1 byte of information per code.
    ``keep`` columns of ``vectors`` pass through between the two."""
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)

    @F.pandas_udf("array<smallint>")
    def encode(vs):
        import pandas as pd

        cb = bc.value  # (m, k, sub)
        m, _, sub = cb.shape
        x = np.asarray(list(vs), dtype=np.float64)
        codes = np.empty((len(x), m), dtype=np.int16)
        for i in range(m):
            part = x[:, i * sub : (i + 1) * sub]
            # ||p - c||² = ||p||² - 2 p·c + ||c||²; argmin over c
            d = (
                (part * part).sum(1, keepdims=True)
                - 2.0 * part @ cb[i].T
                + (cb[i] * cb[i]).sum(1)[None, :]
            )
            codes[:, i] = d.argmin(1)
        return pd.Series(list(codes))

    return vectors.select(
        F.col(id_col).cast("long").alias("vec_id"),
        *keep,
        encode(F.col(vec_col).cast("array<double>")).alias("codes"),
    )


def _residual_cells(
    vectors: DataFrame,
    n_clusters: int,
    id_col: str,
    vec_col: str,
    seed: int,
    kmeans_iter: int,
    fit_fraction: float | None,
) -> tuple[DataFrame, list]:
    """The IVF builds' shared prelude: `ivf_build`'s cells, then each
    vector's residual ``_resid`` = v − its cell centre, as
    (vec_id, cell, _resid) materialized once: the training and the
    encode (which carries ``cell`` through with this partitioning; a
    re-join would shuffle into one AQE-coalesced partition, one Python
    task per scan) would each re-run the k-means assignment UDF. The
    frame is CORPUS-sized, so the barrier is the size-gated `materialize`."""
    assigned, centers = ivf_build(
        vectors, n_clusters=n_clusters, id_col=id_col, vec_col=vec_col,
        seed=seed, max_iter=kmeans_iter, fit_fraction=fit_fraction,
    )
    centers_df = vectors.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster int, _center array<double>",
    )
    resid = assigned.join(F.broadcast(centers_df), "cluster").select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col("cluster").cast("int").alias("cell"),
        F.zip_with(
            F.col(vec_col).cast("array<double>"), "_center",
            lambda v, c: v - c,
        ).alias("_resid"),
    )
    return materialize(resid), centers


def ivfpq_build(
    vectors: DataFrame,
    n_clusters: int = 64,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kmeans_iter: int = 10,
    fit_fraction: float | None = None,
    sample_size: int = 20_000,
    pq_iters: int = 20,
):
    """IVF-PQ: coarse k-means cells + PQ over RESIDUALS (v − centroid)
    — the byte-budgeted disk/memory index. The r5 10M ladder measured
    flat PQ losing on dense iid vectors (recall 0.16: quantization
    distortion vs shrinking NN separations); residual encoding is the
    standard fix — cell centroids absorb the coarse position so the
    codebooks spend their 8 bytes on LOCAL structure — and cell routing
    makes the scan partition-prunable (per-query I/O tracks nprobe,
    like the serving path).

    Measured domain (r6, same byte budget as flat PQ): on a CLUSTERED
    corpus (40 clusters, radius 0.12 vs spread 1.0) residual ADC recall
    0.358 vs flat 0.235, re-rank 0.84 probing 4/32 cells; on near-iid
    fixtures residual does NOT beat flat (0.36 vs 0.52 — per-cell LUTs
    make cross-cell ranking noisier; same physics family as the r5
    negative result), where ivfpq's value is the pruned scan, not
    recall. Both pinned in tests/test_pq.py.

    10M ladder (r6 tail, tools/bench_ivfpq_scale.py, nprobe 8/256,
    oversample 20): clustered-shape search 7.2s/500q with recall@10
    1.000 vs exact BLAS 17.7s — the mid-scale full-union winner — and
    the build is 6× cheaper than serving-HNSW at the same n (81.8s vs
    486s); cell-partitioned disk codes hold recall 1.0 at 18.0s. On
    iid the collapse deepens with n (recall 0.849 at 1M → 0.262 at
    10M, flat across nprobe, so it is quantization distortion, not
    routing). IVF-PQ is therefore an EXPLICITLY-chosen index for
    clustered corpora, not a `choose_ann_path` default: recall is
    corpus-shape-dependent, which the dispatcher cannot observe a
    priori. Full table in NOTES.md round-6 §11.

    Returns (encoded, centers, codebooks): ``encoded`` is
    (vec_id, cell, codes ARRAY<SMALLINT>[m]) — write it
    ``partitionBy("cell")`` for a pruned on-disk layout; ``centers``
    the coarse centroid list (driver-held routing metadata, same shape
    as `ivf_build`'s); ``codebooks`` the (m, k, d/m) numpy array."""
    resid, centers = _residual_cells(
        vectors, n_clusters, id_col, vec_col, seed, kmeans_iter, fit_fraction
    )
    codebooks = pq_train(
        resid, m=m, k=k, vec_col="_resid", sample_size=sample_size,
        seed=seed, iters=pq_iters,
    )
    encoded = pq_encode(resid, codebooks, vec_col="_resid", keep=("cell",))
    return encoded, centers, codebooks


def _adc_scores(codebooks, rq, codes):
    """PQ asymmetric distances (nq, n): per subspace i, the LUT
    ``lut[j, c] = ||rq[j, sub_i] − cb[i, c]||²`` in expanded form with
    the query terms folded left to right (`topk.fold_lr` — a matmul
    rounds an entry by the block's shape), then ``d += lut[:, codes[:,
    i]]`` in subspace order: a distance depends on its (query, code)
    pair alone, for flat and IVF scans at any tiling."""
    m, _, sub = codebooks.shape
    d = np.zeros((len(rq), len(codes)), dtype=np.float64)
    for i in range(m):
        part, cb = rq[:, i * sub : (i + 1) * sub], codebooks[i]
        lut = (
            fold_lr(part, part)[:, None]
            - 2.0 * fold_lr(part[:, None, :], cb[None, :, :])
            + (cb * cb).sum(1)[None, :]
        )
        d += lut[:, codes[:, i]]
    return d


def _sq8_scores(bounds, rq, codes, cnorm):
    """SQ8 asymmetric distances (nq, n) in the expanded form
    ``||r||² − 2 w·c + Σ scale²c²`` with r = rq − lo, w = r·scale: the
    code norm is the encode-time ``cnorm``, so the scan is ONE matmul
    on the uint8 code tile (the scan is approximate; the re-rank is
    exact float64).

    The matmul is a fixed-grid float64 dot: each query's w is rounded
    to multiples of 2^(e−24), where 2^e bounds its largest |w| (float32
    precision), so every product with a code (< 2^8) and every partial
    sum is an integer multiple of that grid below 2^53 while the
    dimension is below 2^21. BLAS then returns the exact dot in any
    blocking or summation order: a (query, row) distance is a function
    of that pair alone, not of the tile's shape, the query chunking or
    how rows are split into partitions (a float32 sgemm rounds an entry
    differently by matrix shape)."""
    lo, scale = bounds
    r = rq - lo[None, :]
    w = r * scale[None, :]
    _, e = np.frexp(np.abs(w).max(1, initial=0.0))
    shift = (24 - e)[:, None]
    w = np.ldexp(np.rint(np.ldexp(w, shift)), -shift)
    return (
        (r * r).sum(1)[:, None]
        - 2.0 * (w @ codes.astype(np.float64).T)
        + cnorm[None, :]
    )


def _topk_cols(d: np.ndarray, ids: np.ndarray, take: int) -> np.ndarray:
    """Per row of ``d``, the column indices of the ``take`` smallest
    (dist, vec_id) — the order `topk.merge_topk` merges in. argpartition
    alone keeps an arbitrary member of a tie that straddles the cut
    (duplicate vectors have equal codes), which would make the
    shortlist depend on how rows are split into partitions."""
    idx = np.argpartition(d, take - 1, axis=1)[:, :take]
    cut = np.take_along_axis(d, idx, axis=1).max(1)
    for j in np.flatnonzero((d <= cut[:, None]).sum(1) > take):
        pos = np.flatnonzero(d[j] <= cut[j])
        idx[j] = pos[np.lexsort((ids[pos], d[j, pos]))[:take]]
    return idx


def _arrow_matrix(col) -> np.ndarray:
    """A scanned Arrow column as numpy, decoded by its type: list and
    binary columns through `_list_col_matrix` in their stored element
    type, primitive ones (vec_id, 64-bit Hamming codes, cnorm) as is."""
    if pa.types.is_primitive(col.type):
        return col.to_numpy(zero_copy_only=False)
    return _list_col_matrix(col, dtype=None)


def _scan_topk(
    encoded: DataFrame,
    queries: DataFrame,
    caller: str,
    score,
    state,
    aux: tuple[str, ...],
    centers: list | None,
    nprobe: int,
    kth: int,
    query_id: str,
    query_col: str,
    rerank_with: DataFrame | None,
    oversample: int,
    rerank_id_col: str,
    rerank_vec_col: str,
    max_driver_queries: int,
    id_col: str = "vec_id",
    code_col: str = "codes",
    overflow=None,
    pre: tuple | None = None,
    refine=None,
    residual: bool = True,
) -> DataFrame:
    """The search skeleton (module docstring, steps 1-5).
    ``score(state, rq, codes, *aux_columns)`` returns the (nq_c, n)
    distance matrix of routed queries (residuals under IVF) against the
    ``code_col`` payload of the rows whose id is ``id_col``;
    ``refine(state, rq, idx, codes, *aux_columns)``, when given,
    recomputes the (nq_c, take) distances of the selected columns
    ``idx``. ``centers=None`` is a flat scan: no routing, no residual,
    so the query payload keeps its dtype; ``residual=False`` routes by
    ``centers`` but scores the raw queries (IVF-Flat). ``pre`` is an
    already collected (ids, payload) batch.

    Driver budget: a task sends ≤ nq · shortlist rows and a query
    reaches ≤ min(tasks, nprobe) tasks (a flat scan: all), so the scan
    drops to as few tasks as keep that under `_DRIVER_ROWS` (100 000
    queries × 50 × 4 tasks would be 480 MB: one task). A batch over
    ``max_driver_queries``, or whose nq · shortlist alone exceeds
    `_DRIVER_ROWS`, goes to ``overflow`` (a no-argument callable) or
    raises ValueError before the scan. A re-rank also fetches ≤ nq ·
    shortlist float vectors (12.8 MB for 500 queries at dim 64).
    Returns a local (query_id, vec_id, dist, rank) DataFrame."""
    spark = encoded.sparkSession
    batch = pre if pre is not None else _collect_query_batch(
        queries, query_id, query_col, max_driver_queries
    )
    shortlist_k = kth * oversample if rerank_with is not None else kth
    tasks = spark.sparkContext.defaultParallelism  # driver budget: docstring
    fits = 0 if batch is None else _DRIVER_ROWS // max(1, len(batch[0]) * shortlist_k)
    if batch is None or centers is None or min(nprobe, len(centers)) > fits:
        tasks = min(tasks, fits)
    if tasks < 1:
        if overflow is not None:
            return overflow()
        bound = (
            f"query batch exceeds max_driver_queries={max_driver_queries}: "
            "raise it explicitly or split the batch" if batch is None else
            f"{len(batch[0])} queries × {shortlist_k} shortlist rows exceed "
            f"_DRIVER_ROWS={_DRIVER_ROWS}: split the batch or lower k/oversample"
        )
        raise ValueError(f"{bound}. {caller} merges a query batch driver-side "
                         "(a serving surface); bulk batches belong on knn_exact.")
    qids, qx = batch
    if not len(qids):
        return spark.createDataFrame([], RESULT_SCHEMA)
    cols = [F.col(id_col).cast("long").alias("vec_id"), code_col, *aux]
    if centers is None:  # flat: one cell holding every query
        c_mat, routed = None, {0: np.arange(len(qids))}
        scan = encoded.select(*cols)
    else:
        c_mat = np.asarray(centers, dtype=np.float64)
        cd = l2_fold(qx[:, None, :], c_mat[None, :, :])
        npb = min(nprobe, len(c_mat))
        cell_of = np.argsort(cd, axis=1, kind="stable")[:, :npb].ravel()
        q_of = np.repeat(np.arange(len(qids)), npb)
        by_cell = np.argsort(cell_of, kind="stable")  # query order kept per cell
        cells, starts = np.unique(cell_of[by_cell], return_index=True)
        routed = dict(zip(cells.tolist(), np.split(q_of[by_cell], starts[1:])))
        scan = encoded.where(F.col("cell").isin(list(routed))).select(*cols, "cell")
    scan = scan.coalesce(tasks)  # a Python task has a fixed cost: ≤ 1 per core
    bc = spark.sparkContext.broadcast((qids, qx, c_mat, routed, shortlist_k, state))
    tile_bytes = _TILE_BYTES  # read on the driver, shipped in the closure
    shifted = residual and c_mat is not None

    def part(batches):
        qids_, qx_, c_mat_, routed_, kth_, state_ = bc.value
        flat = c_mat_ is None
        held = []
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            payload = [_arrow_matrix(batch.column(c)) for c in (code_col, *aux)]
            cell_ids = None if flat else batch.column("cell").to_numpy(
                zero_copy_only=False
            )
            for cell in [0] if flat else np.unique(cell_ids):  # all routed
                rows = slice(None) if flat else cell_ids == cell
                cid, tile = ids[rows], [c[rows] for c in payload]
                take = min(kth_, len(cid))
                q_idx = routed_[int(cell)]
                # query chunks whose (nq_c, n) float64 distance matrix
                # stays under the tile budget
                step = max(1, tile_bytes // (8 * len(cid)))
                for s in range(0, len(q_idx), step):
                    qi = q_idx[s : s + step]
                    rq = qx_[qi] - c_mat_[cell][None, :] if shifted else qx_[qi]
                    d = score(state_, rq, *tile)
                    idx = _topk_cols(d, cid, take)
                    dist = (
                        refine(state_, rq, idx, *tile) if refine is not None
                        else np.take_along_axis(d, idx, axis=1)
                    )
                    held.append((np.repeat(qids_[qi], take), cid[idx].ravel(), dist.ravel()))
            if sum(len(h[0]) for h in held) > len(qids_) * kth_:  # running top-k
                held = [merge_topk(*map(np.concatenate, zip(*held)), kth_)[:3]]
        if held:  # one batch per task
            qid, vid, dist, _ = merge_topk(*map(np.concatenate, zip(*held)), kth_)
            yield from hits_table(qid, vid, dist).to_batches()

    hits = scan.mapInArrow(part, SEARCH_SCHEMA).toArrow()
    if rerank_with is None or not hits.num_rows:
        return result_frame(spark, hits, kth)
    return _rerank(
        spark, qids, qx, hits, shortlist_k, kth,
        rerank_with, rerank_id_col, rerank_vec_col,
    )


def _rerank(spark, qids, qx, hits, shortlist_k, kth, rerank_with, id_col, vec_col):
    """Exact L2² top-k of the collected hits' ``shortlist_k`` best per
    query: one broadcast join of the unique ids fetches their floats,
    scored against the collected queries with `l2_fold` — bit-identical
    to ``distance_expr("l2_sq")``, 0.0 for exact duplicates. Ids missing
    from ``rerank_with`` drop out, as in an inner join."""
    qid, vid, _, _ = merge_topk(*(c.to_numpy() for c in hits.columns), shortlist_k)
    want = spark.createDataFrame(pa.table({"vec_id": np.unique(vid)}))
    fetched = F.broadcast(want).join(rerank_with.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ), "vec_id").toArrow().sort_by("vec_id")
    fid = fetched.column("vec_id").to_numpy()
    found = np.isin(vid, fid)
    qid, vid = qid[found], vid[found]
    vpos = np.searchsorted(fid, vid)
    vecs = _list_col_matrix(fetched.column("v"))
    by_q = np.argsort(qids, kind="stable")
    qpos = by_q[np.searchsorted(qids[by_q], qid)]
    dist = np.empty(len(qid))
    step = max(1, _TILE_BYTES // (8 * qx.shape[1]))
    for s in range(0, len(qid), step):
        t = slice(s, s + step)
        dist[t] = l2_fold(qx[qpos[t]], vecs[vpos[t]])
    return result_frame(spark, hits_table(qid, vid, dist), kth)


def ivfpq_search(
    encoded: DataFrame,
    centers: list,
    codebooks: np.ndarray,
    queries: DataFrame,
    kth: int = 10,
    nprobe: int = 8,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    rerank_with: DataFrame | None = None,
    oversample: int = 5,
    rerank_id_col: str = "vec_id",
    rerank_vec_col: str = "embedding",
    max_driver_queries: int = 100_000,
) -> DataFrame:
    """ADC top-k over an IVF-PQ index (`ivfpq_build`): each query
    probes its ``nprobe`` nearest cells, and the residual LUT absorbs
    the query-minus-centroid offset, so ADC stays an 8-byte-per-row
    scan. Optional exact re-rank on an ``oversample``·k shortlist, as
    in `pq_search`; ``rerank_id_col``/``rerank_vec_col`` name the float
    table's columns (mirroring `ivfpq_build`'s id_col/vec_col — an
    index built from custom-named columns re-ranks without renaming).
    Returns (query_id, vec_id, dist, rank)."""
    return _scan_topk(
        encoded, queries, "ivfpq_search", _adc_scores, codebooks, (),
        centers, nprobe, kth, query_id, query_col, rerank_with, oversample,
        rerank_id_col, rerank_vec_col, max_driver_queries,
    )


def pq_search(
    encoded: DataFrame,
    codebooks: np.ndarray,
    queries: DataFrame,
    kth: int = 10,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    rerank_with: DataFrame | None = None,
    oversample: int = 5,
    rerank_id_col: str = "vec_id",
    rerank_vec_col: str = "embedding",
    max_driver_queries: int = 100_000,
) -> DataFrame:
    """ADC top-k over flat PQ codes (`pq_encode`'s (vec_id, codes)):
    (query_id, vec_id, dist, rank) with approximate L2² distances;
    candidates never materialize float vectors.

    ``rerank_with``: the float-vector table (``rerank_id_col``,
    ``rerank_vec_col``). When given, ADC produces an ``oversample``·k
    shortlist and the final top-k is exact-ranked on the shortlist —
    the IVFPQ+re-rank recipe: the full scan stays on 8-byte codes,
    floats are fetched for only O(oversample·k) rows per query."""
    return _scan_topk(
        encoded, queries, "pq_search", _adc_scores, codebooks, (),
        None, 1, kth, query_id, query_col, rerank_with, oversample,
        rerank_id_col, rerank_vec_col, max_driver_queries,
    )


def ivfsq8_build(
    vectors: DataFrame,
    n_clusters: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kmeans_iter: int = 10,
    fit_fraction: float | None = None,
):
    """IVF-SQ8: coarse k-means cells + SQ8 scalar quantization over
    RESIDUALS (v − centroid) — IVF-PQ's pruned-I/O cell structure with
    SQ8's shape-independent recall (VERDICT r6 #7). The natural default
    for clustered-or-unknown corpora: per-query scan bytes track nprobe
    (cells are partition-prunable on disk, like ivfpq), while recall is
    bounded by 8-bit-per-dim quantization error alone — it does NOT
    collapse on iid data the way PQ's 256-centroid subspaces do (the
    measured 10M iid recall 0.262; NOTES r6 §11). Cost: 1 byte/dim
    (4× compression) instead of PQ's 1 byte/subspace (32×) — the
    middle rung of the capacity ladder.

    Residual encoding tightens the quantization grid: the global
    (lo, scale) bounds span the residual range (≈ cell radius), not the
    corpus range, so each of the 256 levels covers a finer interval.

    Returns (encoded, centers, lo, scale): ``encoded`` is
    (vec_id, cell, codes binary, cnorm) — write it
    ``partitionBy("cell")`` for the pruned on-disk layout; ``cnorm``
    is the query-independent code-norm term Σ_j scale_j²·c_j²,
    precomputed at encode time so the scan is one matmul per cell."""
    resid, centers = _residual_cells(
        vectors, n_clusters, id_col, vec_col, seed, kmeans_iter, fit_fraction
    )
    lo, scale = sq8_train(resid, vec_col="_resid")
    encoded = sq8_encode(resid, lo, scale, vec_col="_resid", keep=("cell",))
    return encoded, centers, lo, scale


def ivfsq8_search(
    encoded: DataFrame,
    centers: list,
    lo: np.ndarray,
    scale: np.ndarray,
    queries: DataFrame,
    kth: int = 10,
    nprobe: int = 8,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    rerank_with: DataFrame | None = None,
    oversample: int = 5,
    rerank_id_col: str = "vec_id",
    rerank_vec_col: str = "embedding",
    max_driver_queries: int = 100_000,
) -> DataFrame:
    """Asymmetric SQ8 top-k over an IVF-SQ8 index (`ivfsq8_build`):
    each query probes its ``nprobe`` nearest cells and is scored as the
    residual q − centroid, one fixed-grid float64 dot per cell over the
    8×-smaller code tile (`_sq8_scores`: a distance does not depend on
    tiling or partitioning). Optional exact re-rank on an ``oversample``·k
    shortlist. Returns (query_id, vec_id, dist, rank) with squared-L2
    distances."""
    return _scan_topk(
        encoded, queries, "ivfsq8_search", _sq8_scores, (lo, scale),
        ("cnorm",), centers, nprobe, kth, query_id, query_col,
        rerank_with, oversample, rerank_id_col, rerank_vec_col,
        max_driver_queries,
    )
