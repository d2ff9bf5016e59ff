"""Similarity search beyond brute force: IVF (k-means buckets) and
Hamming-LSH banding — the scale paths for ANN over embeddings.

IVF: cluster once (pyspark.ml KMeans, seeded), assign every vector to
its centroid partition, and answer queries by probing only the nprobe
nearest centroids — the candidate set shrinks from n to
n * nprobe / n_clusters, and the probe join is an equi-join on
cluster id (broadcast centroids, no shuffle of the big side).

Hamming-LSH: band a 63-bit sign code into 16-bit bands; vectors agreeing
on any band become candidates via equi-join; verify with exact popcount.
Deterministic (no randomness at all) → DuckDB-oracle-checkable.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hawk_pack_spark.functions.distance import distance_expr, hamming, simhash_code
from hawk_pack_spark.operators.topk import l2_fold, topk_rows

# knn_join's corpus-sized joins pin to sort-merge at or above this row
# count (broadcast of a corpus-sized side is unsafe there — the r9
# driver-OOM lesson); below it AQE's broadcast choice is safe
_MERGE_PIN_MIN_ROWS = 200_000
# ...but broadcast only WINS once the candidate sort is expensive
# enough to dominate: measured 38.9 s unpinned vs 85.2 s pinned at
# n=50k, yet 20-21 s unpinned vs 12-13 s pinned at n=2k (the broadcast
# build's adaptive materialization barriers cost more than the trivial
# sort there, r12) — so the pin is waived only inside this band
_BCAST_WAIVE_MIN_ROWS = 25_000
# _kmeans_fit_np size dispatches (r13, the 10M-defaults OOM/latency
# lessons): the Lloyd's score matrix tiles above this many (n, k)
# float64 entries (512 MB — the single-shot path below it is every
# fixture/bench regime, byte-identical), and k-means++'s k sequential
# O(pool) draws hand over to a uniform distinct init above this k
# (every pre-existing regime is ≤4096 cells, incl. the r11 1M receipt)
_FIT_TILE_ENTRIES = 64 * 1024 * 1024
_PP_SEED_MAX_K = 4096


def hash_embeddings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 32,
    portable_hash: bool = True,
) -> DataFrame:
    """Feature-hashing text vectorizer as vectorized dataflow: explode
    tokens → bucket by hash → count per (doc, bucket) → densify with a
    map lookup. All JVM-side (the Column-expression variant in
    functions/text.py evaluates O(dim·tokens) interpreted lambdas per
    row — 10× slower at corpus scale). Returns (id, embedding).

    portable_hash=True buckets with the md5-based hash64 (reproducible
    in the DuckDB oracle, ~17µs/token); False uses native xxhash64
    (~10× faster, Spark-only) — the production default at corpus scale."""
    from hawk_pack_spark.functions.text import hash64, tokens

    ex = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    bucket = (
        F.pmod(hash64(F.col("tok")), F.lit(dim))
        if portable_hash
        else F.pmod(F.xxhash64(F.col("tok")), F.lit(dim))
    )
    counts = (
        ex.withColumn("bucket", bucket)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dense = counts.groupBy(id_col).agg(
        F.map_from_arrays(
            F.collect_list("bucket"), F.collect_list("cnt")
        ).alias("m")
    )
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    return dense.select(
        F.col(id_col),
        F.transform(
            idx, lambda i: F.coalesce(F.element_at("m", i), F.lit(0)).cast("double")
        ).alias("embedding"),
    )


# ---------------------------------------------------------------------------
# IVF


def _kmeans_fit_np(x: np.ndarray, k: int, seed: int, iters: int) -> np.ndarray:
    """Driver-side seeded coarse-quantizer fit: k-means++ init + Lloyd's,
    all BLAS. A ≤262k-row × 64-d sample is a ≤134 MB problem — the
    pyspark.ml fit it replaces paid ~20 scheduler rounds and a measured
    2-6 s of fixed overhead per call at EVERY scale (6.0 s on a 2000-row
    fixture table; guide §1.2: fix the algorithm before the config).
    Deterministic for a fixed (sample, seed). Same edge contracts as
    pq.py's `_kmeans_np`: empty cells re-seed from the farthest points,
    n < k pads by cycling the sample."""
    n = len(x)
    if n == 0:
        raise ValueError("k-means fit sample is empty")
    rng = np.random.RandomState(seed)
    k_eff = min(k, n)
    # k-means++ is k SEQUENTIAL O(pool·d) steps — on a bounded uniform
    # subsample (32 candidates per center) it costs <0.5 s at any k,
    # and the full-sample Lloyd's below polishes whatever the init
    # misses (measured: 3 s → <0.5 s at k=256 on a 50k sample,
    # fixture-scale inertia unchanged).
    pool = x
    if n > 32 * k_eff:
        pool = x[rng.choice(n, size=32 * k_eff, replace=False)]
    np_pool = len(pool)
    centers = np.empty((k_eff, x.shape[1]), dtype=np.float64)
    if k_eff > _PP_SEED_MAX_K:
        # Seeding is SIZE-DISPATCHED too (r13): k-means++ is k_eff
        # SEQUENTIAL O(pool) draws — at knn_join's 10M auto-sizing
        # (k=40k over a 160k sample) that alone measured ~9 of the
        # fit's 9.6 minutes. At huge k relative to structure the
        # standard coarse-quantizer recipe is a uniform distinct init
        # polished by Lloyd's (plus the empty-cell re-seed below);
        # every pre-existing regime (fixtures ≤256 cells, the 1M
        # family 256, the r11 1M knn_join receipt 4000) keeps the
        # exact ++ stream unchanged.
        centers[:] = pool[np.sort(rng.choice(np_pool, size=k_eff, replace=False))]
    else:
        xx = (pool * pool).sum(1)
        centers[0] = pool[rng.randint(np_pool)]
        d2 = np.maximum(
            xx - 2.0 * (pool @ centers[0]) + (centers[0] ** 2).sum(), 0.0
        )
        for j in range(1, k_eff):
            tot = d2.sum()
            if tot <= 0.0:  # every remaining point coincides with a center
                centers[j:] = pool[rng.choice(np_pool, size=k_eff - j)]
                break
            centers[j] = pool[rng.choice(np_pool, p=d2 / tot)]
            dj = np.maximum(
                xx - 2.0 * (pool @ centers[j]) + (centers[j] ** 2).sum(), 0.0
            )
            np.minimum(d2, dj, out=d2)
    if k_eff < k:
        centers = np.vstack([centers] * (k // k_eff + 1))[:k]
    xx = (x * x).sum(1)
    # Lloyd's. argmin_c ||x−c||² == argmax_c (x·c − ||c||²/2): one
    # (n, k) matmul plus an in-place bias row per iteration — no second
    # n×k temporary (the naive d = xx − 2xCᵀ + cc form is memory-bandwidth
    # bound on its broadcast temporaries, measured 4x slower at 50k×256).
    # The (n, k) score matrix itself is SIZE-DISPATCHED (r13): at
    # knn_join's 10M auto-sizing (160k sample × 40k cells) a single-shot
    # matmul is a 51 GB driver allocation — the first 10M defaults run
    # died in the kernel OOM killer at 78 GB RSS exactly here. Below the
    # bound (every fixture/bench regime: 1M family is 50k × 256 ≈ 13M
    # entries) the one-matmul path is UNCHANGED — byte-identical fits;
    # above it the rows tile at ~512 MB per score block (argmax/max per
    # row are independent, so tiling changes only allocation, not math).
    prev = None
    for _ in range(iters):
        kk = len(centers)
        cbias = 0.5 * (centers * centers).sum(1)[None, :]
        if n * kk <= _FIT_TILE_ENTRIES:
            s = x @ centers.T
            s -= cbias
            assign = s.argmax(1)
            smax = None  # s retained; max computed lazily below
        else:
            assign = np.empty(n, dtype=np.int64)
            smax = np.empty(n, dtype=np.float64)
            tile = max(1, _FIT_TILE_ENTRIES // kk)
            for i0 in range(0, n, tile):
                st = x[i0:i0 + tile] @ centers.T
                st -= cbias
                assign[i0:i0 + tile] = st.argmax(1)
                smax[i0:i0 + tile] = st.max(1)
        if prev is not None and np.array_equal(assign, prev):
            break  # converged: further iterations are no-ops
        prev = assign
        counts = np.bincount(assign, minlength=len(centers)).astype(np.float64)
        sums = np.zeros_like(centers)
        np.add.at(sums, assign, x)
        ne = counts > 0
        centers[ne] = sums[ne] / counts[ne, None]
        if not ne.all():
            # farthest points re-seed empty cells; d²_min = ||x||² − 2·s_max,
            # so ascending (2·s_max − ||x||²) is descending distance.
            # More empty cells than sample rows (k > ~2n after the n<k
            # padding — reachable via knn_join's auto-sizing on corpora
            # above ~12.5M rows) cycles the farthest points instead of
            # crashing on the shape mismatch (ADVICE r12).
            if smax is None:
                smax = s.max(1)
            far = np.argsort(2.0 * smax - xx)
            need = int((~ne).sum())
            take = far[:need] if need <= n else np.resize(far, need)
            centers[~ne] = x[take]
    return centers


def ivf_build(
    vectors: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    fit_fraction: float | None = None,
    fit_cap: int = 262_144,
    with_payload: bool = True,
) -> tuple[DataFrame, list[list[float]]]:
    """Fit a seeded coarse quantizer and assign every vector to a cell.

    Returns (assigned vectors DataFrame (id, vec, cluster), centroid
    list). Centroids are small (n_clusters × dim) and live on the
    driver for broadcast into query planning. ``with_payload=False``
    drops the vector from the assignment output — (id, cluster) only —
    so the payload crosses the Arrow boundary INTO the scorer but never
    back (~12 MB instead of ~550 MB returned at 1M×64d); callers that
    only route on the cell id (the content-sharded index builds) want
    this, callers that score inside cells (semdedup, ivf_search,
    range_search) need the vectors and keep the default.

    The FIT runs driver-side on a bounded sample (`_kmeans_fit_np`):
    ``fit_fraction`` samples the corpus (the standard coarse-quantizer
    recipe — at 100 TB you never fit k-means on the full corpus; every
    scale-path caller passes it) and ``fit_cap`` bounds the collected
    sample unconditionally (262k × 64-d ≈ 134 MB driver-side worst
    case). At fixture scales the cap exceeds the table, so the fit sees
    every row like the old full-table fit did. The ASSIGNMENT pass
    stays distributed and linear: one tiled BLAS argmin per Arrow batch
    over the broadcast centroid matrix (`_assign_top_cells`, m=1).

    This replaces the pyspark.ml KMeans fit+transform (r12, guide
    §1.2/§4.2): the ML fit paid a measured 2-6 s of fixed scheduler/JIT
    overhead per call at every fixture scale and the transform boxed a
    DenseVector per row. Centroids differ from the ML fit's (both are
    seeded-deterministic k-means); every consumer absorbs that by
    construction — the IVF triangle-inequality prune is lossless
    (range_search), and the ANN/semdedup/knn_join rows gate invariants
    (recall/subset/degree) with measured headroom — re-verified against
    the DuckDB oracle at every SF after the swap."""
    sel = vectors.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    )
    if fit_fraction is not None:
        # caller-bounded seeded sample; fit_cap still bounds the DRIVER
        # collect (a fraction sized for one corpus is unbounded on a
        # bigger one — 0.2 of 10M rows is a 1 GB driver pull; at every
        # fixture/bench scale the sample is under the cap, so the limit
        # is a no-op there)
        rows = (
            sel.sample(fraction=fit_fraction, seed=seed)
            .select(vec_col).limit(int(fit_cap)).collect()
        )
        if not rows:
            # a tiny table × small fraction can draw an empty sample;
            # the full table is trivially collectable in exactly that
            # regime — fall back instead of raising (ADVICE r12)
            rows = sel.select(vec_col).limit(int(fit_cap)).collect()
    else:
        rows = sel.select(vec_col).limit(int(fit_cap) + 1).collect()
        if len(rows) > int(fit_cap):
            # above-cap corpus with no caller fraction: limit() is a
            # partition-order prefix — biased on sorted/clustered
            # corpora and layout-dependent. Re-draw a seeded bounded
            # sample instead (one count job, only in this regime);
            # below the cap the collect above saw the whole table and
            # the fit is unchanged (ADVICE/VERDICT r12).
            n_all = sel.count()
            frac = min(1.0, 1.1 * float(fit_cap) / max(1, n_all))
            rows = (
                sel.sample(fraction=frac, seed=seed)
                .select(vec_col).limit(int(fit_cap)).collect()
            )
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    centers = _kmeans_fit_np(x, n_clusters, seed, max_iter)
    return _ivf_assign_arrow(sel, centers, with_payload=with_payload), [
        [float(v) for v in c] for c in centers
    ]


def _ivf_assign_arrow(
    sel: DataFrame, centers: np.ndarray, with_payload: bool = True
) -> DataFrame:
    """Nearest-cell id appended to each (id, vec) row — mapInArrow
    passthrough: the list column's values buffer reshapes zero-copy into
    the (rows, dim) matrix (`_list_col_matrix`), one BLAS argmin per
    tile, and the INPUT columns are re-emitted untouched (no per-row
    conversion in either direction — the mapInPandas form's measured
    cost was exactly that conversion). argmin_c ||x−c||² ==
    argmax_c (x·c − ||c||²/2); np.argmax takes the first max, so ties
    break to the lower cell id like `_assign_top_cells`' stable sort.
    Row tiles are bounded to `_TILE_DOUBLES` with a 1-row floor, so the
    score tile stays ≤ ~190 MB for ANY cell count (the r11 OOM lesson)."""
    import pyarrow as pa
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centers, dtype=np.float64)
    bc = sel.sparkSession.sparkContext.broadcast((C, 0.5 * (C * C).sum(axis=1)))
    rows_per_tile = max(1, _TILE_DOUBLES // max(1, len(C)))
    kept = sel.schema.fields if with_payload else sel.schema.fields[:1]
    out_schema = StructType(list(kept) + [StructField("cluster", IntegerType())])
    names = [f.name for f in out_schema.fields]
    n_keep = len(kept)

    def part(it):
        C_, half_cc = bc.value
        for batch in it:
            for lo in range(0, batch.num_rows, rows_per_tile):
                chunk = batch.slice(lo, rows_per_tile)
                mat = _list_col_matrix(chunk.column(1))
                s = mat @ C_.T
                s -= half_cc[None, :]
                yield pa.RecordBatch.from_arrays(
                    [chunk.column(i) for i in range(n_keep)]
                    + [pa.array(s.argmax(1).astype(np.int32), type=pa.int32())],
                    names=names,
                )

    return sel.mapInArrow(part, out_schema)


def ivf_search(
    assigned: DataFrame,
    centers: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    query_id: str = "query_id",
    query_col: str = "query_vec",
) -> DataFrame:
    """IVF-Flat l2_sq top-k over `ivf_build`'s (vec_id, embedding,
    cluster): the routed `pq._scan_topk` over the raw vectors of each
    query's ``nprobe`` nearest cells, scored in ``distance_expr``'s
    left-to-right fold (`topk.l2_fold`). A batch over 100 000 queries
    raises ValueError. Returns (query_id, vec_id, dist, rank)."""
    from hawk_pack_spark.operators.pq import _scan_topk

    return _scan_topk(
        assigned.withColumnRenamed("cluster", "cell"), queries, "ivf_search",
        lambda _, q, v: l2_fold(q[:, None, :], v[None, :, :]), None, (),
        centers, nprobe, k, query_id, query_col, None, 1, "vec_id",
        "embedding", 100_000, code_col="embedding", residual=False,
    )


def knn_join(
    vectors: DataFrame,
    k: int = 10,
    n_clusters: int | None = None,
    nprobe: int | None = None,
    replicas: int | None = None,
    descent_rounds: int = 1,
    metric: str = "l2_sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float | None = None,
    n_rows: int | None = None,
    dim: int | None = None,
    candidate_budget: int | None = 5_000_000_000,
) -> DataFrame:
    """Blocked k-NN SELF-join: every vector's top-k nearest neighbors
    (self excluded) — the kNN-graph builder behind SemDeDup clustering,
    diversity sampling, and graph-based label propagation. Returns
    (query_id, vec_id, dist, rank).

    Driver actions (VERDICT r8 #3): auto-sizing ``n_clusters``/
    ``fit_fraction`` needs the corpus size — when both are defaulted
    AND ``n_rows`` is not given, ONE ``count()`` job runs before any
    work (at 100 TB that is a full scan; it is the documented price of
    auto-sizing). Pass ``n_rows`` or explicit ``n_clusters``+
    ``fit_fraction`` to make the default path job-free. ``n_rows``
    sizes cells (approximate is fine for that) but ALSO gates the
    sort-merge pin waiver below: near the 200k upper band edge an
    UNDERcounted hint re-opens the corpus-sized-broadcast driver-OOM
    the pin exists to prevent (r9) — keep the hint accurate to within
    ~2x around the [25k, 200k] boundaries. Likewise ``dim``: the unrolled-codegen
    distance fold needs the vector width; without the hint one
    ``first()`` row probe sniffs it (Spark array columns carry no
    length in-schema).

    Scale shape: unlike ivf_search (small query batch → probes
    broadcast), BOTH sides here are corpus-sized, so the candidate
    stage is a co-partitioned equi-JOIN ON CELL ID. Three recall
    levers, all join-shaped:
    - each point PROBES its ``nprobe`` nearest k-means cells;
    - each point is ASSIGNED to its ``replicas`` nearest cells
      (SPANN-style boundary replication — a neighbor pair is met iff
      the probe and assignment cell sets intersect);
    - ``descent_rounds`` rounds of NN-descent refinement (Dong et al.,
      WWW'11): candidates expand to neighbors-of-neighbors over the
      symmetrized current graph, then re-rank — each round is two
      self-equi-joins on the node key, fan-out ≤ (2k)² per point.

    ``n_clusters`` defaults to max(16, n/250): cell width stays
    ~250·replicas rows, so per-point candidate work is
    nprobe·replicas·250 regardless of corpus size, and total work
    scales linearly with n — the 100 TB contract. Every stage is
    linear by construction: the coarse quantizer FITS on a bounded
    sample (k-means is O(n·k·iters); with k ∝ n a full-corpus fit is
    quadratic — measured), cell RANKING is a partition-local numpy
    top-m over the broadcast centroid matrix (_assign_top_cells — the
    crossJoin+window form shuffled n×n_clusters wide rows), and
    candidate SCORING projects the distance before any shuffle.
    Nothing corpus-sized is ever broadcast or crossed.

    Approximate by construction (a boundary neighbor outside every
    probed cell AND outside the 2-hop graph neighborhood is missed) —
    the catalog row gates sampled recall against the exact join, the
    ANN-family evidence contract. Measured on the synthetic near-iid
    64-d fixture (the hard shape for space partitioning): recall
    0.85-0.88 at n=500-5000 with the defaults; brute force via
    knn_exact stays the right tool below ~10k rows.

    BUDGET-AWARE DEFAULTS (VERDICT r9 #3): the candidate pair volume
    Σ_cells probes_c·members_c is computable BEFORE the join from the
    same per-cell (cluster, count) reductions the grid salting already
    does. When BOTH ``nprobe`` and ``replicas`` are left defaulted, the
    operator measures that volume at every (np ≤ 6, r ≤ 2) point in ONE
    aggregate over the cell assignment (decimal(38,0) accumulators; one
    extra linear pass — the documented price of the guard) and picks
    the highest-volume point within ``candidate_budget`` pairs,
    warning loudly when it derates. An 8x-allowanced uniform-cell bound
    short-circuits the measuring job for corpora that cannot breach the
    budget (the n_rows+dim hint path stays zero-driver-action below
    ~50k rows); 8x covers the WORST measured skew inflation — on the
    1M content-clustered corpus the exact volume at (6,2) was 18.7e9
    pairs, 6.2x the uniform 3e9 estimate. The default budget 5e9 pairs
    is sized to executor-local disk on the measured box: the r9 (4,1)
    point (~5e9 exact pairs) completed with bounded spill, while the
    old fixed default (6,2) = 18.7e9 pairs spilled >80 GB and hit the
    disk ceiling (NOTES r9 §12a); size it to YOUR executors' local
    disk when that differs. Explicit ``nprobe``/``replicas`` are ABSOLUTE —
    passing either disables derating entirely; ``candidate_budget=None``
    restores the fixed (6,2) default unconditionally. Derating lowers
    nprobe/replicas rather than raising ``n_clusters``: a larger cell
    count would need a second k-means fit pass, and thinner cells raise
    the salting-replication surtax without bounding the pair product.
    """
    auto_derate = nprobe is None and replicas is None
    if nprobe is None:
        nprobe = 6
    if replicas is None:
        replicas = 2
    _n_known = n_rows
    if n_clusters is None or fit_fraction is None:
        n = n_rows if n_rows is not None else vectors.count()
        _n_known = n
        if n_clusters is None:
            n_clusters = max(16, n // 250)
        if fit_fraction is None and n > 25_000:
            # k-means is O(n·k·iters); with k ∝ n the FIT becomes
            # quadratic in n (measured: the 50k→100k ladder step took
            # 2.9× instead of 2× — NOTES r8). Fitting on a bounded
            # sample is the standard coarse-quantizer recipe:
            # assignment stays full-corpus and linear, training cost
            # stops growing with n. The sample targets at least
            # O(n_clusters) rows so the quantizer stays well-posed
            # when auto-sized cells outgrow the flat 25k floor
            # (n_clusters = n/250 crosses 25k/4 near n=25M — ADVICE
            # r12; ivf_build's fit_cap still bounds the collect).
            fit_fraction = min(1.0, max(25_000, 4 * n_clusters) / n)
    # bulk candidate scoring is the hot path: with a known dim, the
    # unrolled codegen fold is ~12x the higher-order-function fold at
    # IDENTICAL bit-level results (measured, NOTES r8) — fall back to
    # the HOF expression for exotic metrics
    if dim is None:
        first = vectors.select(vec_col).first()
        dim = len(first[0]) if first and first[0] is not None else None

    def _dist(a, b):
        if metric == "l2_sq" and dim:
            from hawk_pack_spark.functions.distance import l2_sq_unrolled

            return l2_sq_unrolled(a, b, dim)
        return distance_expr(metric, a, b)

    _, centers = ivf_build(
        vectors,
        n_clusters=n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        seed=seed,
        fit_fraction=fit_fraction,
    )
    # top-m cell ranking is partition-local numpy (one BLAS matmul per
    # Arrow batch over the broadcast centroid matrix, stable-argsort
    # tie-break on cell id) — the crossJoin(centroids) + window form it
    # replaces materialized n×n_clusters WIDE rows through two window
    # sorts, i.e. O(n²/cell_width) shuffled rows once n_clusters ∝ n
    # (measured 287-562s at n=100k; this stage now costs seconds and
    # emits n·m narrow-ish rows, linear in n — NOTES r8).
    topm = _assign_top_cells(
        vectors, centers, max(nprobe, replicas), id_col, vec_col
    )
    # The assignment is the most expensive narrow stage at scale (one
    # tiled BLAS pass over n×n_clusters with n_clusters ∝ n) and has up
    # to FOUR downstream consumers in one run — the derate volume
    # aggregate, the probe and member sides of the candidate join, and
    # the salt-factor reduction. Un-materialized, Spark re-executes it
    # for each (measured at 10M/40k cells: ~95 min PER PASS on a
    # throttled box — the whole run's cost was the recompute, r12).
    # Materialize it ONCE unconditionally (r13): the r12 gate skipped
    # small corpora on the assumption checkpoint overhead ≈ recompute
    # there, but the same-process A/B at the sf0.1 fixture (n=2k)
    # measured the eager checkpoint ~1 s FASTER — the consumers re-ran
    # the parquet scan + assign per branch either way, and the
    # checkpoint write of a 2k-row frame is milliseconds.
    _pin_waived = (
        _n_known is not None
        and _BCAST_WAIVE_MIN_ROWS <= _n_known <= _MERGE_PIN_MIN_ROWS
    )
    topm = topm.localCheckpoint(eager=True)
    if auto_derate and candidate_budget is not None:
        # Analytic fast path: under uniform cells the pair volume is
        # n·nprobe·replicas·(n/n_clusters); skew concentrates mass and
        # RAISES the product sum — measured 6.2x uniform on the 1M
        # content-clustered corpus (exact 18.7e9 vs uniform 3e9), so
        # the allowance is 8x. When even the allowanced bound fits the
        # budget, skip the measuring job entirely — the hint path
        # (n_rows + dim given) stays zero-driver-action for every
        # corpus that cannot possibly breach the budget.
        est = (
            8 * _n_known * nprobe * replicas
            * max(1, _n_known // max(1, n_clusters))
            if _n_known is not None
            else None
        )
        if est is None or est > candidate_budget:
            nprobe, replicas = _derate_to_budget(
                topm, nprobe, replicas, candidate_budget
            )
    probes = topm.where(F.col("crank") <= nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        "cluster",
    )
    members = topm.where(F.col("crank") <= replicas).select(
        id_col, vec_col, "cluster"
    )
    # HOT-CELL GRID SALTING (NOTES r9): k-means cells average
    # n/n_clusters members but the tail skews — measured at n=1M:
    # p50=184, p99=3934, max=8348 (33x target) on tightly-clustered
    # content, and probe counts skew WORSE (a popular cell draws
    # probes from its whole neighborhood). The candidate join's OUTPUT
    # for one hot cell is probes_c x members_c rows emitted by ONE
    # sort-merge join group — AQE's OptimizeSkewedJoin cannot see it
    # (both INPUT sides of the partition are small in bytes; only the
    # join product explodes), and whole-stage codegen buffers a join
    # group's output before the downstream WindowGroupLimit consumes
    # it, so a 10^7-pair group is a straight heap OOM (measured at
    # n=1M: java.lang.OutOfMemoryError in BufferedRowIterator.append
    # under GroupedLimitIterator — member-side-only salting bounded
    # members per key but left probes_c unbounded). Fix: TWO-SIDED
    # grid salting. Per cell, split members into F_m = ceil(mc/cap)
    # hash buckets and probes into F_p = ceil(pc/cap) hash buckets;
    # members replicate across the F_p probe buckets, probes across
    # the F_m member buckets, and the join key is (cluster, msalt,
    # psalt) — every pair meets EXACTLY once (at the unique
    # (member's msalt, probe's psalt) key) and a join group is at most
    # cap^2 pairs (~250k: megabytes, not gigabytes). Replication cost
    # is pair_volume/cap extra input rows per side — a ~1/500 surtax
    # on the join output volume itself. Cells at or under cap on both
    # sides get factor 1x1: the explodes are no-ops and the only
    # overhead is two (cluster, count) reductions + broadcast joins.
    salt_width = 500
    # BOTH salt factors from ONE aggregation over topm (r13, guide
    # §2.4: two operations keyed the same way share one exchange): the
    # member count is the crank<=replicas subset and the probe count
    # the crank<=nprobe subset of the SAME rows, so conditional sums in
    # a single groupBy replace the two per-side groupBys + equi-join —
    # one pass over the assignment instead of two, two fewer shuffle
    # stages, byte-identical factors (measured ~1 s off the sf0.1
    # fixture row; the win scales with topm, which is corpus-sized).
    factors = (
        topm.groupBy("cluster")
        .agg(
            F.sum((F.col("crank") <= replicas).cast("long")).alias("_mc"),
            F.sum((F.col("crank") <= nprobe).cast("long")).alias("_pc"),
        )
        .select(
            "cluster",
            F.greatest(F.lit(1), F.ceil(F.col("_mc") / salt_width))
            .cast("int")
            .alias("_fm"),
            F.greatest(F.lit(1), F.ceil(F.col("_pc") / salt_width))
            .cast("int")
            .alias("_fp"),
        )
    )
    members = (
        members.join(F.broadcast(factors), "cluster")
        .withColumn(
            "_msalt",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_fm")).cast("int"),
        )
        .withColumn(
            "_psalt", F.explode(F.sequence(F.lit(0), F.col("_fp") - 1))
        )
        .drop("_fm", "_fp")
    )
    probes = (
        probes.join(F.broadcast(factors), "cluster")
        .withColumn(
            "_psalt",
            F.pmod(F.xxhash64(F.col("query_id")), F.col("_fp")).cast("int"),
        )
        .withColumn(
            "_msalt", F.explode(F.sequence(F.lit(0), F.col("_fm") - 1))
        )
        .drop("_fm", "_fp")
    )
    # Distance is projected IMMEDIATELY after the cell join so the wide
    # rows (two vectors per candidate) are pipelined, never shuffled
    # (materializing the dedupe before the projection was measured
    # spilling ~150 GB at n=50k — the candidate set × 2 vectors).
    # BOTH sides are corpus-sized: the merge hint pins the join to
    # sort-merge so AQE can never "promote" a side to broadcast —
    # Spark's size estimate for array<double> columns runs far low,
    # and at n=1M the resulting driver-side broadcast build OOMs
    # (measured: STAGE_MATERIALIZATION failure at 8g driver; with the
    # hint the same point runs — NOTES r9). The pin is CONDITIONAL on
    # corpus size, waived only in the band where broadcast actually
    # WINS: at n=50k AQE's broadcast measured ~2x faster (38.9 s vs
    # 85.2 s pinned — the candidate sort dominates), but at n=2k it
    # measured ~2x SLOWER (20-21 s vs 12-13 s pinned: the broadcast
    # build's adaptive materialization barriers cost more than the
    # trivial sort, and topm must materialize separately per side —
    # r12, same-process A/B). Above the band a corpus-sized broadcast
    # is unsafe; with an unknown n_rows the pin stays on (safety beats
    # speed when size is unknown).
    def _pin(df):
        if _pin_waived:
            return df
        return df.hint("merge")

    scored = (
        probes.join(_pin(members), ["cluster", "_msalt", "_psalt"])
        .where(F.col("query_id") != F.col(id_col))
        .select(
            "query_id",
            F.col(id_col).alias("vec_id"),
            _dist(F.col("_qv"), F.col(vec_col)).alias("dist"),
        )
    )
    # A pair sharing c probed cells is scored c times (identical
    # doubles, c ≤ replicas), so the k distinct nearest all sit inside
    # the top k·replicas WINDOW rows (duplicates are adjacent under the
    # (dist, vec_id) order). Window-first instead of groupBy-first:
    # Catalyst's WindowGroupLimit does a map-side partial top-(k·r)
    # with an EXTERNAL sort that spills gracefully, where a hash
    # aggregate over the full candidate stream exhausted the execution
    # pool at n=100k (UNABLE_TO_ACQUIRE_MEMORY, 32 concurrent 10M-row
    # maps — NOTES r8); the dedupe then runs on the k·r·n survivor
    # rows, not the candidate stream.
    pre = topk_rows(
        scored, ["query_id"], "dist", k * max(1, replicas),
        tie_cols=["vec_id"], rank_name="_prerank",
    ).drop("_prerank")
    dedup = pre.dropDuplicates(["query_id", "vec_id"])
    g = topk_rows(dedup, ["query_id"], "dist", k, tie_cols=["vec_id"])
    if descent_rounds:
        qv = vectors.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
        dv = vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_dv")
        )

        # The descent rescore joins attach the (id, vec) corpus to the
        # candidate-pair list. Their pin band differs from the
        # candidate join's (r13): broadcast WINS here at ANY known
        # n <= 200k — the build side is the bare corpus projection
        # (~n·dim·8 B, <=100 MB at the band top, a size AQE can judge
        # honestly), not the salted/exploded frame whose estimate runs
        # low, and the same-process A/B at the sf0.1 fixture (n=2k)
        # measured the unpinned form ~1.2 s faster while the candidate
        # join there measured 2x SLOWER unpinned (the r12 band). Above
        # 200k or with n unknown the corpus-broadcast OOM risk (r9)
        # keeps the pin.
        def _pin_descent(df):
            if _n_known is not None and _n_known <= _MERGE_PIN_MIN_ROWS:
                return df
            return df.hint("merge")
        for _ in range(descent_rounds):
            fwd = g.select("query_id", F.col("vec_id").alias("_mid"))
            rev = g.select(
                F.col("vec_id").alias("query_id"), F.col("query_id").alias("_mid")
            )
            hop = fwd.unionAll(rev)
            two = hop.select(
                F.col("query_id").alias("_mid2"), F.col("_mid").alias("vec_id")
            )
            nn2 = (
                hop.join(two, hop["_mid"] == two["_mid2"])
                .select("query_id", "vec_id")
                .where(F.col("query_id") != F.col("vec_id"))
            )
            allc = g.select("query_id", "vec_id").unionAll(nn2).distinct()
            rescored = (
                allc.join(_pin_descent(qv), "query_id")
                .join(_pin_descent(dv), "vec_id")
                .select(
                    "query_id",
                    "vec_id",
                    _dist(F.col("_qv"), F.col("_dv")).alias("dist"),
                )
            )
            g = topk_rows(rescored, ["query_id"], "dist", k, tie_cols=["vec_id"])
    return g


def _derate_to_budget(
    topm: DataFrame, nprobe: int, replicas: int, budget: int
) -> tuple[int, int]:
    """Pick the highest-candidate-volume (nprobe, replicas) point whose
    EXACT pair volume Σ_cells c_np(cell)·c_r(cell) fits ``budget``,
    where c_j(cell) = #points whose j nearest cells include the cell —
    the same per-cell counts the grid salting re-derives downstream.
    One aggregate job over the assignment (every ladder point's volume
    in a single pass, decimal(38,0) accumulators so 1e9-row corpora
    cannot overflow the per-cell product sum); ties prefer more probes
    over more replicas (probing reaches NEW cells, replication only
    thickens boundaries). Warns loudly when the default point is
    derated; returns the default unchanged when it fits."""
    import warnings

    combos = [
        (np_, r)
        for np_ in range(1, nprobe + 1)
        for r in range(1, replicas + 1)
    ]
    cell = topm.groupBy("cluster").agg(
        *[
            F.sum((F.col("crank") <= j).cast("long")).alias(f"_c{j}")
            for j in range(1, max(nprobe, replicas) + 1)
        ]
    )
    row = cell.agg(
        *[
            F.sum(
                F.col(f"_c{np_}").cast("decimal(38,0)")
                * F.col(f"_c{r}").cast("decimal(38,0)")
            ).alias(f"v_{np_}_{r}")
            for np_, r in combos
        ]
    ).first()
    vols = {
        (np_, r): int(row[f"v_{np_}_{r}"] or 0) for np_, r in combos
    }
    fitting = [p for p in combos if vols[p] <= budget]
    if not fitting:
        chosen = (1, 1)  # smallest point; over budget — warn below
    else:
        chosen = max(fitting, key=lambda p: (vols[p], p[0]))
    if chosen != (nprobe, replicas) or vols[chosen] > budget:
        warnings.warn(
            f"knn_join: default (nprobe={nprobe}, replicas={replicas}) "
            f"implies {vols[(nprobe, replicas)]:,} candidate pairs — over "
            f"the {budget:,}-pair budget; derated to (nprobe={chosen[0]}, "
            f"replicas={chosen[1]}) = {vols[chosen]:,} pairs. Pass nprobe/"
            "replicas explicitly (absolute) or raise candidate_budget to "
            "override.",
            stacklevel=3,
        )
    return chosen


# Per-worker distance-tile budget in float64 elements (~190 MB); both
# the row axis AND (for extreme cluster counts) the centroid axis of
# the matmul are tiled to stay under it. Module-level so tests can
# shrink it to exercise the tiled merge on small data.
_TILE_DOUBLES = 24_000_000


def _exact_topm(d2: "np.ndarray", m: int) -> "np.ndarray":
    """Row-wise indices of the m smallest entries ordered by
    (value, index) — BIT-IDENTICAL to
    ``argsort(kind='stable')[:, :m]`` but O(n_cols) per row instead of
    O(n_cols log n_cols): argpartition selects m candidates, a lexsort
    over just those m orders them, and rows whose selection boundary
    carries VALUE TIES (counts > m — duplicate centroids, planted-tie
    tests) are refined individually over the tied set so the lower
    index always wins. Measured: the full stable argsort over a
    (rows × 40k-cell) tile was the dominant cost of the 10M assignment
    stage (r12); this cuts the stage several-fold at identical output.
    """
    n_cols = d2.shape[1]
    if m >= n_cols:
        return np.argsort(d2, axis=1, kind="stable")
    part = np.argpartition(d2, m - 1, axis=1)[:, :m]
    vals = np.take_along_axis(d2, part, axis=1)
    order = np.lexsort((part, vals), axis=1)
    idx = np.take_along_axis(part, order, axis=1)
    # boundary-tie refinement: a row is exact iff nothing OUTSIDE the
    # selection ties the selection's max value
    bound = np.take_along_axis(d2, idx[:, -1:], axis=1)
    tied_rows = np.nonzero((d2 <= bound).sum(axis=1) > m)[0]
    for r in tied_rows:
        cand = np.nonzero(d2[r] <= bound[r, 0])[0]  # index-ascending
        cv = d2[r, cand]
        sel = cand[np.lexsort((cand, cv))[:m]]
        idx[r] = sel
    return idx


def _assign_top_cells(
    vectors: DataFrame,
    centers: list[list[float]],
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Each vector's ``m`` nearest coarse cells, partition-locally:
    tiled (rows × n_clusters) BLAS matmuls per Arrow batch against the
    broadcast centroid matrix, stable argsort (ties → lower cell id).
    Returns exploded (id, vec, cluster, crank) with crank 1..m — zero
    shuffles, n·m output rows. The multi-cell generalization of
    ivf_assign's argmin.

    The distance tile is BOUNDED regardless of n_clusters: knn_join
    auto-sizes n_clusters ∝ n, so at n=10M a full 10k-row Arrow batch
    against 40k cells would be a 3.2 GB float64 tile PER WORKER — 32
    local workers ate ~100 GB and the kernel OOM-killed the session
    (measured, r11); a cluster executor dies identically. Rows are
    sub-chunked so each tile stays ≤ ~24M doubles (~190 MB); past the
    point where even an 8-row tile would exceed that (n_clusters > 3M,
    beyond knn_join's own sizing but reachable by direct callers), the
    CENTROID axis is tiled too and the per-chunk top-m are merged by
    (distance, cell id) — the same global order as the one-tile stable
    argsort, so the output is bit-identical either way."""
    import pandas as pd

    C = np.asarray(centers, dtype=np.float64)
    m = min(m, len(C))
    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast((C, (C * C).sum(axis=1)))
    rows_per_tile = max(8, _TILE_DOUBLES // max(1, len(C)))
    cells_per_tile = min(len(C), max(m, _TILE_DOUBLES // rows_per_tile))

    def part(it):
        C_, cn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            for lo in range(0, len(pdf), rows_per_tile):
                chunk = pdf.iloc[lo : lo + rows_per_tile]
                mat = np.array(
                    [np.asarray(v, dtype=np.float64) for v in chunk[vec_col]]
                )
                rn = (mat * mat).sum(1, keepdims=True)
                if cells_per_tile >= len(C_):
                    d2 = rn - 2.0 * mat @ C_.T + cn[None, :]
                    order = _exact_topm(d2, m)[:, :m]
                else:
                    # tile the centroid axis: per-chunk exact top-m
                    # (ties → lower id, ids contiguous per chunk), then
                    # a global (distance, id) merge — exactly the
                    # one-tile order.
                    cand_i, cand_d = [], []
                    for clo in range(0, len(C_), cells_per_tile):
                        Cc = C_[clo : clo + cells_per_tile]
                        d2c = (
                            rn
                            - 2.0 * mat @ Cc.T
                            + cn[None, clo : clo + cells_per_tile]
                        )
                        oc = _exact_topm(d2c, m)[:, :m]
                        cand_i.append(oc + clo)
                        cand_d.append(np.take_along_axis(d2c, oc, axis=1))
                    ci = np.concatenate(cand_i, axis=1)
                    cd = np.concatenate(cand_d, axis=1)
                    merged = np.lexsort((ci, cd), axis=1)[:, :m]
                    order = np.take_along_axis(ci, merged, axis=1)
                b = len(chunk)
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(
                            chunk[id_col].to_numpy(dtype=np.int64), m
                        ),
                        vec_col: chunk[vec_col].iloc[
                            np.repeat(np.arange(b), m)
                        ].to_numpy(),
                        "cluster": order.ravel().astype(np.int32),
                        "crank": np.tile(
                            np.arange(1, m + 1, dtype=np.int32), b
                        ),
                    }
                )

    return vectors.select(id_col, vec_col).mapInPandas(
        part,
        f"{id_col} long, {vec_col} array<double>, cluster int, crank int",
    )


def ivf_assign(
    vectors: DataFrame,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FROZEN-model cell assignment: nearest coarse centroid per vector,
    computed partition-locally (numpy argmin over the broadcast centroid
    matrix) — ZERO shuffles, the op a streaming micro-batch append needs.
    Returns (vec_id, cell, cdist_l2, <vec_col>); ``cdist_l2`` is the L2
    distance to the assigned centroid (the drift/routing signal)."""
    import pandas as pd

    C = np.asarray(centers, dtype=np.float64)
    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast((C, (C * C).sum(axis=1)))

    def part(it):
        C_, cn = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            d2 = (mat * mat).sum(1, keepdims=True) - 2.0 * mat @ C_.T + cn[None, :]
            cell = d2.argmin(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "cell": cell.astype(np.int32),
                    "cdist_l2": np.sqrt(
                        np.maximum(d2[np.arange(len(cell)), cell], 0.0)
                    ),
                    vec_col: pdf[vec_col],
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        part,
        f"vec_id long, cell int, cdist_l2 double, {vec_col} array<double>",
    )


def ivf_cell_stats(
    assigned: DataFrame,
    centers: list[list[float]],
    vec_col: str = "embedding",
) -> list[float]:
    """Per-cell covering radius: max L2 distance from any member to its
    centroid — ONE aggregate pass at build time, n_clusters numbers on
    the driver (the routing side-car, like the centroid list itself).
    Empty cells get radius 0.0."""
    spark = assigned.sparkSession
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cluster int, center array<double>",
    )
    d = distance_expr("l2_sq", F.col(vec_col), F.col("center"))
    rows = (
        assigned.join(F.broadcast(centers_df), "cluster")
        .groupBy("cluster")
        .agg(F.max(F.sqrt(d)).alias("r"))
        .collect()
    )
    radii = [0.0] * len(centers)
    for r in rows:
        radii[r["cluster"]] = float(r["r"])
    return radii


def range_search_ivf(
    assigned: DataFrame,
    centers: list[list[float]],
    cell_radii: list[float],
    queries: DataFrame,
    radius: float,
    metric: str = "l2_sq",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "query_vec",
) -> DataFrame:
    """EXACT radius search with LOSSLESS cell pruning.

    By the triangle inequality, cell c can contain a vector within L2
    radius r of q only if ``l2(q, center_c) - covering_radius_c <= r`` —
    so cells failing that test are skipped with zero recall loss, and
    the result is identical to the brute-force ``range_search``. With a
    cluster-partitioned index table the skipped cells are skipped at the
    I/O level too (PartitionFilters): probed bytes track selectivity,
    not corpus size — the radius-query analog of the IVF top-k story.

    ``metric``: "l2_sq" (radius in squared units) or "l2". Returns
    (query_id, vec_id, dist) with dist in the requested metric.
    """
    if metric not in ("l2_sq", "l2"):
        raise ValueError(f"range_search_ivf supports l2/l2_sq, got {metric!r}")
    r_l2 = float(radius) ** 0.5 if metric == "l2_sq" else float(radius)
    spark = assigned.sparkSession
    centers_df = spark.createDataFrame(
        [
            (i, [float(x) for x in c], float(cell_radii[i]))
            for i, c in enumerate(centers)
        ],
        "cluster int, center array<double>, cell_r double",
    )
    qc = queries.crossJoin(F.broadcast(centers_df))
    cdist_l2 = F.sqrt(distance_expr("l2_sq", F.col(query_col), F.col("center")))
    probes = qc.where(cdist_l2 - F.col("cell_r") <= F.lit(r_l2)).select(
        query_id, query_col, "cluster"
    )
    cand = assigned.join(F.broadcast(probes), "cluster")
    dist = distance_expr(metric, F.col(query_col), F.col(vec_col))
    return (
        cand.select(F.col(query_id), F.col(vec_id), dist.alias("dist"))
        .where(F.col("dist") <= F.lit(float(radius)))
    )


# ---------------------------------------------------------------------------
# Hamming LSH banding (deterministic)


def code_bands(df: DataFrame, id_col: str, code_col: str, band_bits: int = 16,
               n_bands: int = 4) -> DataFrame:
    """(id, band, band_val) — code split into n_bands chunks of band_bits."""
    parts = []
    mask = (1 << band_bits) - 1
    for b in range(n_bands):
        val = F.shiftrightunsigned(F.col(code_col), b * band_bits).bitwiseAND(F.lit(mask))
        parts.append(F.struct(F.lit(b).alias("band"), val.alias("band_val")))
    return df.select(
        F.col(id_col), F.col(code_col), F.explode(F.array(*parts)).alias("bk")
    ).select(id_col, code_col, F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))


def lsh_hamming_near_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_dist: int = 12,
    band_bits: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Near pairs by Hamming distance over sign codes, candidate-pruned
    by LSH banding (pairs must agree exactly on ≥1 band). Deterministic:
    both the codes and the banding are pure functions of the input."""
    coded = vectors.select(F.col(id_col), simhash_code(vec_col).alias("code"))
    bands = code_bands(coded, id_col, "code", band_bits, n_bands)
    a = bands.select(F.col(id_col).alias("id_a"), F.col("code").alias("code_a"),
                     "band", "band_val")
    b = bands.select(F.col(id_col).alias("id_b"), F.col("code").alias("code_b"),
                     "band", "band_val")
    cands = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "code_a", "code_b")
        .distinct()
    )
    return (
        cands.select(
            "id_a", "id_b",
            hamming(F.col("code_a"), F.col("code_b")).cast("int").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


# ---------------------------------------------------------------------------
# Arrow/numpy brute-force (the fast exact path for bench-critical flows)


def all_pairs_cosine_numpy(
    vectors: DataFrame,
    threshold: float,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine similarity ≥ threshold via block-partitioned BLAS
    matmuls: vectors hash into ``n_blocks`` blocks, every unordered block
    pair (i <= j) becomes one cogroup task computing that block-pair's
    similarity matrix. Nothing materializes on the driver — the only
    driver-side object is the O(n_blocks²) block-pair spine. Arithmetic
    is dot(a,b)/(norm_a*norm_b) (same formula as the fold-expression/
    oracle path; summation order differs at the 1e-15 level, masked by
    round 6).

    Scale note: O(n²) compute by design — the exact verifier. Each task
    holds two blocks (2·n/n_blocks vectors); size n_blocks so a block
    fits executor memory, and the shuffle volume is n·(n_blocks+1)/2
    rows (each block joins n_blocks+1 pairs ÷ 2 sides). At 100 TB the
    LSH/banding operators prune candidates first; this kernel is for the
    exact sweep at verification scale."""
    import pandas as pd

    spark = vectors.sparkSession
    spine = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(n_blocks) if i <= j],
        "ba int, bb int",
    )
    base = vectors.select(
        F.col(vec_id).alias("_id"), F.col(vec_col).alias("_v")
    ).withColumn("blk", F.pmod(F.xxhash64("_id"), F.lit(n_blocks)).cast("int"))
    # side A carries block ba of every pair; side B carries block bb
    # (qualified aliases: both sides reuse the same base/spine plan nodes,
    # which Spark's ambiguous-self-join check otherwise rejects)
    left = (
        base.alias("lb")
        .join(F.broadcast(spine.alias("ls")), F.col("lb.blk") == F.col("ls.ba"))
        .select(F.col("ls.ba").alias("ba"), F.col("ls.bb").alias("bb"),
                F.col("lb._id").alias("_id"), F.col("lb._v").alias("_v"))
    )
    right = (
        base.alias("rb")
        .join(F.broadcast(spine.alias("rs")), F.col("rb.blk") == F.col("rs.bb"))
        .select(F.col("rs.ba").alias("ba"), F.col("rs.bb").alias("bb"),
                F.col("rb._id").alias("_id"), F.col("rb._v").alias("_v"))
    )

    def block_pair(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        ids_a = lpdf["_id"].to_numpy(dtype=np.int64)
        ids_b = rpdf["_id"].to_numpy(dtype=np.int64)
        mat_a = np.array([np.asarray(v, dtype=np.float64) for v in lpdf["_v"]])
        mat_b = np.array([np.asarray(v, dtype=np.float64) for v in rpdf["_v"]])
        sims = (mat_a @ mat_b.T) / np.outer(
            np.linalg.norm(mat_a, axis=1), np.linalg.norm(mat_b, axis=1)
        )
        sims = np.round(sims, 6)
        if int(lpdf["ba"].iloc[0]) == int(lpdf["bb"].iloc[0]):
            # diagonal block: both sides hold the same ids — emit the
            # strict upper triangle by id
            ai, bi = np.nonzero(
                (sims >= threshold) & (ids_a[:, None] < ids_b[None, :])
            )
            return pd.DataFrame(
                {"id_a": ids_a[ai], "id_b": ids_b[bi], "sim": sims[ai, bi]}
            )
        # off-diagonal: blocks are disjoint id sets seen exactly once
        # (i < j spine) — orient each hit as (min, max); hash-assigned
        # blocks don't order ids, so either side can hold the smaller id
        ai, bi = np.nonzero(sims >= threshold)
        ia, ib = ids_a[ai], ids_b[bi]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "sim": sims[ai, bi],
            }
        )

    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(block_pair, "id_a long, id_b long, sim double")
    )


def _collect_query_batch(
    queries: DataFrame,
    query_id: str,
    query_col: str,
    max_driver_queries: int,
) -> tuple[np.ndarray, np.ndarray] | None:
    """Collect the query side to the driver as (ids, payload), bounded
    by the serving-surface limit every driver-collecting search shares
    (VERDICT r7 #4: these primitives previously collected unbounded).
    ``payload`` is a float64 (nq, dim) matrix for a vector column, or
    the uint64 bit patterns of an integer (Hamming code) column.
    Returns None when the batch holds more than ``max_driver_queries``
    rows; the caller owns the overflow policy (`pq._scan_topk`: the
    exact scans fall back to `knn_exact`, the quantized searches and
    `hnsw.search_serving` raise, `hnsw.ann_search` serves by cogroup)."""
    from pyspark.sql.types import IntegralType

    sel = queries.select(query_id, query_col)
    rows = sel.limit(max_driver_queries + 1).collect()
    if len(rows) > max_driver_queries:
        return None
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    if isinstance(sel.schema[1].dataType, IntegralType):
        return ids, np.array([r[1] for r in rows], dtype=np.int64).view(np.uint64)
    return ids, np.array([np.asarray(r[1], dtype=np.float64) for r in rows])


def _knn_exact_overflow(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    vec_id: str,
    vec_col: str,
    query_id: str,
    query_col: str,
):
    """The exact scans' overflow policy for `pq._scan_topk`: a batch
    above ``max_driver_queries`` never reaches the driver and runs the
    fully distributed expression-join scan (`knn_exact`) instead, since
    these scans ARE the bulk fallbacks. Same (query_id, vec_id, dist,
    rank) frame as the skeleton; cosine's dist is cos_dist − 1 = −sim,
    the cosine scorer's convention."""

    def run() -> DataFrame:
        from hawk_pack_spark.operators.knn_exact import knn_exact

        dist = F.col("dist") - 1.0 if metric == "cosine" else F.col("dist")
        return knn_exact(
            vectors, queries, k, metric, vec_id, vec_col,
            query_id, query_col, broadcast_queries=False,
        ).select(
            F.col(query_id).alias("query_id"),
            F.col(vec_id).alias("vec_id"),
            dist.cast("double").alias("dist"),
            "rank",
        )

    return run


def _l2_scores(_, q, v):
    """Exact-L2 candidate selection in the expanded form
    ||q||² − 2q·v + ||v||²: one BLAS matmul plus two rank-1 updates."""
    v = np.asarray(v, dtype=np.float64)
    return (q * q).sum(1)[:, None] - 2.0 * (q @ v.T) + (v * v).sum(1)[None, :]


def _l2_refine(_, q, idx, v):
    """The selected candidates' L2² in the difference form sum((q−v)²):
    the expanded form rounds identical vectors to ~1e-16 POSITIVE,
    which breaks exact dup gates (dist <= 0); this gives exact zeros
    for exact dups and the SQL expression path's associativity, at
    O(k·dim) per query."""
    diff = q[:, None, :] - np.asarray(v, dtype=np.float64)[idx]
    return (diff * diff).sum(2)


def l2_topk_numpy(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "query_vec",
    max_driver_queries: int = 100_000,
    _pre: tuple | None = None,
) -> DataFrame:
    """Exact L2² top-k, the flat scan of `pq._scan_topk` with the
    `_l2_scores` scorer: queries broadcast (the small side); per Arrow
    batch one BLAS product selects each query's (dist, vec_id) partial
    top-k, whose distances `_l2_refine` recomputes in the difference
    form (exact duplicates score 0.0); the driver merges — the
    strongest exact baseline for the ANN crossover bench. Ties break by
    vec_id at any partitioning.
    ``_pre``: (q_ids, q_mat) already collected by `ann_search` — skips
    the driver collect (the batch must not be materialized twice).
    Query batches beyond ``max_driver_queries`` never reach the driver:
    they route to the expression-join exact scan (`knn_exact`), which
    keeps both sides distributed."""
    from hawk_pack_spark.operators.pq import _scan_topk

    return _scan_topk(
        vectors, queries, "l2_topk_numpy", _l2_scores, None, (), None, 1, k,
        query_id, query_col, None, 1, vec_id, vec_col, max_driver_queries,
        id_col=vec_id, code_col=vec_col, pre=_pre, refine=_l2_refine,
        overflow=_knn_exact_overflow(
            vectors, queries, k, "l2_sq", vec_id, vec_col, query_id, query_col
        ),
    )


def _list_col_matrix(col, dtype=np.float64) -> "np.ndarray":
    """(n, width) matrix from an Arrow list or binary column — zero-copy
    reshape of the values buffer when the rows are uniform-width and
    null-free, else a row-by-row fallback. Values are identical to the
    per-row np.asarray conversion either way; ``dtype=None`` keeps the
    stored element type (int16 PQ codes, uint8 SQ8 code bytes)."""
    import pyarrow as pa

    arr = col.combine_chunks() if hasattr(col, "combine_chunks") else col
    binary = pa.types.is_binary(arr.type)
    try:
        if arr.null_count == 0:
            if binary:
                off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
                    arr.offset : arr.offset + len(arr) + 1
                ].astype(np.int64)
                vals = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            else:
                off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
                vals = arr.values.to_numpy(zero_copy_only=False)
            widths = np.diff(off)
            if len(widths) and (widths == widths[0]).all() and widths[0] > 0:
                mat = vals[off[0]:off[-1]].reshape(len(widths), int(widths[0]))
                return np.ascontiguousarray(mat, dtype=dtype)
    except Exception:
        pass
    return np.array([
        np.asarray(np.frombuffer(v, dtype=np.uint8) if binary else v, dtype=dtype)
        for v in arr.to_pylist()
    ])


def _hamming_scores(lut16, q, codes):
    """Hamming distances of uint64 query codes against 64-bit codes:
    one XOR per (query, code), then 4 gathers per u64 from the uint8
    16-bit popcount LUT (64 KB, L1-resident; numpy<2 has no
    bitwise_count), summed as 4 strided adds — a reduction over an
    axis of length 4 is ~2.5× slower. Integer-valued float64, exact."""
    x = q[:, None] ^ codes.astype(np.int64, copy=False).view(np.uint64)[None, :]
    g = lut16[x.view(np.uint16)]
    return (g[:, 0::4] + g[:, 1::4] + g[:, 2::4] + g[:, 3::4]).astype(np.float64)


def hamming_topk_numpy(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_id: str = "vec_id",
    vec_col: str = "code",
    query_id: str = "query_id",
    query_col: str = "query_vec",
    max_driver_queries: int = 100_000,
    _pre: tuple | None = None,
) -> DataFrame:
    """Exact Hamming top-k over 64-bit codes — the vectorized LinearDb
    scan for the reference's own domain (linear_db.rs: exact
    eval_distance over every stored iris code). The flat scan of
    `pq._scan_topk` with the `_hamming_scores` scorer: queries
    broadcast; every Arrow batch of codes is XORed against all queries
    at once (in query chunks under the skeleton's tile budget) and
    popcounted; the partial top-k breaks the constant integer ties by
    vec_id, and the driver merges. Same plan shape as `l2_topk_numpy`,
    so `ann_search` can dispatch hamming batches to an exact scan below
    the serving crossover (``_pre`` as there); oversized batches fall
    back to `knn_exact`."""
    from hawk_pack_spark.operators._hnsw_kernel import _POPCOUNT_LUT
    from hawk_pack_spark.operators.pq import _scan_topk

    word = np.arange(65536, dtype=np.uint32)
    lut16 = (_POPCOUNT_LUT[word & 0xFF] + _POPCOUNT_LUT[word >> 8]).astype(np.uint8)
    return _scan_topk(
        vectors, queries, "hamming_topk_numpy", _hamming_scores, lut16, (),
        None, 1, k, query_id, query_col, None, 1, vec_id, vec_col,
        max_driver_queries, id_col=vec_id, code_col=vec_col, pre=_pre,
        overflow=_knn_exact_overflow(
            vectors, queries, k, "hamming", vec_id, vec_col, query_id, query_col
        ),
    )


def _cosine_scores(_, q, v):
    """Negated cosine similarity −(q̂·v̂) of unit rows, one matmul per
    tile: the skeleton ranks it ascending, i.e. by descending sim."""
    v = np.asarray(v, dtype=np.float64)
    q_unit = q / np.maximum(np.linalg.norm(q, axis=1), 1e-30)[:, None]
    unit = v / np.maximum(np.linalg.norm(v, axis=1), 1e-30)[:, None]
    return -(q_unit @ unit.T)


def cosine_topk_numpy(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    query_col: str = "query_vec",
    max_driver_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k, the flat scan of `pq._scan_topk` with the
    `_cosine_scores` scorer: queries are collected (small side,
    BOUNDED) and broadcast; each Arrow batch of vectors is scored for
    all queries in one matmul and keeps its (−sim, vec_id) partial
    top-k; the driver merges. ~10-100× faster than the fold-expression
    path at large n. Returns (query_id, vec_id, sim, rank), sim
    descending, ties by vec_id. Oversized query batches fall back to the
    distributed expression-join scan (sim recovered as 1 − cosine_dist;
    identical ranking and tie order)."""
    from hawk_pack_spark.operators.pq import _scan_topk

    return _scan_topk(
        vectors, queries, "cosine_topk_numpy", _cosine_scores, None, (),
        None, 1, k, query_id, query_col, None, 1, vec_id, vec_col,
        max_driver_queries, id_col=vec_id, code_col=vec_col,
        overflow=_knn_exact_overflow(
            vectors, queries, k, "cosine", vec_id, vec_col, query_id, query_col
        ),
    ).select("query_id", "vec_id", (-F.col("dist")).alias("sim"), "rank")


# ---------------------------------------------------------------------------
# SQ8 scalar quantization: the 4x-compressed near-exact scan path.
# Between the exact float scan (l2_topk_numpy) and PQ's 32x codes: each
# dimension is affinely mapped to uint8 with per-dimension (lo, scale)
# bounds, so a 100 TB corpus scans 1 byte/dim with asymmetric (float
# query vs int8 code) distances and loses almost no recall on any data
# shape — unlike PQ, whose recall is corpus-shape-dependent (NOTES r6).


def sq8_train(
    vectors: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (lo, scale) quantization bounds. Partition-local
    min/max reduce to one row per partition (mergeable-presketch shape —
    the driver sees O(partitions) rows, never the data)."""
    import pandas as pd

    def part(it):
        lo = hi = None
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            plo, phi = mat.min(0), mat.max(0)
            lo = plo if lo is None else np.minimum(lo, plo)
            hi = phi if hi is None else np.maximum(hi, phi)
        if lo is not None:
            yield pd.DataFrame({"lo": [lo.tolist()], "hi": [hi.tolist()]})

    rows = (
        vectors.select(vec_col)
        .mapInPandas(part, "lo array<double>, hi array<double>")
        .collect()
    )
    lo = np.min([r.lo for r in rows], axis=0)
    hi = np.max([r.hi for r in rows], axis=0)
    scale = (hi - lo) / 255.0
    scale[scale == 0.0] = 1.0  # constant dimension: every code is 0
    return lo, scale


def sq8_encode(
    vectors: DataFrame,
    lo: np.ndarray,
    scale: np.ndarray,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, codes binary, cnorm): codes = round((v - lo)/scale)
    clipped to [0, 255], one byte per dimension. ``keep`` columns of
    ``vectors`` pass through after vec_id."""
    import pandas as pd

    sel = vectors.select(vec_id, vec_col, *keep)
    kept = "".join(f"{c} {sel.schema[c].dataType.simpleString()}, " for c in keep)
    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast((lo, scale))

    def enc(it):
        lo_, scale_ = bc.value
        t = scale_ * scale_
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            codes = np.clip(np.rint((mat - lo_) / scale_), 0, 255).astype(np.uint8)
            cf = codes.astype(np.float64)  # exact: uint8 -> f64 lossless
            # query-independent norm term sum_j t_j c_j^2, precomputed
            # once at encode time so the scan is a single matmul
            cnorm = (cf * cf) @ t
            yield pd.DataFrame(
                {
                    "vec_id": pdf[vec_id].to_numpy(dtype=np.int64),
                    **{c: pdf[c] for c in keep},
                    "codes": [c.tobytes() for c in codes],
                    "cnorm": cnorm,
                }
            )

    return sel.mapInPandas(enc, f"vec_id long, {kept}codes binary, cnorm double")


def sq8_topk(
    encoded: DataFrame,
    lo: np.ndarray,
    scale: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    rerank_with: DataFrame | None = None,
    oversample: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    max_driver_queries: int = 100_000,
) -> DataFrame:
    """Asymmetric SQ8 top-k over `sq8_encode`'s (vec_id, codes, cnorm):
    the scan scores v̂ = lo + c·scale in the expanded form over the
    encode-time ``cnorm``, one fixed-grid float64 dot on the uint8 code
    tile (`pq._sq8_scores`), exact in any BLAS blocking, so a distance
    does not depend on tiling or partitioning; floats never leave the
    partition. With ``rerank_with`` (the float table, columns
    ``vec_id``/``vec_col``) the scan produces an oversample·k shortlist
    and the final top-k is exact — the PQ re-rank recipe
    (pq.py::pq_search) at 4x instead of 32x compression. One scan
    skeleton with the PQ family (`pq._scan_topk`), including its
    bounded query collect."""
    from hawk_pack_spark.operators.pq import _scan_topk, _sq8_scores

    # codes are ~8x smaller than the float table, so a parquet scan
    # packs them into very few input splits (maxPartitionBytes) and the
    # CPU-bound decode kernel would run near-serial — the AQE-coalescing
    # lesson (NOTES r1 #6). Fan back out when the source arrives narrow.
    par = encoded.sparkSession.sparkContext.defaultParallelism
    if encoded.rdd.getNumPartitions() < max(2, par // 2):
        encoded = encoded.repartition(par)
    return _scan_topk(
        encoded, queries, "sq8_topk", _sq8_scores, (lo, scale),
        ("cnorm",), None, 1, k, query_id, query_col, rerank_with,
        oversample, vec_id, vec_col, max_driver_queries,
    )


def binary_quantize(
    vectors: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "bq_code",
) -> DataFrame:
    """1-bit binary quantization: each embedding collapses to one sign
    bit per dimension (bit = 1 iff component > 0), packed into
    ceil(dim/32) BIGINT words of 32 bits each — a 32x compression of
    float32 vectors whose Hamming distance tracks angular distance
    well enough to PREFILTER candidates for an exact re-rank (the
    BQ/RaBitQ serving recipe). 32-bit packing is deliberate: a 64-bit
    word's top bit would overflow the signed int64 fold (Spark under
    ANSI-off wraps silently, DuckDB errors — the engines disagree
    exactly when it matters), while 32-bit words keep every
    intermediate exact in BOTH engines. Pure column algebra: one
    in-order fold per word, no UDF, deterministic.
    """
    n_words = (dim + 31) // 32
    words = []
    for w in range(n_words):
        lo, hi = w * 32, min(dim, (w + 1) * 32)
        acc = F.lit(0).cast("long")
        for i in range(lo, hi):
            acc = acc * 2 + F.when(
                F.get(F.col(vec_col), i) > 0, F.lit(1)
            ).otherwise(F.lit(0))
        words.append(acc.cast("long"))
    return vectors.select(
        F.col(id_col), F.col(vec_col), F.array(*words).alias(out_col)
    )


def binary_quant_knn(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Binary-quantized kNN: Hamming top-(k·oversample) over the 1-bit
    codes prefilters candidates, exact L2 re-ranks the survivors —
    the two-stage serving pattern where the 32x-smaller code table is
    all the first pass touches. The prefilter distance is a fold of
    per-word XOR+popcounts inside whole-stage codegen.

    Fully deterministic (Hamming ties by id, L2 ties by id) and fully
    oracle-expressible (DuckDB xor/bit_count) — unlike the PQ/IVF
    rows this ANN row is value-parity-checkable end to end, not just
    recall-gated. Queries broadcast (bounded query set); the corpus
    never shuffles until the k·oversample survivors. The popcount
    fold is UNROLLED per word (a higher-order zip_with fold runs
    interpreted and evicts the stage from codegen — plan-pinned).
    """
    from hawk_pack_spark.functions.distance import l2_sq_unrolled
    from hawk_pack_spark.operators.topk import topk_rows

    codes = binary_quantize(vectors, dim, id_col, vec_col)
    qcodes = binary_quantize(
        queries, dim, query_id_col, query_vec_col, out_col="_qcode"
    ).select(
        F.col(query_id_col),
        F.col(query_vec_col).alias("_qv"),
        F.col("_qcode"),
    )
    # UNROLLED per-word popcount sum: the higher-order
    # aggregate(zip_with(...)) form runs INTERPRETED (HOFs are not
    # codegen-supported, and their presence knocked the whole stage out
    # of WholeStageCodegen — caught by the plan-pin test); with
    # n_words known from dim, the plain expression stays in codegen
    # exactly like the l2_sq_unrolled fold
    n_words = (dim + 31) // 32
    hd = F.lit(0).cast("long")
    for _w in range(n_words):
        hd = hd + F.bit_count(
            F.get(F.col("bq_code"), _w).bitwiseXOR(F.get(F.col("_qcode"), _w))
        )
    # The Hamming top-k window shuffles one row per (corpus row x query);
    # carry only (query_id, vec_id, _hd) through that shuffle — the two
    # full float vectors (~1 KB/row at dim=64) are re-attached to the
    # k*oversample survivors afterwards: the corpus side by broadcasting
    # the tiny survivor list into a second corpus scan (broadcast-hash,
    # no corpus shuffle), the query side from the already-broadcast
    # query block (guide §2: shuffle metadata, not payloads).
    scored = codes.select(id_col, "bq_code").crossJoin(
        F.broadcast(qcodes.select(query_id_col, "_qcode"))
    ).select(
        query_id_col,
        id_col,
        hd.alias("_hd"),
    )
    pre = topk_rows(
        scored, [query_id_col], "_hd", k * oversample,
        tie_cols=[id_col], rank_name="_hrank",
    )
    cand = vectors.select(F.col(id_col), F.col(vec_col)).join(
        F.broadcast(pre.select(query_id_col, id_col)), id_col
    )
    rer = cand.join(
        F.broadcast(qcodes.select(query_id_col, "_qv")), query_id_col
    ).select(
        query_id_col,
        id_col,
        l2_sq_unrolled(F.col(vec_col), F.col("_qv"), dim).alias("dist"),
    )
    return topk_rows(rer, [query_id_col], "dist", k, tie_cols=[id_col])
