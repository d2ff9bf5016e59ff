"""Batch HNSW on Spark: sharded partition-local indexes (design (a) of
SURVEY.md §2.4/§7).

The index is a DataFrame — one row per vector carrying its shard, its
payload, its assigned max layer and its adjacency as parallel arrays
(Arrow-friendly, no nested structs):

    shard INT, vec_id LONG, layer INT, code LONG, vec ARRAY<DOUBLE>,
    e_layer ARRAY<INT>, e_dst ARRAY<LONG>, e_dist ARRAY<DOUBLE>

Writers rewrite whole shards in Python tasks over Arrow: rehydrate
from the list columns' flat values (`_rehydrate`), run the kernel,
write back through one emitter (`_index_table`). Builds are one
`groupBy().applyInArrow` (serial insertion inside a shard, as in the
reference; shards give the parallelism); insert and delete are ONE
`cogroup().applyInArrow` over the touched shards (`_rewrite_shards`).

Search has two physical shapes over the same Arrow-native per-shard
kernel call (`_search_shard`: rehydrate the shard from its list
columns' flat values and offsets as a frozen CSR index, stage the
queries after its vectors, one ``LocalHNSW.search_batch``):

- `search` (cogroup, analytical): queries are replicated to every shard
  (crossJoin) or to their nprobe nearest shards (routed), one
  `cogroup().applyInArrow` searches each shard after repartitioning
  the index by shard, and a Window top-k merge shuffles only k rows per
  (query, shard). Nothing collects to the driver.
- `search_serving` (serving): the bounded query batch is collected,
  routed driver-side against build-time centroids and broadcast; ONE
  `mapInArrow` stage over the unmoved index, filtered to the probed
  shards and coalesced to one Python task per core, searches them and
  keeps each query's top-k per task; the driver collects those rows
  and takes the final top-k in numpy. `ann_search` is the front door
  that picks between it and an exact scan.

``search_batch`` runs the compiled batch beam search (`_native_hnsw.c`)
for l2_sq and hamming, and the Python kernel for every other metric.

At 100 TB the same plan holds: shards are the unit of placement (a few
hundred MB each) and the per-shard kernel is CPU-bound numpy. Only the
serving path collects, and only its bounded batch's top-k rows.

Determinism: layer assignment is splitmix64(vec_id) → geometric, so the
graph is identical under any partitioning or insertion batching; entry
points follow the reference's monotone rule (first node to reach the top
layer, insertion order = vec_id ascending).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hawk_pack_spark.config import DEFAULT_PARAMS, HawkParams
from hawk_pack_spark.functions.distance import _MIN_POSITIVE
from hawk_pack_spark.operators import _hnsw_kernel as K
from hawk_pack_spark.operators.materialize import materialize
from hawk_pack_spark.operators.similarity import _collect_query_batch
from hawk_pack_spark.operators.topk import (
    RESULT_SCHEMA,
    SEARCH_SCHEMA,
    fold_lr,
    hits_table,
    l2_fold,
    merge_topk,
    result_frame,
)

INDEX_SCHEMA = (
    "shard int, vec_id long, layer int, code long, vec array<double>, "
    "e_layer array<int>, e_dst array<long>, e_dist array<double>"
)

# queries a serving surface collects driver-side in one batch
MAX_DRIVER_QUERIES = 100_000

# the index columns one shard search reads, besides its payload column
_SHARD_COLS = ["shard", "vec_id", "layer", "e_layer", "e_dst", "e_dist"]
_INDEX_COLS = [f.split()[0] for f in INDEX_SCHEMA.split(", ")]


def _stack_payload(a: np.ndarray, b: np.ndarray, metric: str) -> np.ndarray:
    return np.concatenate([a, b]) if metric == "hamming" else np.vstack([a, b])


def _payload_col(metric: str) -> str:
    return "code" if metric == "hamming" else "vec"


def _flat(col: pa.ChunkedArray) -> tuple[np.ndarray, np.ndarray]:
    """(per-row lengths, flat values) of an Arrow list column, read from
    its offsets and child values — no per-row Python objects."""
    # the usual single chunk is read in place; combining would copy it
    arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    offs = arr.offsets.to_numpy()
    values = arr.values.slice(offs[0], offs[-1] - offs[0])
    return np.diff(offs), values.to_numpy(zero_copy_only=False)


def _arrow_payload(rows: pa.Table, metric: str) -> np.ndarray:
    """Kernel payload of Arrow rows: uint64 codes (stored as int64) for
    hamming, an (n, dim) float64 matrix otherwise."""
    if metric == "hamming":
        return rows.column("code").to_numpy().view(np.uint64)
    lens, values = _flat(rows.column("vec"))
    return values.astype(np.float64, copy=False).reshape(len(lens), -1)


def _flat_edges(rows: pa.Table):
    """(counts, e_layer, e_dst, e_dist) of index rows: their adjacency
    as `K.index_from_flat` reads it, straight from the list columns."""
    counts, e_layer = _flat(rows.column("e_layer"))
    _, e_dst = _flat(rows.column("e_dst"))
    _, e_dist = _flat(rows.column("e_dist"))
    return counts, e_layer, e_dst, e_dist


def _rehydrate(rows: pa.Table, data: np.ndarray, metric: str,
               params: HawkParams, **kw) -> K.LocalHNSW:
    """The graph of one shard's index rows (local index = row position),
    over the payload ``data`` (the rows' payload, possibly followed by
    staged vectors)."""
    return K.index_from_flat(
        rows.column("vec_id").to_numpy(), data, metric, params,
        *_flat_edges(rows), layers=rows.column("layer").to_numpy(), **kw,
    )


def _index_table(rows: pa.Table, layers, counts, e_layer, e_dst, e_dist) -> pa.Table:
    """INDEX_SCHEMA rows: ``rows``' shard, vec_id and payload columns as
    they are, ``layers``, and the adjacency list columns built from the
    flat values and per-row ``counts``."""
    offsets = pa.array(np.r_[0, np.cumsum(counts)], pa.int32())
    lists = [
        pa.ListArray.from_arrays(offsets, pa.array(values, typ))
        for values, typ in ((e_layer, pa.int32()), (e_dst, pa.int64()), (e_dist, pa.float64()))
    ]
    return pa.Table.from_arrays([
        rows.column("shard"), rows.column("vec_id"), pa.array(np.asarray(layers), pa.int32()),
        rows.column("code"), rows.column("vec"), *lists,
    ], names=_INDEX_COLS)


def _build_table(rows: pa.Table, metric: str, params: HawkParams, seed: int,
                 neighbor_heuristic: bool) -> pa.Table:
    """One shard built from its payload rows (shard, vec_id, code, vec):
    splitmix64 layers, `K.build_local` in vec_id order."""
    rows = rows.sort_by("vec_id")
    ids = rows.column("vec_id").to_numpy()
    layers = K.assign_layer(K.uniform_from_ids(ids, seed), params.m_L)
    index = K.build_local(ids, _arrow_payload(rows, metric), metric, params,
                          layers=layers, neighbor_heuristic=neighbor_heuristic)
    return _index_table(rows, layers, *K.flat_adjacency(index, ids))


def _build_shards(rows: DataFrame, num_shards: int, metric: str,
                  params: HawkParams, seed: int,
                  neighbor_heuristic: bool) -> DataFrame:
    """`_build_table` over every shard of ``rows``, one
    `groupBy().applyInArrow` group per shard."""
    # user-registered metrics live in driver module state; the kernel
    # runs in worker processes, so the registry rides the closure
    custom = dict(K.CUSTOM_BATCH)

    def build(shard: pa.Table) -> pa.Table:
        K.CUSTOM_BATCH.update(custom)
        return _build_table(shard, metric, params, seed, neighbor_heuristic)

    # explicit repartition: AQE's partition coalescing sees tiny shuffle
    # bytes and would merge the CPU-heavy kernel groups into few tasks,
    # serializing the build; user-specified partition counts are exempt
    return rows.repartition(num_shards, "shard").groupBy("shard").applyInArrow(
        build, INDEX_SCHEMA
    )


def _rewrite_shards(index_df: DataFrame, side: DataFrame, rewrite,
                    num_shards: int | None = None) -> tuple[list, DataFrame]:
    """(touched shards, updated index): ONE `cogroup().applyInArrow`
    stage pairs each shard ``side`` has rows for with those rows, and
    ``rewrite(index_rows, side_rows)`` returns its new rows; untouched
    shards pass through JVM-side. ``side`` is read twice."""
    touched = sorted(r[0] for r in side.select("shard").distinct().collect())
    if not touched:
        return touched, index_df
    custom = dict(K.CUSTOM_BATCH)

    def run(left: pa.Table, right: pa.Table) -> pa.Table:
        K.CUSTOM_BATCH.update(custom)
        return rewrite(left, right)

    n = len(touched)
    updated = (
        index_df.where(F.col("shard").isin(touched)).select(*_INDEX_COLS)
        .repartition(n, "shard").groupBy("shard")
        .cogroup(side.repartition(n, "shard").groupBy("shard"))
        .applyInArrow(run, INDEX_SCHEMA)
    )
    if n == num_shards:
        return touched, updated
    return touched, index_df.where(~F.col("shard").isin(touched)).unionByName(updated)


def _float_dists(a: np.ndarray, b: np.ndarray, metric: str) -> np.ndarray:
    """``distance_expr(metric)`` of (broadcast) float rows, bit-identical:
    its fold order (`topk.fold_lr`), and cosine's denominator clamped as
    in ``functions/distance.py::cosine_sim`` (a zero vector: dist 1)."""
    if metric == "l2_sq":
        return l2_fold(a, b)
    if metric == "dot":
        return -fold_lr(a, b)
    den = np.sqrt(fold_lr(a, a)) * np.sqrt(fold_lr(b, b))
    return 1.0 - fold_lr(a, b) / np.maximum(den, _MIN_POSITIVE)


def _pair_dists(data: np.ndarray, a: np.ndarray, b: np.ndarray, metric: str) -> np.ndarray:
    """Delete's bridge scorer, ``data[a[i]]`` to ``data[b[i]]``: as
    ``distance_expr`` for the built-in metrics, a custom metric's
    registered ``batch_fn`` through `K.Metric`."""
    if metric == "hamming":
        return K.popcount64(data[a] ^ data[b]).astype(np.float64)
    if metric in ("l2_sq", "cosine", "dot"):
        return _float_dists(data[a], data[b], metric)
    batch = K.Metric(metric, data).batch
    return np.array([batch(i, [j])[0] for i, j in zip(a.tolist(), b.tolist())],
                    dtype=np.float64)


def _search_shard(
    rows: pa.Table,
    q_ids: np.ndarray,
    q_data: np.ndarray,
    metric: str,
    params: HawkParams,
    k: int,
    ef_search: int | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One shard's kNN for a query batch. ``rows`` are the shard's index
    rows ordered by vec_id; they are rehydrated from the list columns'
    flat values and offsets as a frozen (search-only) index with the
    queries staged after the stored vectors — the reference's
    prepare_query id space — and ``search_batch`` runs once. Returns
    (query_id, vec_id, dist) arrays, at most k hits per query."""
    ids = rows.column("vec_id").to_numpy()
    index = _rehydrate(
        rows, _stack_payload(_arrow_payload(rows, metric), q_data, metric),
        metric, params,
        frozen=True,  # search-only: CSR rehydration, no tuple lists
    )
    n = len(ids)
    local, dist = index.search_batch(np.arange(n, n + len(q_ids)), k, ef_search)
    hit = local >= 0
    return np.repeat(q_ids, hit.sum(axis=1)), ids[local[hit]], dist[hit]


def _route_dists(q_data: np.ndarray, c_mat: np.ndarray, metric: str) -> np.ndarray:
    """(nq, ncells) centroid routing distances, dispatched on metric to
    mirror ``functions/distance.py`` expression-for-expression. Supports
    exactly the metrics the search kernel supports; anything else raises
    instead of silently routing by the wrong geometry."""
    if metric in ("l2_sq", "cosine"):
        return _float_dists(q_data[:, None, :], c_mat[None, :, :], metric)
    raise NotImplementedError(
        f"centroid routing for metric {metric!r} is not implemented; "
        "supported: 'l2_sq', 'cosine', 'hamming'"
    )


def _route_batch(
    q_data: np.ndarray, centroids: list, metric: str, nprobe_shards: int
) -> dict[int, list[int]]:
    """Driver-side IVF-style routing of a collected query batch against
    build-time centroids: shard → list of query positions probing it.
    Shard-ascending order + stable argsort = the cogroup router's
    tie-break (topk_rows tie_cols=["shard"]) exactly."""
    centroids = sorted(centroids, key=lambda r: r[0])
    c_shards = np.array([r[0] for r in centroids], dtype=np.int64)
    nq = len(q_data)
    if metric == "hamming":
        c_codes = np.array([r[1] for r in centroids], dtype=np.int64).view(
            np.uint64
        )
        cd = np.zeros((nq, len(c_shards)), dtype=np.float64)
        for j, c in enumerate(c_codes):
            x = q_data ^ c
            cd[:, j] = np.unpackbits(
                x.view(np.uint8).reshape(nq, 8), axis=1
            ).sum(axis=1)
    else:
        c_mat = np.array([np.asarray(r[1], dtype=np.float64) for r in centroids])
        cd = _route_dists(q_data, c_mat, metric)
    npb = min(nprobe_shards, len(c_shards))
    order = np.argsort(cd, axis=1, kind="stable")[:, :npb]
    routed: dict[int, list[int]] = {}
    for qi in range(nq):
        for c in order[qi]:
            routed.setdefault(int(c_shards[c]), []).append(qi)
    return routed


def _normalize_vectors(
    df: DataFrame, id_col: str, vec_col: str, metric: str, out_id: str = "vec_id"
) -> DataFrame:
    """Project to the kernel's canonical columns (vec_id + code/vec)."""
    if metric == "hamming":
        return df.select(
            F.col(id_col).cast("long").alias(out_id),
            F.col(vec_col).cast("long").alias("code"),
            F.lit(None).cast("array<double>").alias("vec"),
        )
    return df.select(
        F.col(id_col).cast("long").alias(out_id),
        F.lit(None).cast("long").alias("code"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )


def balance_assignments(
    assignments: DataFrame,
    max_cell: int,
    id_col: str = "vec_id",
    shard_col: str = "shard",
) -> DataFrame:
    """Split oversized content cells into hash sub-shards.

    K-means cells are uneven; a kernel task owns a whole shard, so one
    hot cell serializes the build/search stage (applyInArrow groups
    can't be split by AQE). Cells larger than ``max_cell`` are salted
    into ceil(size/max_cell) sub-shards; sub-shard ids are dense-packed
    after the original id space. Search routing is unaffected: centroids
    are computed per (sub-)shard from members, so a split cell simply
    contributes several nearby centroids — queries probing the region
    probe its sub-shards."""
    # materialize the narrow (id, shard) projection ONCE: this function
    # reads its input through three separate passes (the max-shard
    # collect below, the sizes groupBy, and the salting join), and the
    # typical caller feeds it a k-means assignment whose lineage is a
    # full ML-transform scoring pass over the corpus — un-checkpointed,
    # that pass ran 3x (guide §5: reuse beats recompute; ~16 bytes/row)
    assignments = materialize(assignments.select(F.col(id_col), F.col(shard_col)))
    sizes = assignments.groupBy(shard_col).agg(F.count(F.lit(1)).alias("_sz"))
    base = 1 + (assignments.agg(F.max(shard_col)).collect()[0][0] or 0)
    splits = (
        sizes.withColumn("_k", F.ceil(F.col("_sz") / F.lit(max_cell)).cast("int"))
        .withColumn(
            "_offset",
            F.sum(F.when(F.col("_k") > 1, F.col("_k")).otherwise(0)).over(
                Window.orderBy(shard_col).rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select(shard_col, "_k", F.coalesce("_offset", F.lit(0)).alias("_offset"))
    )
    out = (
        assignments.join(F.broadcast(splits), shard_col)
        .withColumn(
            "_new",
            F.when(
                F.col("_k") <= 1, F.col(shard_col)
            ).otherwise(
                F.lit(base)
                + F.col("_offset")
                + F.pmod(F.xxhash64(id_col), F.col("_k")).cast("int")
            ),
        )
        .select(F.col(id_col), F.col("_new").cast("int").alias(shard_col))
    )
    return out


def build_index(
    vectors: DataFrame,
    metric: str = "l2_sq",
    params: HawkParams = DEFAULT_PARAMS,
    num_shards: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    assignments: DataFrame | None = None,
    neighbor_heuristic: bool = True,
) -> DataFrame:
    """Build the sharded HNSW index DataFrame.

    ``neighbor_heuristic``: Algorithm 4 neighbor selection
    (direction-diverse edges), DEFAULT ON since r9: the reference's
    plain M-nearest trim (connect_bidir) provably strands nodes on
    clustered / near-duplicate data — a tight cluster captures every
    edge slot and partitions layer 0 into unreachable islands, silently
    breaking self-recall (three observed instances; Hypothesis
    counterexample pinned in tests/test_properties.py where layer 0
    reached 10 of 21 nodes). The reference's own flagship test
    (hawk_searcher.rs:441-479) IS a self-recall guarantee; honoring it
    on adversarial inputs requires the heuristic. Measured trade at 1M
    64-component mixture vectors (content-sharded, nprobe 27/439):
    recall@10 0.822 → 0.974 AND 1.8× FASTER search (8.5s → 4.7s/500q;
    diverse edges prune better) for extra build cost (r5: 3.4×; r9's
    vectorized forward-domination selection cuts that — see NOTES r9).
    Same shape at 50k: 0.830 → 1.000. Pass False for strict reference
    connect_bidir parity (uniform-ish, cluster-free data only).

    ``assignments`` ((id, shard) rows, e.g. the k-means clusters of
    ``similarity.ivf_build``) switches sharding from id-hash to CONTENT:
    each shard covers a region of vector space, which is what makes
    ``search(nprobe_shards=...)`` routing effective — with id-hashed
    shards every shard sees the same distribution and routing can't
    prune. This is IVF-partitioned HNSW (the IVF cell is the placement
    unit, an HNSW graph accelerates search inside each cell) — the
    standard composition for >100M-vector deployments."""
    if assignments is not None:
        # Attach the (id, shard) plan WITHOUT shuffling the payload
        # (guide §8.4): the assignment rows are ~12 bytes each while the
        # vector side carries the full payload — a sort-merge join here
        # shuffles the corpus by vec_id only to tag it with an int, and
        # the repartition below then shuffles it AGAIN by shard
        # (measured at 1M x 64d: two 550 MB exchanges for a 12 MB plan).
        # Below the broadcast cap the plan side broadcasts and the
        # payload moves exactly once (the shard repartition); above it
        # the shuffle join is the only correct choice. The count is
        # cheap for the checkpointed assignments every caller passes.
        asg = assignments.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col("shard").cast("int").alias("shard"),
        )
        # ~50 built bytes/row in the hash relation -> ~400 MB at the cap,
        # safe for ordinary executor memory; tune via env on big boxes
        cap = int(os.environ.get("HAWK_PACK_ASSIGN_BCAST_ROWS", 8_000_000))
        if asg.count() <= cap:
            asg = F.broadcast(asg)
        prepped = _normalize_vectors(vectors, id_col, vec_col, metric).join(
            asg, "vec_id"
        )
    else:
        prepped = _normalize_vectors(vectors, id_col, vec_col, metric).withColumn(
            "shard", F.pmod(F.xxhash64("vec_id"), F.lit(num_shards)).cast("int")
        )
    return _build_shards(prepped, num_shards, metric, params, seed,
                         neighbor_heuristic)


def fragmented_shards(
    index_df: DataFrame,
    params: HawkParams = DEFAULT_PARAMS,
    degree_band: tuple[float, float] = (0.5, 0.95),
) -> list[int]:
    """Shards whose mean layer-0 out-degree has left the fresh-build
    band ``[lo, hi] × M_max0`` — the degree signature of heavy delete
    churn, in either direction (measured, not assumed — see the rebuild
    test): repair-less deletes (`delete_from_index(metric=None)`) only
    prune edges, so the mean DECAYS below the band; bridge-repair
    deletes densify survivors toward the M_max ceiling (every bridge
    re-trim fills slots to the cap), so the mean SATURATES above it. A
    fresh build settles around 0.8 × M_max0 on this kernel. Either
    departure means the graph has diverged from build quality and the
    shard belongs in `rebuild_shards`. Bounded collect: one row per
    shard."""
    lo, hi = degree_band
    m_max0 = params.get_M_max(0)
    deg = (
        index_df.select(
            "shard",
            F.size(F.filter("e_layer", lambda layer: layer == 0)).alias("_d"),
        )
        .groupBy("shard")
        .agg(F.avg("_d").alias("_mean"))
        .where(
            (F.col("_mean") < m_max0 * lo) | (F.col("_mean") > m_max0 * hi)
        )
    )
    return sorted(r["shard"] for r in deg.collect())


def rebuild_shards(
    index_df: DataFrame,
    shards: list[int],
    metric: str = "l2_sq",
    params: HawkParams = DEFAULT_PARAMS,
    seed: int = 42,
    neighbor_heuristic: bool = True,
) -> DataFrame:
    """Rebuild the named shards' graphs FROM THEIR PAYLOADS, leaving
    every other shard untouched — the periodic maintenance step that
    `delete_from_index`'s local bridge-repair defers (its docstring:
    heavy churn still warrants a shard rebuild; same split as
    FreshDiskANN's delete consolidation vs background rebuild).

    Layer assignment is splitmix64(vec_id) (build determinism), so a
    rebuilt shard is bit-identical to what `build_index` would produce
    over the same member set: rebuild ≡ fresh build, per shard. Only
    the named shards move through the kernel; the rest pass through
    JVM-side, so maintenance cost tracks the CHURNED region, not the
    index. Returns the updated index DataFrame."""
    if not shards:
        return index_df
    todo = index_df.where(F.col("shard").isin(list(shards))).select(
        "shard", "vec_id", "code", "vec"
    )
    rebuilt = _build_shards(todo, len(shards), metric, params, seed,
                            neighbor_heuristic)
    return index_df.where(~F.col("shard").isin(list(shards))).unionByName(
        rebuilt
    )


def shard_centroids(index_df: DataFrame, metric: str = "l2_sq") -> DataFrame:
    """Per-shard centroid for query routing: element-wise mean of the
    float payloads, or the bit-majority code for hamming. num_shards
    rows — small enough to broadcast into query planning."""
    if metric == "hamming":
        sums = index_df.groupBy("shard").agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(
                    F.shiftrightunsigned("code", i).bitwiseAND(F.lit(1))
                ).alias(f"_b{i}")
                for i in range(64)
            ],
        )
        code = F.lit(0).cast("long")
        for i in range(64):
            # bit 63 is the sign bit of the stored BIGINT: its two's-
            # complement value is -2^63 (1 << 63 overflows signed long)
            bit_val = (1 << i) if i < 63 else -(1 << 63)
            code = code + F.when(
                F.col(f"_b{i}") * 2 > F.col("_n"), F.lit(bit_val).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return sums.select("shard", code.alias("c_code"))
    per_dim = index_df.select(
        "shard", F.posexplode("vec").alias("pos", "x")
    ).groupBy("shard", "pos").agg(F.avg("x").alias("m"))
    return (
        per_dim.groupBy("shard")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("pm")
        )
        .select("shard", F.transform("pm", lambda e: e["m"]).alias("c_vec"))
    )


def _df_cache(df: DataFrame) -> dict:
    """Per-DataFrame memo for serving metadata (centroids, prunability).
    Lives on the Python DataFrame object, so it dies with the handle a
    serving process holds — no global registry to leak across indexes."""
    cache = getattr(df, "_hps_cache", None)
    if cache is None:
        cache = {}
        try:
            df._hps_cache = cache
        except Exception:  # pragma: no cover - exotic DataFrame proxies
            pass
    return cache


def cached_centroids(index_df: DataFrame, metric: str) -> list:
    """`shard_centroids(...).collect()` memoized on the DataFrame handle:
    the front door must not pay an O(n) routing-metadata scan per call
    (VERDICT r5 #1 — it was 1.4s of the 2.6s dispatch overhead at 1M)."""
    cache = _df_cache(index_df)
    cents = cache.get(("centroids", metric))
    if cents is None:
        cents = shard_centroids(index_df, metric).collect()
        cache[("centroids", metric)] = cents
    return cents


def search_serving(
    index_df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2_sq",
    params: HawkParams = DEFAULT_PARAMS,
    ef_search: int | None = None,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    nprobe_shards: int | None = None,
    centroids: list | None = None,
    _pre: tuple | None = None,
) -> DataFrame:
    """Serving-path search: queries move to the data, the index never
    moves.

    The cogroup path (`search`) repartitions the FULL index per call and
    recomputes centroids with an O(n) scan — right for one-off
    analytical jobs where the index is transient, wrong for serving
    where the index is long-lived and queries are the small side. Here
    the query batch is collected (at most ``MAX_DRIVER_QUERIES`` rows;
    a larger batch raises ValueError), routed driver-side against
    build-time centroids, and broadcast; one `mapInArrow` pass over the
    index searches each shard's routed queries with ZERO index shuffle,
    and a JVM-side `shard IN (probed…)` filter skips Arrow transfer of
    unprobed shards entirely. Per-query cost is nprobe × O(log shard) —
    independent of total shard count AND free of the per-call O(n)
    setup the cogroup path pays.

    The filtered scan reads only the columns a shard search needs and
    is coalesced to at most ``defaultParallelism`` partitions — one
    Python task per core, since every Python task pays a fixed worker
    cost whatever its size. Each task orders its rows by (shard,
    vec_id), runs one ``LocalHNSW.search_batch`` call per shard (the
    compiled batch beam search for l2_sq/hamming, the Python kernel for
    other metrics) and keeps each query's top-k across its shards by
    (dist, vec_id). The search therefore runs as ONE Spark stage, when
    this function is called: the driver collects at most
    nq · k · min(probes per query, tasks) rows (≤ 20 000 for 500
    queries at k=10, nprobe 6; ≤ 6 M ≈ 144 MB at ``MAX_DRIVER_QUERIES``)
    and merges them (`topk.result_frame`) into a local DataFrame with
    the rows and types of `search`'s Window merge.

    Requirements: index partitions must contain whole shards (true for
    ``build_index`` output and anything ``repartition(n, "shard")``-ed
    before checkpointing — applyInArrow output keeps its grouping
    physically); coalescing only merges partitions, so it keeps them
    whole. ``centroids`` is ``shard_centroids(index).collect()``
    — num_shards rows of build-time serving metadata; memoized on the
    index DataFrame handle if omitted (one O(n) scan on first use).

    ``_pre``: (q_ids, q_data, routed) already collected/routed by
    `ann_search` — the front door must not collect or route the batch
    twice (VERDICT r5 #1).
    """
    spark = queries.sparkSession
    if _pre is not None:
        q_ids, q_data, routed = _pre
    else:
        qn = _normalize_vectors(
            queries, query_id, query_col, metric, out_id="query_id"
        )
        batch = _collect_query_batch(
            qn, "query_id", _payload_col(metric), MAX_DRIVER_QUERIES
        )
        if batch is None:
            raise ValueError(
                f"query batch exceeds max_driver_queries={MAX_DRIVER_QUERIES}: "
                "search_serving collects the query batch driver-side (a "
                "serving surface). Split the batch, or use `search` (the "
                "distributed cogroup path) for bulk batches."
            )
        q_ids, q_data = batch
        routed = None
        if len(q_ids) and nprobe_shards is not None:
            # driver-side routing against build-time centroids (tiny matrices)
            if centroids is None:
                centroids = cached_centroids(index_df, metric)
            routed = _route_batch(q_data, centroids, metric, nprobe_shards)
    if len(q_ids) == 0:
        return spark.createDataFrame([], RESULT_SCHEMA)
    scan = index_df.select(*_SHARD_COLS, _payload_col(metric))
    if routed is not None:
        scan = scan.where(F.col("shard").isin([int(s) for s in routed]))
    # one Python task per core: coalescing only merges partitions, so a
    # shard whole in one input partition stays whole in one task
    scan = scan.coalesce(spark.sparkContext.defaultParallelism)

    bc = spark.sparkContext.broadcast((q_ids, q_data, routed))
    _custom = dict(K.CUSTOM_BATCH)

    def run(batches):
        K.CUSTOM_BATCH.update(_custom)
        q_ids_, q_data_, routed_ = bc.value
        # Arrow batches can split a shard: order the whole partition
        # (bounded — a partition holds whole shards) before slicing it
        # into one run of rows per shard.
        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        rows = pa.Table.from_batches(parts).sort_by(
            [("shard", "ascending"), ("vec_id", "ascending")]
        )
        shard = rows.column("shard").to_numpy()
        cuts = np.flatnonzero(shard[1:] != shard[:-1]) + 1
        found = []
        for a, b in zip(np.r_[0, cuts].tolist(), np.r_[cuts, len(shard)].tolist()):
            sel = (
                np.arange(len(q_ids_)) if routed_ is None
                else routed_.get(int(shard[a]), [])
            )
            if len(sel):
                found.append(_search_shard(
                    rows.slice(a, b - a), q_ids_[sel], q_data_[sel],
                    metric, params, k, ef_search,
                ))
        if found:
            qid, vid, dist, _ = merge_topk(*(np.concatenate(c) for c in zip(*found)), k)
            yield from hits_table(qid, vid, dist).to_batches()

    return result_frame(spark, scan.mapInArrow(run, SEARCH_SCHEMA).toArrow(), k)


def search(
    index_df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2_sq",
    params: HawkParams = DEFAULT_PARAMS,
    ef_search: int | None = None,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    num_shards: int | None = None,
    nprobe_shards: int | None = None,
) -> DataFrame:
    """kNN over the sharded index: per-shard beam search (one
    `cogroup().applyInArrow` task per shard, the same `_search_shard` as
    `search_serving`), then a global Window top-k merge by (dist,
    vec_id). Returns a lazy (query_id, vec_id, dist, rank) DataFrame.
    This is the distributed bulk path: the query side is never
    collected, so it has no driver bound and keeps the shuffle merge.

    ``nprobe_shards``: route each query to only its n nearest shard
    centroids (IVF-style coarse routing) instead of fanning out to every
    shard — the scale path once shard count passes ~hundreds, making
    per-query cost sublinear in shard count. None = consult all shards
    (exact-within-index behavior). ``num_shards`` skips the one-row
    metadata lookup when the caller already knows it (build metadata)."""
    from hawk_pack_spark.functions.distance import distance_expr
    from hawk_pack_spark.operators.topk import topk_rows

    if num_shards is None:
        # single-scalar metadata lookup (not a per-shard distinct scan);
        # serving deployments should pass num_shards from build metadata
        num_shards = 1 + (index_df.agg(F.max("shard")).collect()[0][0] or 0)
    shard_ids = list(range(num_shards))
    qn = _normalize_vectors(queries, query_id, query_col, metric, out_id="query_id")
    payload = _payload_col(metric)
    if nprobe_shards is not None and nprobe_shards < num_shards:
        # materialize the centroid table (num_shards rows) — breaks the
        # lineage between index_df and the routed queries (the cogroup
        # below would otherwise be an ambiguous self-join); at serving
        # time centroids come from build metadata, not a per-query scan
        cent_rows = shard_centroids(index_df, metric).collect()
        if metric == "hamming":
            cents = queries.sparkSession.createDataFrame(
                [(r.shard, r.c_code) for r in cent_rows], "shard int, c_code long"
            )
        else:
            cents = queries.sparkSession.createDataFrame(
                [(r.shard, r.c_vec) for r in cent_rows],
                "shard int, c_vec array<double>",
            )
        c_payload = "c_code" if metric == "hamming" else "c_vec"
        scored = qn.crossJoin(F.broadcast(cents)).withColumn(
            "_cdist", distance_expr(metric, F.col(payload), F.col(c_payload))
        )
        routed = topk_rows(
            scored, ["query_id"], "_cdist", nprobe_shards, tie_cols=["shard"],
            rank_name="_crank",
        ).select("query_id", "shard")
        qrep = qn.join(routed, "query_id")
    else:
        shards = queries.sparkSession.createDataFrame(
            [(s,) for s in shard_ids], "shard int"
        )
        qrep = qn.crossJoin(F.broadcast(shards))  # replicate queries to every shard

    _custom = dict(K.CUSTOM_BATCH)

    def search_shard(left: pa.Table, right: pa.Table) -> pa.Table:
        K.CUSTOM_BATCH.update(_custom)
        if left.num_rows == 0 or right.num_rows == 0:
            return hits_table(np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0))
        return hits_table(*_search_shard(
            left.sort_by("vec_id"), right.column("query_id").to_numpy(),
            _arrow_payload(right, metric), metric, params, k, ef_search,
        ))

    n_shards = max(len(shard_ids), 1)
    per_shard = (
        index_df.select(*_SHARD_COLS, payload)
        .repartition(n_shards, "shard")
        .groupBy("shard")
        .cogroup(
            qrep.select("shard", "query_id", payload)
            .repartition(n_shards, "shard")
            .groupBy("shard")
        )
        .applyInArrow(search_shard, SEARCH_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        per_shard.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "dist", "rank")
    )


def choose_ann_path(
    n_queries: int,
    probed_fraction: float,
    crossover_batch: int = 220,
    selective_fraction: float = 0.35,
    queries_per_probed_shard: float | None = None,
    amortize_threshold: float = 8.0,
    pruned_scan: bool = True,
) -> str:
    """Pure dispatch rule for `ann_search`, fit to the measured 1M/2M/
    10M-vector ladder (NOTES r4/r5):

    - selective probes (probed union a small fraction of the index):
      serving always wins — partition-pruned I/O tracks the union while
      the exact scan must read everything;
    - full-union batches flip on **routed queries per probed shard** —
      the quantity that amortizes the per-shard fixed costs (Arrow
      transfer of vec+links, graph reconstruction) both paths do NOT
      share. Measured at 500 queries: 1M/266 shards → 30 q/shard,
      serving 4.2s vs BLAS 8.1s (win); 2M/520 → 15.4, 7.5s vs 10.4s
      (win); 10M/2730 → 5.9, 44.6s vs 22.3s (LOSE); and 50 queries at
      1M → 3.0, 3.3s vs 0.97s (lose). Threshold 8 splits the measured
      win/lose sets with margin on both sides.

      Regime note (r11, resolving the NOTES r10 #6 discrepancy): the
      10M BLAS figure depends on whether the alg4 index coexists in
      the session — measured in ONE process at 10M, the same 500q scan
      reads 16.8s fresh vs 42.3s with the index localCheckpointed
      (~2.5x, pure memory pressure; 50q is unaffected). A dispatching
      caller by definition HOLDS an index, so the resident number is
      the honest input — and the classification is unchanged either
      way (serving 44.6-51.5s loses to BLAS at 22.3s fresh AND 42.3s
      resident), so the threshold stands un-refit.

    ``queries_per_probed_shard=None`` (unrouted callers) falls back to
    the batch-size rule fit at 1M: full-fan batches ≥ ``crossover_batch``
    amortize per-shard costs across every shard (n_queries IS the
    per-shard count when every query hits every shard).

    ``pruned_scan``: the selective shortcut assumes the probed-shard
    filter prunes I/O — true for a shard-partitioned parquet index
    (PartitionFilters) or per-shard resident handles, FALSE for a
    monolithic in-memory frame where `shard IN (…)` still scans every
    row (measured at 10M: selective 10-query serving 26.8s vs BLAS
    3.4s over a localCheckpointed index). When the caller knows the
    scan cannot prune, the selective branch is skipped and the
    amortization rule decides."""
    if probed_fraction <= selective_fraction and pruned_scan:
        return "serving"
    if queries_per_probed_shard is not None:
        return "serving" if queries_per_probed_shard >= amortize_threshold else "blas"
    return "serving" if n_queries >= crossover_batch else "blas"


def ann_search(
    index_df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2_sq",
    params: HawkParams = DEFAULT_PARAMS,
    ef_search: int | None = None,
    query_id: str = "query_id",
    query_col: str = "query_vec",
    nprobe_shards: int | None = None,
    centroids: list | None = None,
    crossover_batch: int = 220,
    selective_fraction: float = 0.35,
    force: str | None = None,
    decision_out: dict | None = None,
    vectors_df: DataFrame | None = None,
    max_driver_queries: int = MAX_DRIVER_QUERIES,
) -> DataFrame:
    """Crossover-aware ANN front door (VERDICT r4 #2): the engine, not
    the caller, picks the winning physical plan for a query batch.

    ``vectors_df`` (columns ``vec_id, vec``) is the slim payload side
    the BLAS path scans. Default = a projection of ``index_df`` — free
    when the index is parquet-backed (column pruning reaches the scan),
    but a CHECKPOINTED index deserializes its adjacency arrays anyway;
    a serving deployment should hold and pass the slim projection it
    already keeps for re-ranking.

    Routes the (bounded) batch driver-side against build-time centroids,
    estimates the probed-union fraction, and dispatches via
    `choose_ann_path`: **serving-HNSW** (`search_serving` — zero index
    shuffle, partition-prunable) or **exact BLAS scan** over the same
    index rows (`l2_topk_numpy` on the ``vec`` payload — column-pruned,
    so the adjacency arrays never move). Both paths return
    (query_id, vec_id, dist, rank) with squared-L2 distances; the BLAS
    path is additionally exact, so dispatching can only raise recall.

    The exact-scan contrast exists for ``l2_sq`` (BLAS matmul) and
    ``hamming`` (XOR+popcount LUT scan, `hamming_topk_numpy` — the
    vectorized LinearDb of the reference's iris-code domain); other
    metrics always serve. ``force`` ∈ {"serving", "blas"} pins a path
    (tests/bench);
    ``decision_out`` (a dict) receives {path, n_queries,
    probed_fraction} for observability.

    ``index_df`` may also be a ``ServingIndex`` bundle
    (sources/graph_io.py `load_serving_index`) — its index, centroids,
    params, and metric are unpacked, so a restarted serving process is
    ``ann_search(load_serving_index(spark, path), queries, k)``.
    Explicit ``metric``/``params``/``centroids`` arguments are then
    ignored in favor of the bundle's build-time values."""
    from hawk_pack_spark.operators.similarity import l2_topk_numpy

    if hasattr(index_df, "index") and hasattr(index_df, "centroids"):
        bundle = index_df
        index_df = bundle.index
        centroids = bundle.centroids
        metric = bundle.metric
        if bundle.params is not None:
            params = bundle.params

    spark = queries.sparkSession
    qn = _normalize_vectors(queries, query_id, query_col, metric, out_id="query_id")
    # bounded collect: the front door is a serving surface, not a bulk
    # analytics path — a caller feeding a huge query DataFrame must not
    # materialize it on the driver (VERDICT r5 #7). Overflow falls back
    # to the cogroup `search` (fully distributed, zero driver
    # materialization).
    batch = _collect_query_batch(
        qn, "query_id", _payload_col(metric), max_driver_queries
    )
    if batch is None:
        if decision_out is not None:
            decision_out.update(
                path="cogroup", n_queries=None, probed_fraction=None,
                queries_per_probed_shard=None,
            )
        return search(
            index_df, queries, k=k, metric=metric, params=params,
            ef_search=ef_search, query_id=query_id, query_col=query_col,
            nprobe_shards=nprobe_shards,
        )
    q_ids, q_data = batch
    n_queries = len(q_ids)
    if not n_queries:
        return spark.createDataFrame([], RESULT_SCHEMA)
    if nprobe_shards is None:
        routed = None
        probed_fraction = 1.0
        q_per_shard = None
    else:
        if centroids is None:
            centroids = cached_centroids(index_df, metric)
        routed = _route_batch(q_data, centroids, metric, nprobe_shards)
        probed_fraction = len(routed) / max(len(centroids), 1)
        q_per_shard = sum(len(v) for v in routed.values()) / max(len(routed), 1)

    if force is not None:
        path = force
    elif metric not in ("l2_sq", "hamming"):
        path = "serving"  # no exact-scan contrast for this metric
    else:
        # the selective shortcut only pays off when the probed-shard
        # filter can prune the scan: file-backed (PartitionFilters /
        # DSv2 BatchScan) yes; a monolithic checkpointed/in-memory frame
        # scans everything regardless of the filter (measured at 10M,
        # NOTES r5 tail). The probe re-runs query planning — memoized
        # per index handle (ADVICE r5).
        cache = _df_cache(index_df)
        pruned = cache.get("pruned_scan")
        if pruned is None:
            try:
                plan = index_df._jdf.queryExecution().executedPlan().toString()
                pruned = ("FileScan" in plan) or ("BatchScan" in plan)
            except Exception:
                pruned = False
            cache["pruned_scan"] = pruned
        path = choose_ann_path(
            n_queries, probed_fraction, crossover_batch, selective_fraction,
            queries_per_probed_shard=q_per_shard, pruned_scan=pruned,
        )
    if decision_out is not None:
        decision_out.update(
            path=path, n_queries=n_queries, probed_fraction=probed_fraction,
            queries_per_probed_shard=q_per_shard,
        )

    if path == "blas":
        side = vectors_df if vectors_df is not None else index_df
        if metric == "hamming":
            from hawk_pack_spark.operators.similarity import hamming_topk_numpy

            return hamming_topk_numpy(
                side, queries, k=k, vec_col="code",
                query_id=query_id, query_col=query_col,
                _pre=(q_ids, q_data),
            )
        return l2_topk_numpy(
            side, queries, k=k, vec_col="vec",
            query_id=query_id, query_col=query_col,
            _pre=(q_ids, q_data),
        )
    return search_serving(
        index_df, queries, k=k, metric=metric, params=params,
        ef_search=ef_search, query_id=query_id, query_col=query_col,
        nprobe_shards=nprobe_shards, centroids=centroids,
        _pre=(q_ids, q_data, routed),
    )


def insert_batch(
    index_df: DataFrame,
    batch: DataFrame,
    metric: str = "l2_sq",
    params: HawkParams = DEFAULT_PARAMS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    match_threshold: float | None = None,
    neighbor_heuristic: bool = True,
    serving_gate: bool = False,
    centroids: list | None = None,
    touched_out: dict | None = None,
) -> DataFrame:
    """Two-phase batch insert into an existing index (reference insert
    lifecycle, SURVEY.md §3 EP2): phase 1 searches, the caller-side
    is_match gate rejects duplicates, phase 2 connects. Returns the
    updated index DataFrame.

    The duplicate gate is GLOBAL (a cross-shard search), because shards
    are id-hashed, not content-hashed — an exact duplicate usually lives
    in a different shard than the incoming id. Intra-batch near-dups are
    additionally rejected inside each shard kernel, which inserts
    serially (first id wins, the reference's serial semantics).

    ``serving_gate``: run the duplicate gate through `search_serving`
    (broadcast batch, zero index movement) instead of the cogroup
    search — the right shape when the batch is small relative to the
    index (it collects the batch driver-side, so leave it off for
    bulk loads).

    ``centroids``: REQUIRED for content-sharded (IVF-cell) indexes —
    the `shard_centroids(...).collect()` build metadata. New vectors
    are then placed in their NEAREST cell, keeping nprobe routing
    correct for them; the default id-hash placement is only valid for
    id-hashed indexes (placing by id into a content-sharded index
    would strand new vectors in cells that don't match their content,
    and routed searches would miss them)."""
    # shard count comes for free from the build metadata when provided
    # (one row per shard) — the full-index max(shard) aggregation pass
    # is only paid on the id-hash placement path that needs it
    if centroids is not None:
        num_shards = len(centroids)
    else:
        num_shards = 1 + (index_df.agg(F.max("shard")).collect()[0][0] or 0)
    if match_threshold is not None:
        as_queries = batch.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
        )
        if serving_gate:
            # the gate goes through the crossover-aware front door: a
            # typical (small) insert batch takes the EXACT scan — at 1M
            # that is ~1.2s vs ~28s for a cold full-fan-out serving pass
            # (the serving floor is the Arrow scan of every shard when
            # nothing prunes); large batches dispatch to serving where
            # it wins. Exactness of the dup gate is preserved either
            # way: the scan is exact, and full-fan serving searches
            # every shard.
            nearest = ann_search(
                index_df, as_queries, k=1, metric=metric, params=params
            )
        else:
            nearest = search(
                index_df, as_queries, k=1, metric=metric, params=params
            )
        nearest = nearest.where(F.col("dist") <= F.lit(match_threshold))
        batch = batch.join(
            nearest.select(F.col("query_id").alias(id_col)), id_col, "left_anti"
        )
    prepped = _normalize_vectors(batch, id_col, vec_col, metric)
    if match_threshold is not None:
        # cross-shard intra-batch EXACT-dup gate: the shard kernels reject
        # intra-batch dups serially, but only within their own shard —
        # with id-hashed (or content-routed near-tie) placement an exact
        # dup of another batch row can land in a different shard and slip
        # the gate. dist 0 is transitive, so first-id-wins per identical
        # payload IS the reference's serial outcome (min id inserts first,
        # every later identical row is_match-rejects) regardless of how
        # the batch was split into micro-batches. Near-dups (0 < dist <=
        # threshold) across shards remain the same race the reference's
        # concurrent insert tasks admit (hawk_searcher.rs tokio tasks).
        wdup = Window.partitionBy(_payload_col(metric)).orderBy(F.col("vec_id").asc())
        prepped = (
            prepped.withColumn("_dup_rn", F.row_number().over(wdup))
            .where(F.col("_dup_rn") == 1)
            .drop("_dup_rn")
        )
    if centroids is not None:
        from hawk_pack_spark.functions.distance import distance_expr

        centroids = sorted(centroids, key=lambda r: r[0])
        if metric == "hamming":
            cent_df = index_df.sparkSession.createDataFrame(
                [(r[0], r[1]) for r in centroids], "c_shard int, c_code long"
            )
            cdist = distance_expr(metric, F.col("code"), F.col("c_code"))
        else:
            cent_df = index_df.sparkSession.createDataFrame(
                [(r[0], r[1]) for r in centroids],
                "c_shard int, c_vec array<double>",
            )
            cdist = distance_expr(metric, F.col("vec"), F.col("c_vec"))
        from hawk_pack_spark.operators.topk import topk_rows

        scored = prepped.crossJoin(F.broadcast(cent_df)).withColumn(
            "_cdist", cdist
        )
        prepped = topk_rows(
            scored, ["vec_id"], "_cdist", 1, tie_cols=["c_shard"],
            rank_name="_crank",
        ).select(
            "vec_id", "code", "vec", F.col("c_shard").alias("shard")
        )
    else:
        prepped = prepped.withColumn(
            "shard", F.pmod(F.xxhash64("vec_id"), F.lit(num_shards)).cast("int")
        )

    cols = ["shard", "vec_id", "code", "vec"]

    def insert_shard(left: pa.Table, right: pa.Table) -> pa.Table:
        right = right.sort_by("vec_id")
        if left.num_rows == 0:
            # no existing rows in this shard: plain build over the batch
            return _build_table(right, metric, params, seed, neighbor_heuristic)
        left = left.sort_by("vec_id")
        old_ids = left.column("vec_id").to_numpy()
        new_ids = right.column("vec_id").to_numpy()
        new_layers = K.assign_layer(K.uniform_from_ids(new_ids, seed), params.m_L)
        full = _stack_payload(
            _arrow_payload(left, metric), _arrow_payload(right, metric), metric
        )
        index = _rehydrate(left, full, metric, params,
                           neighbor_heuristic=neighbor_heuristic)
        n = len(old_ids)
        accepted = []
        for j in range(len(new_ids)):
            local = n + j
            # two-phase insert with the caller-side is_match gate between
            # phases, exactly the reference's dedup-on-insert pattern
            if match_threshold is not None and index.is_match(local, match_threshold):
                continue
            index.insert(local, int(new_layers[j]))
            accepted.append(j)

        # rejected locals were staged but never linked: no edges
        counts, *edges = K.flat_adjacency(index, np.r_[old_ids, new_ids])
        kept = np.r_[np.arange(n), n + np.asarray(accepted, dtype=np.int64)]
        rows = pa.concat_tables([left.select(cols), right.select(cols)]).take(kept)
        layers = np.r_[left.column("layer").to_numpy(), new_layers][kept]
        return _index_table(rows, layers, counts[kept], *edges)

    # only shards receiving batch rows are rewritten, so the cost tracks
    # the BATCH, not the index; prepped is materialized first so the
    # phase-1 dedup search runs once, not once per reference
    touched, updated = _rewrite_shards(
        index_df, materialize(prepped), insert_shard, num_shards
    )
    if touched_out is not None:
        # which shards' subgraphs this insert rewrote — the delta unit
        # for incremental persistence (upsert_graph_jdbc of these shards
        # only; everything else is bit-identical to the prior state)
        touched_out["shards"] = touched
    return updated


# ---------------------------------------------------------------------------
# normalized graph views (the §2.3 GraphStore surface over the index)


def delete_from_index(index_df: DataFrame, delete_ids: DataFrame,
                      id_col: str = "vec_id", metric: str | None = None,
                      params: HawkParams = DEFAULT_PARAMS) -> DataFrame:
    """Index maintenance the reference leaves out: remove vectors, prune
    every edge pointing at them, and (when ``metric`` is given) repair
    connectivity by BRIDGING each survivor that pointed at a deleted
    node to that node's surviving out-neighbors, then re-trim to M_max —
    FreshDiskANN-style local delete consolidation. Edges never cross
    shards, so ONE `cogroup().applyInArrow` stage runs the repair kernel
    (`_hnsw_kernel.repair_deleted`, which states the rule) over each
    shard holding a deleted vector; the rest pass through JVM-side.
    Bridge distances are bit-identical to ``distance_expr(metric)`` for
    the built-in metrics (`_pair_dists`); a custom metric's come from
    its registered ``batch_fn``. Entry points are re-derived as each
    shard's max-layer survivor (`entry_points`). Deletion is exact and
    immediate; without repair (metric=None) recall on survivors can
    degrade, and heavy churn still warrants `rebuild_shards`."""
    dels = delete_ids.select(F.col(id_col).cast("long").alias("vec_id")).distinct()
    # (shard, vec_id) of the deleted rows; fresh aliases keep the cogroup
    # of index rows with them from being an ambiguous self-join
    hit = index_df.select(
        F.col("shard").alias("shard"), F.col("vec_id").alias("vec_id")
    ).join(dels, "vec_id", "left_semi")

    def delete_shard(left: pa.Table, right: pa.Table) -> pa.Table:
        ids = left.column("vec_id").to_numpy()
        dead = np.isin(ids, right.column("vec_id").to_numpy())
        score = None
        if metric is not None:
            data = _arrow_payload(left, metric)
            score = lambda a, b: _pair_dists(data, a, b, metric)  # noqa: E731
        live, *edges = K.repair_deleted(ids, *_flat_edges(left), dead, params, score)
        rows = left.filter(pa.array(live))
        return _index_table(rows, rows.column("layer").to_numpy(), *edges)

    return _rewrite_shards(index_df, hit, delete_shard)[1]


def to_links(index_df: DataFrame) -> DataFrame:
    """Normalized links table (layer, src, nbrs ARRAY<STRUCT<dist,dst>>),
    the schema mirroring the reference's one-row-per-(vector, layer)
    Postgres layout (migrations/..init.up.sql).

    A row exists for EVERY layer a node occupies (0..node.layer), with
    an EMPTY queue when the node has no edges there — the reference's
    set_links writes empty queues too (insert calls it per layer), and
    dropping them loses information: an entry point alone on the top
    layer would round-trip with a lower layer through
    `from_links`/GraphPg import (caught by the graph_bulk_import
    oracle's snapshot check)."""
    occupancy = index_df.select(
        "shard",
        F.col("vec_id").alias("src"),
        F.explode(F.sequence(F.lit(0), F.col("layer"))).alias("layer"),
    )
    edges = (
        index_df.select(
            "shard",
            F.col("vec_id").alias("src"),
            F.explode(F.arrays_zip("e_layer", "e_dst", "e_dist")).alias("e"),
        )
        .select(
            "shard",
            F.col("e.e_layer").alias("layer"),
            "src",
            F.col("e.e_dst").alias("dst"),
            F.col("e.e_dist").alias("dist"),
        )
    )
    nbr = F.struct(F.col("dist"), F.col("dst"))
    filled = edges.groupBy("shard", "layer", "src").agg(
        F.array_sort(F.collect_list(nbr)).alias("nbrs")
    )
    empty = F.array().cast("array<struct<dist: double, dst: bigint>>")
    return (
        occupancy.join(filled, ["shard", "layer", "src"], "left")
        .select(
            "shard", "layer", "src", F.coalesce("nbrs", empty).alias("nbrs")
        )
    )


def from_links(
    links: DataFrame,
    vectors: DataFrame,
    metric: str = "l2_sq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bulk index import from a normalized links table + vector payloads —
    the ``GraphMem::from_precomputed`` port (graph_mem.rs:25-37): construct
    the operational index from externally built layers.

    A node's layer comes from its link ROWS (one per occupied layer,
    empty queues included — see `to_links`), not from its edges: an
    entry point alone on the top layer has an empty queue there, and
    deriving the layer from max(edge.layer) would demote it."""
    edges = links.select(
        "shard", "layer", "src", F.explode("nbrs").alias("nbr")
    ).select(
        "shard", "layer", "src",
        F.col("nbr.dst").alias("dst"), F.col("nbr.dist").alias("dist"),
    )
    node_layers = links.groupBy("shard", F.col("src").alias("vec_id")).agg(
        F.max("layer").cast("int").alias("layer")
    )
    per_node = (
        edges.groupBy("shard", F.col("src").alias("vec_id"))
        .agg(
            F.collect_list(
                F.struct(F.col("layer").alias("l"), F.col("dist").alias("d"),
                         F.col("dst").alias("t"))
            ).alias("es"),
        )
        .withColumn("es", F.array_sort("es"))
        .select(
            "shard", "vec_id",
            F.transform("es", lambda e: e["l"]).cast("array<int>").alias("e_layer"),
            F.transform("es", lambda e: e["t"]).alias("e_dst"),
            F.transform("es", lambda e: e["d"]).alias("e_dist"),
        )
    )
    empty_i = F.array().cast("array<int>")
    empty_l = F.array().cast("array<bigint>")
    empty_d = F.array().cast("array<double>")
    assembled = node_layers.join(per_node, ["shard", "vec_id"], "left").select(
        "shard", "vec_id", "layer",
        F.coalesce("e_layer", empty_i).alias("e_layer"),
        F.coalesce("e_dst", empty_l).alias("e_dst"),
        F.coalesce("e_dist", empty_d).alias("e_dist"),
    )
    payload = _normalize_vectors(vectors, id_col, vec_col, metric)
    return assembled.join(payload, "vec_id").select(
        "shard", "vec_id", "layer", "code", "vec", "e_layer", "e_dst", "e_dist"
    )


def entry_points(index_df: DataFrame) -> DataFrame:
    """Per-shard entry point: lowest-id vector on the top layer (the
    monotone entry rule under id-ordered insertion)."""
    w = Window.partitionBy("shard").orderBy(F.col("layer").desc(), F.col("vec_id").asc())
    return (
        index_df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("shard", F.col("vec_id").alias("point"), F.col("layer"))
    )
