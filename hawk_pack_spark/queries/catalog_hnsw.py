"""HNSW rows with table-derived oracles

Auto-split from the former single-file queries/catalog.py (round 11,
VERDICT r10 #7) — specs are re-exported through
hawk_pack_spark.queries.catalog; see that module's header for the
cross-engine float-discipline rules every spec follows.
"""

from __future__ import annotations

from hawk_pack_spark.queries._shared import *  # noqa: F401,F403
from hawk_pack_spark.queries._shared import _avg_exact, _charge, _dec_sum, _disc_price
from hawk_pack_spark.queries.catalog_ann import _ann_summary  # noqa: F401
from hawk_pack_spark.queries.catalog_vector import _embeddings_vectors  # noqa: F401



IVF_SUMMARY_SQL = """
SELECT CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_results,
       TRUE AS ranks_ok, TRUE AS recall_ok
"""


# ---------------------------------------------------------------------------
# HNSW — summaries with table-derived oracles; recall also in tests

_HNSW_PARAMS = HawkParams.new(64, 64, 16)


_HNSW_CACHE: dict = {}
_HNSW_SHARDS: dict = {}


def _hnsw_index(spark, sf_dir):
    emb = _embeddings_vectors(spark, sf_dir)
    # 8 shards: smaller per-shard graphs build faster (beam cost grows
    # with shard size) and search still consults every shard, so recall
    # only improves. Memoized per (session, sf_dir): the three hnsw_*
    # catalog queries share one deterministic build.
    key = (id(spark), sf_dir)
    if key not in _HNSW_CACHE:
        # Two scale-robustness choices, measured at the r6 sf1 gate
        # (the scaled fixture is 10 near-duplicate replicas per base,
        # cos ≈ 0.5-0.72 clusters — tools/make_scale.py):
        # - Algorithm 4 neighbor selection: plain M-nearest trim lets
        #   clusters capture every edge slot — 21% self-recall loss at
        #   sf1; diverse edges recover it (NOTES round-3 mitigation).
        # - shard count ∝ corpus (~625 vectors per shard graph): fixed
        #   8 shards left 2500-row clustered graphs with 11 unreachable
        #   islands (ef-independent); 625-row graphs build FASTER and
        #   reach 20000/20000 self-recall. Search consults all shards,
        #   so recall only improves with more shards.
        n = emb.count()
        shards = max(8, n // 625)
        _HNSW_SHARDS[key] = shards
        _HNSW_CACHE[key] = hnsw.build_index(
            emb, metric="l2_sq", params=_HNSW_PARAMS, num_shards=shards,
            neighbor_heuristic=True,
        ).localCheckpoint()
    return emb, _HNSW_CACHE[key]


def _hnsw_num_shards(spark, sf_dir) -> int:
    """Shard count of the shared catalog index (valid after
    `_hnsw_index` has been called for this (session, sf_dir))."""
    return _HNSW_SHARDS[(id(spark), sf_dir)]


def q_hnsw_search_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via the sharded HNSW index (SURVEY §2.4 search),
    summarized against the exact kNN computed in the same job."""
    emb, index = _hnsw_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = hnsw.search(index, queries, k=10, metric="l2_sq", params=_HNSW_PARAMS)
    exact = knn_exact(emb, queries, k=10, metric="l2_sq")
    return _ann_summary(ann, exact, k=10, min_recall=0.9)


HNSW_SEARCH_SUMMARY_SQL = """
SELECT CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_results,
       TRUE AS ranks_ok, TRUE AS recall_ok
"""


def q_hnsw_serving_search_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-path ANN search (hnsw.search_serving: queries broadcast
    to the unmoved index, driver-side centroid routing — the zero-
    index-shuffle deployment shape that wins the 1M-vector crossover
    bench). Invariants in one row: the usual rank/recall summary of the
    fan-out serving result vs exact kNN, PLUS execution-path equality —
    serving must return exactly the cogroup path's rows, both fan-out
    and routed at the same nprobe (the tie-break contract)."""
    emb, index = _hnsw_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # each search result is read by 2-3 branches below (summary + both
    # exceptAll directions); materialize the bounded (10 queries x k)
    # cogroup frames once so each search executes once, not per branch
    # (search_serving already returns a computed local frame)
    serv = hnsw.search_serving(
        index, queries, k=10, metric="l2_sq", params=_HNSW_PARAMS
    )
    cog = hnsw.search(
        index, queries, k=10, metric="l2_sq", params=_HNSW_PARAMS
    ).localCheckpoint()
    cents = hnsw.shard_centroids(index, "l2_sq").collect()
    serv_r = hnsw.search_serving(
        index, queries, k=10, metric="l2_sq", params=_HNSW_PARAMS,
        nprobe_shards=4, centroids=cents,
    )
    cog_r = hnsw.search(
        index, queries, k=10, metric="l2_sq", params=_HNSW_PARAMS,
        num_shards=_hnsw_num_shards(spark, sf_dir), nprobe_shards=4,
    ).localCheckpoint()
    exact = knn_exact(emb, queries, k=10, metric="l2_sq")

    def n_diff(a: DataFrame, b: DataFrame, name: str) -> DataFrame:
        cols = ["query_id", "vec_id", "rank"]
        return (
            a.select(*cols).exceptAll(b.select(*cols))
            .unionByName(b.select(*cols).exceptAll(a.select(*cols)))
            .agg(F.count(F.lit(1)).alias(name))
        )

    return (
        _ann_summary(serv, exact, k=10, min_recall=0.9)
        .crossJoin(n_diff(serv, cog, "_d1"))
        .crossJoin(n_diff(serv_r, cog_r, "_d2"))
        .select(
            "n_queries", "n_results", "ranks_ok", "recall_ok",
            (F.col("_d1") == 0).alias("fanout_matches_cogroup"),
            (F.col("_d2") == 0).alias("routed_matches_cogroup"),
        )
    )


HNSW_SERVING_SUMMARY_SQL = """
SELECT CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_results,
       TRUE AS ranks_ok, TRUE AS recall_ok,
       TRUE AS fanout_matches_cogroup, TRUE AS routed_matches_cogroup
"""


def q_serving_restart_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The restartable-serving story as one driver row (VERDICT r5 #4):
    save_serving_index → load_serving_index → `ann_search` through the
    bundle — covering the serving manifest (graph + centroids + params
    in one directory), frozen-CSR rehydration (both serving call sites
    search frozen), and the crossover dispatch front door, oracle-
    checked. Reference analog: GraphPg's restartable-store premise
    (graph_pg.rs:24-50) with HawkerParams traveling as state.

    Booleans computed live; any violation flips one and fails the hash:
    - blas_exact_ok: a small full-fan batch through the MATERIALIZED
      bundle dispatches to the exact scan and returns exactly the exact
      kNN's rows;
    - selective_serving_ok: a selective probe (clones routed to 1 of 8
      shards) through the LAZY (file-backed, partition-prunable) bundle
      dispatches to serving and returns exactly the direct
      search_serving rows (no recall gate here: the shared catalog index
      is id-hash sharded, so a 1-of-8 probe legitimately misses true
      neighbors — routed-recall is gated where the index is
      content-sharded, tests/test_hnsw_spark.py);
    - params_roundtrip_ok: metric/params/num_shards survive the
      manifest round-trip."""
    import shutil
    import tempfile

    from hawk_pack_spark.sources.graph_io import (
        load_serving_index,
        save_serving_index,
    )

    emb, index = _hnsw_index(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    mdir = tempfile.mkdtemp(prefix="hawk_manifest_cat_")
    try:
        save_serving_index(index, mdir, params=_HNSW_PARAMS, metric="l2_sq")
        lazy = load_serving_index(spark, mdir)
        mat = load_serving_index(spark, mdir, materialize=True)

        def rows(df: DataFrame) -> set:
            return {(r.query_id, r.vec_id, r.rank) for r in df.collect()}

        # (a) materialized bundle, 10-query full fan → exact-scan path
        dec_a: dict = {}
        got_a = rows(hnsw.ann_search(mat, queries, k=10, decision_out=dec_a))
        exact_df = knn_exact(emb, queries, k=10, metric="l2_sq")
        exact = rows(exact_df)
        blas_exact_ok = dec_a["path"] == "blas" and got_a == exact

        # (b) lazy bundle, clone batch probing 1 of 8 shards → serving
        v0 = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
        clones = spark.createDataFrame(
            [(i, v0) for i in range(5)],
            "query_id long, query_vec array<double>",
        )
        dec_b: dict = {}
        got_b = rows(
            hnsw.ann_search(lazy, clones, k=10, nprobe_shards=1,
                            decision_out=dec_b)
        )
        direct_b = rows(
            hnsw.search_serving(
                lazy.index, clones, k=10, metric=lazy.metric,
                params=lazy.params, nprobe_shards=1, centroids=lazy.centroids,
            )
        )
        selective_serving_ok = (
            dec_b["path"] == "serving" and len(got_b) == 50
            and got_b == direct_b
        )

        params_roundtrip_ok = (
            lazy.metric == "l2_sq"
            and lazy.params == _HNSW_PARAMS
            and lazy.num_shards == _hnsw_num_shards(spark, sf_dir)
            and mat.params == _HNSW_PARAMS
        )
        return spark.createDataFrame(
            [(
                len({q for q, _, _ in got_a}), len(got_a),
                bool(blas_exact_ok),
                bool(selective_serving_ok), bool(params_roundtrip_ok),
            )],
            "n_queries long, n_results long, blas_exact_ok boolean, "
            "selective_serving_ok boolean, params_roundtrip_ok boolean",
        )
    finally:
        shutil.rmtree(mdir, ignore_errors=True)


SERVING_RESTART_SQL = """
SELECT CAST(10 AS BIGINT) AS n_queries, CAST(100 AS BIGINT) AS n_results,
       TRUE AS blas_exact_ok, TRUE AS selective_serving_ok,
       TRUE AS params_roundtrip_ok
"""


def q_hnsw_insert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MUTATION surface as one invariant row (reference insert
    lifecycle, SURVEY §3 EP2): 20 perturbed twins batch-insert into the
    shared index and must be findable at self-distance 0 afterwards;
    20 exact duplicates insert under the is_match(0) gate and must ALL
    be rejected (dedup-on-insert, the LinearDb::exists semantics). The
    oracle derives every count from the embeddings table."""
    emb, index = _hnsw_index(spark, sf_dir)
    twins = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(1e-4)).alias("embedding"),
    )
    updated = hnsw.insert_batch(
        index, twins, metric="l2_sq", params=_HNSW_PARAMS
    ).localCheckpoint()
    q = twins.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    found = hnsw.search(
        updated, q, k=1, metric="l2_sq", params=_HNSW_PARAMS
    ).where(
        (F.col("query_id") == F.col("vec_id")) & (F.col("dist") == 0)
    )
    dups = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"), "embedding"
    )
    gated = hnsw.insert_batch(
        index, dups, metric="l2_sq", params=_HNSW_PARAMS,
        match_threshold=0.0, serving_gate=True,
    )
    return (
        emb.agg(F.count(F.lit(1)).alias("n_before"))
        .crossJoin(updated.agg(F.count(F.lit(1)).alias("n_after")))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_inserted_found")))
        .crossJoin(gated.agg(F.count(F.lit(1)).alias("n_after_dup_gate")))
        .select(
            "n_before",
            "n_after",
            "n_inserted_found",
            (F.col("n_after_dup_gate") == F.col("n_before")).alias("dups_all_rejected"),
        )
    )


HNSW_INSERT_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
       CAST(COUNT(*) + 20 AS BIGINT) AS n_after,
       CAST(20 AS BIGINT) AS n_inserted_found,
       TRUE AS dups_all_rejected
FROM embeddings
"""


def q_dup_gate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CROSS-SHARD intra-batch duplicate gate (insert_batch,
    hnsw.py — reference serial insert-unless-duplicate semantics,
    SURVEY §3 EP2) as a data-level row. Id-hashed shards mean an exact
    duplicate of a stored code usually lives in a DIFFERENT shard than
    the incoming id, and the two members of an intra-batch duplicate
    pair can hash to different shards too — both escapes the per-shard
    serial kernel cannot see, both caught by the global gate. One batch
    carries 20 cross-shard duplicates of stored codes (all rejected),
    5 intra-batch duplicate pairs under DIFFERENT ids (first id wins —
    the reference's serial outcome), and 10 new codes (all accepted).
    The surviving id set is checked exactly, and the serving-broadcast
    and cogroup gate shapes must agree row-for-row."""
    emb = _embeddings_vectors(spark, sf_dir)
    base = emb.where(F.col("vec_id") < 40).select(
        "vec_id", F.col("vec_id").cast("long").alias("code")
    )
    params = HawkParams.new(32, 16, 8)
    index = hnsw.build_index(
        base, metric="hamming", params=params, num_shards=4, vec_col="code"
    ).localCheckpoint()
    dups = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.col("vec_id").cast("long").alias("code"),
    )
    intra_win = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 2000).alias("vec_id"),
        (F.col("vec_id") + 100).cast("long").alias("code"),
    )
    intra_lose = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 3000).alias("vec_id"),
        (F.col("vec_id") + 100).cast("long").alias("code"),
    )
    news = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 4000).alias("vec_id"),
        (F.col("vec_id") + 200).cast("long").alias("code"),
    )
    batch = (
        dups.unionByName(intra_win).unionByName(intra_lose).unionByName(news)
    )
    gated = hnsw.insert_batch(
        index, batch, metric="hamming", params=params, vec_col="code",
        match_threshold=0.0, serving_gate=True,
    ).localCheckpoint()
    # consumed by both exceptAll directions below — materialize once so
    # the cogroup insert pipeline runs once, not per branch
    gated_cg = hnsw.insert_batch(
        index, batch, metric="hamming", params=params, vec_col="code",
        match_threshold=0.0, serving_gate=False,
    ).localCheckpoint()
    expected_ids = (
        base.select("vec_id")
        .unionByName(intra_win.select("vec_id"))
        .unionByName(news.select("vec_id"))
    )
    got = gated.select("vec_id")
    got_cg = gated_cg.select("vec_id")
    ids_diff = got.exceptAll(expected_ids).unionByName(
        expected_ids.exceptAll(got)
    ).count()
    gates_diff = got.exceptAll(got_cg).unionByName(
        got_cg.exceptAll(got)
    ).count()
    return (
        emb.where(F.col("vec_id") < 40)
        .agg(F.count(F.lit(1)).cast("long").alias("n_before"))
        .crossJoin(gated.agg(F.count(F.lit(1)).cast("long").alias("n_after")))
        .select(
            "n_before",
            "n_after",
            F.lit(ids_diff == 0).alias("ids_exact"),
            F.lit(gates_diff == 0).alias("gates_agree"),
        )
    )


DUP_GATE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
       CAST(COUNT(*) + 15 AS BIGINT) AS n_after,
       TRUE AS ids_exact, TRUE AS gates_agree
FROM embeddings WHERE vec_id < 40
"""


def q_hnsw_delete_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance as one invariant row: delete every 10th vector
    WITH bridge repair; deleted ids must vanish from rows AND from every
    surviving adjacency list (exact, immediate deletion), survivors must
    keep ≥ 99.9% self-recall through the repaired graph (matching the
    operator's contract: local bridge repair is APPROXIMATE — measured
    1 unreachable survivor in 18,000 on the sf1 clustered corpus, and
    the exact path for accumulated damage is fragmented_shards +
    rebuild_shards, oracle-checked by hnsw_rebuild_churned), and the
    M_max degree bounds must still hold after the re-trim. Oracle
    derives counts from the embeddings table; the recall gate is an
    integer cross-multiplication."""
    emb, index = _hnsw_index(spark, sf_dir)
    dels = emb.where(F.col("vec_id") % 10 == 0).select("vec_id")
    pruned = hnsw.delete_from_index(
        index, dels, metric="l2_sq", params=_HNSW_PARAMS
    ).localCheckpoint()
    dangling = (
        pruned.select(F.explode("e_dst").alias("dst"))
        .join(dels.select(F.col("vec_id").alias("dst")), "dst", "leftsemi")
    )
    m_max0 = _HNSW_PARAMS.get_M_max(0)
    m_max = _HNSW_PARAMS.get_M_max(1)
    links = hnsw.to_links(pruned)
    over = links.where(
        F.size("nbrs")
        > F.when(F.col("layer") == 0, F.lit(m_max0)).otherwise(F.lit(m_max))
    )
    survivors = emb.join(dels, "vec_id", "left_anti")
    q = survivors.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    self_found = hnsw.search(
        pruned, q, k=1, metric="l2_sq", params=_HNSW_PARAMS
    ).where((F.col("query_id") == F.col("vec_id")) & (F.col("dist") == 0))
    return (
        emb.agg(F.count(F.lit(1)).alias("n_before"))
        .crossJoin(pruned.agg(F.count(F.lit(1)).alias("n_survivors")))
        .crossJoin(dangling.agg(F.count(F.lit(1)).alias("_dangle")))
        .crossJoin(over.agg(F.count(F.lit(1)).alias("_over")))
        .crossJoin(self_found.agg(F.count(F.lit(1)).alias("n_self_found")))
        .select(
            "n_before",
            "n_survivors",
            (F.col("_dangle") == 0).alias("no_dangling_edges"),
            (F.col("_over") == 0).alias("degree_bounds_ok"),
            (
                F.col("n_self_found") * 1000 >= F.col("n_survivors") * 999
            ).alias("survivor_recall_ok"),
        )
    )


HNSW_DELETE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
       CAST(SUM(CASE WHEN vec_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_survivors,
       TRUE AS no_dangling_edges,
       TRUE AS degree_bounds_ok,
       TRUE AS survivor_recall_ok
FROM embeddings
"""


def q_graph_rekey_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphMem::from_another as one invariant row (graph_mem.rs:43-76;
    queue re-key = FurthestQueue::map, queue.rs:67-85): remap every
    vector ref through a bijection (and double every distance through
    the dist-map hook), then remap back through the inverse — the graph
    must return byte-identical (same layers, same queues in the same
    order, same distances), and the forward map alone must have applied
    the distance scale exactly."""
    emb, index = _hnsw_index(spark, sf_dir)
    from hawk_pack_spark.operators.rekey import rekey_entry, rekey_links

    links = hnsw.to_links(index)
    entries = hnsw.entry_points(index)
    fwd = emb.select(
        F.col("vec_id").alias("old_id"),
        (F.col("vec_id") * 2 + 1).alias("new_id"),
    )
    inv = fwd.select(
        F.col("new_id").alias("old_id"), F.col("old_id").alias("new_id")
    )
    once = rekey_links(links, fwd, dist_scale=2.0)
    back = rekey_links(once, inv, dist_scale=0.5)
    key = ["shard", "layer", "src"]
    # canonical per-node row: queue rendered as text for exact comparison
    canon = lambda df: df.select(  # noqa: E731
        *key,
        F.to_json(
            F.transform(
                "nbrs",
                lambda x: F.struct(
                    F.round(x["dist"], 6).alias("d"), x["dst"].alias("t")
                ),
            )
        ).alias("q"),
    )
    diff = canon(links).exceptAll(canon(back)).unionByName(
        canon(back).exceptAll(canon(links))
    )
    scaled = (
        links.select(*key, F.explode("nbrs").alias("n"))
        .select(*[F.col(c) for c in ["layer"]],
                (F.col("src") * 2 + 1).alias("src"),
                (F.col("n.dst") * 2 + 1).alias("dst"),
                (F.col("n.dist") * 2).alias("want"))
    )
    got = once.select(
        "layer", "src", F.explode("nbrs").alias("n")
    ).select("layer", "src", F.col("n.dst").alias("dst"), F.col("n.dist").alias("got"))
    scale_bad = scaled.join(got, ["layer", "src", "dst"]).where(
        F.abs(F.col("want") - F.col("got")) > 1e-9
    )
    e_back = rekey_entry(rekey_entry(entries, fwd), inv)
    e_diff = entries.exceptAll(e_back).unionByName(e_back.exceptAll(entries))
    return (
        emb.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(diff.agg(F.count(F.lit(1)).alias("_d")))
        .crossJoin(scale_bad.agg(F.count(F.lit(1)).alias("_s")))
        .crossJoin(e_diff.agg(F.count(F.lit(1)).alias("_e")))
        .select(
            "n_nodes",
            (F.col("_d") == 0).alias("links_roundtrip_exact"),
            (F.col("_s") == 0).alias("dist_scale_exact"),
            (F.col("_e") == 0).alias("entry_roundtrip_exact"),
        )
    )


GRAPH_REKEY_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       TRUE AS links_roundtrip_exact,
       TRUE AS dist_scale_exact,
       TRUE AS entry_roundtrip_exact
FROM embeddings
"""


def q_hnsw_self_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference flagship invariant (hawk_searcher.rs:441-479): every
    indexed vector, searched at k=1, must return itself at distance 0.
    The oracle derives both counts from the embeddings table — recall
    below 100% hash-mismatches."""
    emb, index = _hnsw_index(spark, sf_dir)
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = hnsw.search(index, queries, k=1, metric="l2_sq", params=_HNSW_PARAMS)
    return res.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.when((F.col("query_id") == F.col("vec_id")) & (F.col("dist") == 0), 1).otherwise(0)
        ).alias("n_self_matches"),
    )


HNSW_SELF_RECALL_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_self_matches
FROM embeddings
"""


def q_hnsw_links_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph structural invariants as one checkable row: total node
    count, full layer-0 membership, and the M_max degree bounds that
    connect_bidir must maintain (hawk_searcher.rs:153-176)."""
    emb, index = _hnsw_index(spark, sf_dir)
    links = hnsw.to_links(index)
    m_max0 = _HNSW_PARAMS.get_M_max(0)
    m_max = _HNSW_PARAMS.get_M_max(1)
    bound = F.when(F.col("layer") == 0, F.lit(m_max0)).otherwise(F.lit(m_max))
    over = links.where(F.size("nbrs") > bound)
    l0_nodes = links.where(F.col("layer") == 0).select("src").distinct()
    return (
        index.agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(l0_nodes.agg(F.count(F.lit(1)).alias("_l0")))
        .crossJoin(over.agg(F.count(F.lit(1)).alias("_over")))
        .crossJoin(
            links.agg(F.max("layer").alias("_top"))
        )
        .select(
            "n_vectors",
            (F.col("_l0") == F.col("n_vectors")).alias("layer0_complete"),
            (F.col("_over") == 0).alias("degree_ok"),
            (F.col("_top") >= 1).alias("has_upper_layers"),
        )
    )


HNSW_LINKS_STATS_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors, TRUE AS layer0_complete,
       TRUE AS degree_ok, TRUE AS has_upper_layers
FROM embeddings
"""


def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal loop collapsed to one checkable row: binary
    media table → mapInPandas feature extraction → frame sampling →
    HNSW ANN over the features. synthetic_media emits REAL P6 PPM image
    and 16-bit PCM WAV audio payloads, and extract_features runs the
    real pure-numpy decode + feature paths for those rows (RGB grid +
    histogram; log-power FFT bands + RMS/ZCR); only the video rows fall
    back to the deterministic fake (no codec in this container).

    n_media / n_frames_sampled are EXACTLY derivable from the documents
    table (media metadata is a pure function of doc_id/n_chars), so the
    oracle recomputes them; the booleans assert feature-vector shape,
    unit norm, and ANN self-match@1 over the extracted features."""
    from hawk_pack_spark.functions.distance import norm
    from hawk_pack_spark.multimodal.ops import (
        extract_features,
        frame_sample,
        synthetic_media,
    )

    media = synthetic_media(spark, sf_dir)
    feats = extract_features(media).localCheckpoint()
    fstats = feats.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.count_distinct("kind").alias("n_kinds"),
        ((F.min(F.size("feature")) == 64) & (F.max(F.size("feature")) == 64)).alias(
            "dim_ok"
        ),
        (F.max(F.abs(norm(F.col("feature")) - 1)) < 1e-9).alias("unit_norm_ok"),
    )
    frames = frame_sample(media, every_nth=5).agg(
        F.count(F.lit(1)).alias("n_frames_sampled")
    )
    vecs = feats.select(
        F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    params = HawkParams.new(48, 48, 12)
    # real features form near-duplicate clusters (statistically similar
    # media) — Algorithm 4 neighbor selection keeps the graph connected.
    # Shard count scales with the table (~2.5k vectors per shard graph):
    # a fixed count let per-shard graphs grow 10x at sf1, where one
    # 12.5k-row graph of dense near-dup clusters cost a beam miss.
    n_media_rows = feats.count()
    index = hnsw.build_index(
        vecs, metric="cosine", params=params,
        num_shards=max(4, n_media_rows // 2500),
        neighbor_heuristic=True,
    )
    queries = vecs.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = hnsw.search(index, queries, k=1, metric="cosine", params=params)
    self_ok = ann.agg(
        (
            F.sum(
                F.when(
                    (F.col("query_id") == F.col("vec_id")) & (F.col("dist") < 1e-9), 1
                ).otherwise(0)
            )
            == F.count(F.lit(1))
        ).alias("ann_self_ok")
    )
    return fstats.crossJoin(frames).crossJoin(self_ok).select(
        "n_media", "n_kinds", "dim_ok", "unit_norm_ok", "n_frames_sampled",
        "ann_self_ok",
    )
