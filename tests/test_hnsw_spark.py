"""Spark-level HNSW: sharded build, search, incremental insert, views.

E2E port of the reference's flagship test (hawk_searcher.rs:441-479):
build over u64 codes, search each inserted code, assert self-match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hawk_pack_spark.config import HawkParams
from hawk_pack_spark.operators import hnsw
from hawk_pack_spark.operators.knn_exact import knn_exact
from hawk_pack_spark.sources import load_table
from spark_jobs import (
    PYTHON_SCOPE,
    group_jobs_and_stage_tasks,
    group_stage_scopes,
    run_in_group,
)

PARAMS = HawkParams.new(64, 32, 16)


@pytest.fixture(scope="module")
def code_index(spark):
    codes = spark.range(199).select(
        F.col("id").alias("vec_id"), F.col("id").alias("code")
    )
    return hnsw.build_index(
        codes, metric="hamming", params=PARAMS, num_shards=4, vec_col="code"
    ).cache()


def test_self_recall_spark(spark, code_index):
    queries = spark.range(199).select(
        F.col("id").alias("query_id"), F.col("id").alias("query_vec")
    )
    res = hnsw.search(code_index, queries, k=1, metric="hamming", params=PARAMS)
    rows = res.collect()
    assert len(rows) == 199
    assert all(r.query_id == r.vec_id and r.dist == 0.0 for r in rows)


def test_index_covers_all_vectors(code_index):
    assert code_index.count() == 199
    # every vector appears in layer 0 of the links view
    links = hnsw.to_links(code_index)
    l0 = links.where(F.col("layer") == 0).select("src").distinct().count()
    assert l0 == 199
    eps = hnsw.entry_points(code_index).collect()
    assert len(eps) == 4  # one per shard
    for r in eps:
        assert r.layer >= 0


def test_insert_batch_and_dedup(spark, code_index):
    # duplicates of existing codes must be rejected at threshold 0
    dups = spark.range(50).select(
        (F.col("id") + 1000).alias("vec_id"), F.col("id").alias("code")
    )
    updated = hnsw.insert_batch(
        code_index, dups, metric="hamming", params=PARAMS,
        vec_col="code", match_threshold=0.0,
    )
    assert updated.count() == 199

    # fresh codes are accepted and then findable
    fresh = spark.range(20).select(
        (F.col("id") + 2000).alias("vec_id"),
        (F.col("id") + 500).alias("code"),
    )
    updated2 = hnsw.insert_batch(
        code_index, fresh, metric="hamming", params=PARAMS,
        vec_col="code", match_threshold=0.0,
    ).cache()
    assert updated2.count() == 219

    # the serving-shaped gate makes identical accept/reject decisions
    mixed = dups.unionByName(fresh)
    via_serving = hnsw.insert_batch(
        code_index, mixed, metric="hamming", params=PARAMS,
        vec_col="code", match_threshold=0.0, serving_gate=True,
    )
    assert via_serving.count() == 219
    accepted = {
        r.vec_id for r in via_serving.where(F.col("vec_id") >= 1000).collect()
    }
    assert accepted == {r.vec_id for r in fresh.collect()}
    q = fresh.select(F.col("vec_id").alias("query_id"), F.col("code").alias("query_vec"))
    res = hnsw.search(updated2, q, k=1, metric="hamming", params=PARAMS).collect()
    assert all(r.dist == 0.0 and r.vec_id >= 2000 for r in res)


def test_recall_vs_exact_on_embeddings(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    params = HawkParams.new(64, 64, 16)
    index = hnsw.build_index(emb, metric="l2_sq", params=params, num_shards=4)
    queries = emb.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = hnsw.search(index, queries, k=10, metric="l2_sq", params=params)
    exact = knn_exact(emb, queries, k=10, metric="l2_sq")
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    recall = len(a & e) / len(e)
    assert recall > 0.95, f"recall@10 = {recall}"


def test_shard_routed_search(spark, sf_dir, code_index):
    """IVF-partitioned HNSW: content-sharded build (k-means assignment)
    + routing each query to its nprobe nearest shard centroids must keep
    recall vs the all-shards fan-out — the scale path once shard count
    passes ~hundreds. (With id-hashed shards routing CANNOT prune: every
    shard sees the same distribution; content sharding is what makes the
    centroids informative.)"""
    from hawk_pack_spark.operators.similarity import ivf_build

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    params = HawkParams.new(64, 64, 16)
    assigned, _ = ivf_build(emb, n_clusters=8)
    index = hnsw.build_index(
        emb, metric="l2_sq", params=params, num_shards=8,
        assignments=assigned.select("vec_id", F.col("cluster").alias("shard")),
    ).cache()
    queries = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    full = hnsw.search(index, queries, k=10, metric="l2_sq", params=params)
    routed = hnsw.search(
        index, queries, k=10, metric="l2_sq", params=params,
        num_shards=8, nprobe_shards=4,
    )
    f = {(r.query_id, r.vec_id) for r in full.collect()}
    r = {(r.query_id, r.vec_id) for r in routed.collect()}
    recall = len(f & r) / len(f)
    # 0.70 matches the catalog ivf_ann_l2 row's oracle-checked gate. The
    # old 0.75 was calibrated against the pyspark.ml fit, whose unbalanced
    # cells (487/500 rows in 5 of 8 cells, two singletons) made nprobe=4
    # scan nearly the whole corpus — recall bought with no real pruning.
    # The r12 driver-side fit is balanced (lower inertia), so 4-of-8
    # probing genuinely reads ~half the rows: measured 0.73, deterministic
    # (fixed fixture + seed) on the iid fixture, the hard case for
    # space partitioning.
    assert recall > 0.70, f"routed recall vs full fan-out = {recall}"
    # the query's own cell is always its nearest centroid, so the
    # self-match must survive routing
    self_rows = routed.where(
        (F.col("query_id") == F.col("vec_id")) & (F.col("rank") == 1)
    ).count()
    assert self_rows == 30

    # hamming routing path (bit-majority centroids): plumbing returns
    # a full result set per query
    cq = spark.range(60).select(
        F.col("id").alias("query_id"), F.col("id").alias("query_vec")
    )
    routed_h = hnsw.search(
        code_index, cq, k=1, metric="hamming", params=PARAMS, nprobe_shards=2,
    )
    assert routed_h.count() == 60


def test_index_persistence_roundtrip(spark, code_index, tmp_path):
    from hawk_pack_spark.sources.graph_io import load_index, num_layers, save_index

    path = str(tmp_path / "idx")
    save_index(code_index, path)
    back = load_index(spark, path)
    assert back.count() == code_index.count()
    queries = spark.range(10).select(
        F.col("id").alias("query_id"), F.col("id").alias("query_vec")
    )
    a = hnsw.search(back, queries, k=1, metric="hamming", params=PARAMS).collect()
    assert all(r.dist == 0.0 and r.query_id == r.vec_id for r in a)
    links = hnsw.to_links(back)
    assert num_layers(links) >= 1

    # JDBC export is a no-op without a configured endpoint
    from hawk_pack_spark.sources.graph_io import export_links_jdbc

    assert export_links_jdbc(links) is False


def test_cosine_metric_index(spark, sf_dir):
    """Metric is a parameter (store-defined distance, traits.rs): the
    same build/search machinery must run with cosine."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    params = HawkParams.new(32, 32, 8)
    index = hnsw.build_index(emb, metric="cosine", params=params, num_shards=2)
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = hnsw.search(index, queries, k=1, metric="cosine", params=params).collect()
    assert len(res) == 10
    for r in res:
        assert r.query_id == r.vec_id and abs(r.dist) < 1e-9


def test_search_empty_index(spark):
    """Empty DB → empty result, not an error (search_init's empty-DB
    contract, hawk_searcher.rs:192-208)."""
    empty = spark.createDataFrame([], hnsw.INDEX_SCHEMA)
    queries = spark.range(3).select(
        F.col("id").alias("query_id"), F.col("id").alias("query_vec")
    )
    out = hnsw.search(empty, queries, k=5, metric="hamming", params=PARAMS)
    assert out.count() == 0


def test_delete_from_index(spark):
    """Deletion is exact and immediate: deleted ids vanish from rows AND
    from every neighbor list; surviving vectors stay searchable."""
    from pyspark.sql import functions as F

    from hawk_pack_spark.config import HawkParams
    from hawk_pack_spark.operators import hnsw

    params = HawkParams.new(32, 16, 8)
    codes = spark.range(80).select(
        F.col("id").alias("vec_id"), (F.col("id") * 3).alias("code")
    )
    index = hnsw.build_index(
        codes, metric="hamming", params=params, num_shards=2, vec_col="code"
    ).localCheckpoint()
    dels = spark.range(0, 80, 5).select(F.col("id").alias("vec_id"))  # 16 ids
    pruned = hnsw.delete_from_index(index, dels, metric="hamming", params=params).localCheckpoint()
    assert pruned.count() == 64
    # no deleted id survives in any adjacency list
    dangling = (
        pruned.select(F.explode("e_dst").alias("dst"))
        .join(dels.select(F.col("vec_id").alias("dst")), "dst", "left_semi")
        .count()
    )
    assert dangling == 0
    # survivors remain searchable with exact self-recall
    queries = (
        spark.range(1, 80, 9)
        .where(F.col("id") % 5 != 0)  # survivors only
        .select(F.col("id").alias("query_id"), (F.col("id") * 3).alias("query_vec"))
    )
    res = hnsw.search(pruned, queries, k=1, metric="hamming", params=params).collect()
    assert len(res) == 7
    assert all(r.query_id == r.vec_id and r.dist == 0.0 for r in res)
    # deleted vectors never appear in results, even as near misses
    del_queries = dels.select(
        F.col("vec_id").alias("query_id"), (F.col("vec_id") * 3).alias("query_vec")
    )
    hits = hnsw.search(pruned, del_queries, k=3, metric="hamming", params=params)
    overlap = hits.join(
        dels.select(F.col("vec_id")), "vec_id", "left_semi"
    ).count()
    assert overlap == 0


def test_delete_runs_one_python_stage(spark, tmp_path):
    """`delete_from_index` is ONE Python stage over the touched shards
    (the per-shard repair kernel) plus JVM-side work, and takes no
    checkpoint: over an index read from parquet (a lineage with no
    Python and no checkpoint), the job group of the delete and the
    collect of its result runs one stage with a Python operator and
    none that reads or writes a checkpoint."""
    params = HawkParams.new(32, 16, 8)
    codes = spark.range(120).select(
        F.col("id").alias("vec_id"), (F.col("id") * 7).alias("code")
    )
    path = str(tmp_path / "index")
    hnsw.build_index(
        codes, metric="hamming", params=params, num_shards=4, vec_col="code"
    ).write.parquet(path)
    index = spark.read.parquet(path)
    dels = spark.range(0, 60, 7).select(F.col("id").alias("vec_id"))
    sc = spark.sparkContext
    rows = run_in_group(sc, "delete-stages", lambda: hnsw.delete_from_index(
        index, dels, metric="hamming", params=params
    ).collect())
    assert len(rows) == 120 - 9
    scopes = group_stage_scopes(sc, "delete-stages")
    python = [s for s in scopes if any(PYTHON_SCOPE.search(n) for n in s)]
    assert len(python) == 1, scopes
    assert not any("checkpoint" in n for s in scopes for n in s), scopes


def test_delete_bridge_keeps_stored_duplicate_edge(spark):
    """A bridge that duplicates an edge its survivor already stores
    keeps the STORED distance, at any input partitioning. On the line
    0..5 (l2_sq), node 0 stores 0 → 2 one ulp above its fold distance
    4.0; deleting 1 bridges 0 → 1 → 2 onto that same edge, so a
    first-copy-wins dedup over a shuffle would keep either 4.0 or the
    stored value depending on row order."""
    from hawk_pack_spark.operators.hnsw import INDEX_SCHEMA

    params = HawkParams.new(32, 16, 8)
    stored = float(np.nextafter(4.0, np.inf))
    adj = {0: [(1, 1.0), (2, stored)], 1: [(0, 1.0), (2, 1.0)],
           2: [(1, 1.0), (3, 1.0)], 3: [(2, 1.0), (4, 1.0)],
           4: [(3, 1.0), (5, 1.0)], 5: [(4, 1.0)]}
    index = spark.createDataFrame(
        [(0, v, 0, None, [float(v), 0.0], [0] * len(es), [t for t, _ in es],
          [d for _, d in es]) for v, es in adj.items()],
        INDEX_SCHEMA,
    )
    dels = spark.createDataFrame([(1,)], "vec_id long")

    def rows(frame):
        out = hnsw.delete_from_index(frame, dels, metric="l2_sq", params=params)
        return sorted(
            (r.vec_id, tuple(r.e_dst), tuple(r.e_dist)) for r in out.collect()
        )

    one = rows(index.coalesce(1))
    assert one == rows(index.repartition(4))
    got = {v: (dst, dist) for v, dst, dist in one}
    assert got[0] == ((2,), (stored,))
    assert got[2] == ((3, 0), (1.0, 4.0))  # the new bridge 2 → 0 is scored
    assert got[3] == ((2, 4), (1.0, 1.0))  # no edge into 1: as stored


def test_balance_assignments_splits_hot_cells(spark, sf_dir):
    """Content cells are uneven (k-means); a kernel task owns a whole
    shard, so hot cells must split into sub-shards before the build.
    Balance, then verify cell-size bound, index integrity, and routed
    search on the balanced index."""
    from hawk_pack_spark.operators.similarity import ivf_build

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    n = emb.count()
    # degenerate assignment: everything in cell 0 except a few rows
    skewed = emb.select(
        "vec_id", F.when(F.col("vec_id") < 5, 1).otherwise(0).cast("int").alias("shard")
    )
    balanced = hnsw.balance_assignments(skewed, max_cell=100)
    sizes = {r.shard: r.cnt for r in balanced.groupBy("shard").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    assert max(sizes.values()) <= 160, sizes  # hash salting ~uniform
    assert sum(sizes.values()) == n
    # original hot cell id vacated, members redistributed beyond max id
    assert 0 not in sizes

    params = HawkParams.new(64, 64, 16)
    index = hnsw.build_index(
        emb, metric="l2_sq", params=params,
        num_shards=len(sizes), assignments=balanced,
    ).cache()
    assert index.count() == n
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    routed = hnsw.search(
        index, queries, k=5, metric="l2_sq", params=params, nprobe_shards=4
    )
    rows = routed.collect()
    assert len(rows) == 100
    # sub-shards of the split cell are spatially interchangeable, so the
    # self row must still be routable (its sub-shard centroid is as
    # close as any sibling's)
    self_hits = sum(1 for r in rows if r.query_id == r.vec_id and r.dist == 0.0)
    assert self_hits >= 16, self_hits


def test_search_serving_matches_cogroup(spark, sf_dir, code_index):
    """The serving path (broadcast queries + mapInPandas over the
    unmoved index, driver-side centroid routing) must return the same
    results as the cogroup path at the same nprobe — it is the same
    per-shard kernel search reached with zero index shuffle."""
    from hawk_pack_spark.operators.similarity import ivf_build

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    params = HawkParams.new(64, 64, 16)
    assigned, _ = ivf_build(emb, n_clusters=8)
    index = hnsw.build_index(
        emb, metric="l2_sq", params=params, num_shards=8,
        assignments=assigned.select("vec_id", F.col("cluster").alias("shard")),
    ).localCheckpoint()
    queries = emb.where(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = hnsw.shard_centroids(index, "l2_sq").collect()
    a = hnsw.search(
        index, queries, k=10, metric="l2_sq", params=params,
        num_shards=8, nprobe_shards=4,
    ).collect()
    b = hnsw.search_serving(
        index, queries, k=10, metric="l2_sq", params=params,
        nprobe_shards=4, centroids=cents,
    ).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in a} == {
        (r.query_id, r.vec_id, r.rank) for r in b
    }
    # fan-out form (no routing) agrees too
    c = hnsw.search_serving(
        index, queries, k=10, metric="l2_sq", params=params
    ).collect()
    d = hnsw.search(
        index, queries, k=10, metric="l2_sq", params=params, num_shards=8
    ).collect()
    assert {(r.query_id, r.vec_id) for r in c} == {
        (r.query_id, r.vec_id) for r in d
    }

    # hamming serving path must agree with the cogroup router at equal
    # nprobe (id-hashed shards make bit-majority routing uninformative,
    # so self-recall is NOT guaranteed here — agreement is the contract)
    hq = spark.range(0, 199, 9).select(
        F.col("id").alias("query_id"), F.col("id").alias("query_vec")
    )
    hc = hnsw.shard_centroids(code_index, "hamming").collect()
    e = hnsw.search_serving(
        code_index, hq, k=1, metric="hamming", params=PARAMS,
        nprobe_shards=2, centroids=hc,
    ).collect()
    f = hnsw.search(
        code_index, hq, k=1, metric="hamming", params=PARAMS,
        num_shards=4, nprobe_shards=2,
    ).collect()
    assert len(e) == 23
    assert {(r.query_id, r.vec_id, r.dist) for r in e} == {
        (r.query_id, r.vec_id, r.dist) for r in f
    }


def test_serving_search_from_disk_prunes_partitions(spark, tmp_path):
    """The 100 TB serving flow: index saved as shard-partitioned parquet,
    reloaded, searched via the serving path. The routed shard filter
    must reach the scan as a PARTITION filter (only probed shards' file
    groups are read — per-query I/O tracks nprobe, not index size), and
    results must match the in-memory serving search exactly."""
    import contextlib
    import io

    from hawk_pack_spark.sources.graph_io import load_index, save_index

    params = HawkParams.new(32, 16, 8)
    codes = spark.range(500).select(
        F.col("id").alias("vec_id"), (F.col("id") * 37).alias("code")
    )
    mem = hnsw.build_index(
        codes, metric="hamming", params=params, num_shards=8, vec_col="code"
    ).localCheckpoint()
    path = str(tmp_path / "idx")
    save_index(mem, path)
    disk = load_index(spark, path)

    # partition pruning fires for a routed shard subset
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        disk.where(F.col("shard").isin([1, 3])).explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    assert any(
        "PartitionFilters" in line and "shard" in line and "IN (1,3)" in line
        for line in buf.getvalue().splitlines()
    ), buf.getvalue()

    queries = spark.range(0, 500, 21).select(
        F.col("id").alias("query_id"), (F.col("id") * 37).alias("query_vec")
    )
    cents = hnsw.shard_centroids(mem, "hamming").collect()
    got_disk = hnsw.search_serving(
        disk, queries, k=3, metric="hamming", params=params,
        nprobe_shards=3, centroids=cents,
    ).collect()
    got_mem = hnsw.search_serving(
        mem, queries, k=3, metric="hamming", params=params,
        nprobe_shards=3, centroids=cents,
    ).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in got_disk} == {
        (r.query_id, r.vec_id, r.rank) for r in got_mem
    }
    # well-formed per-query results through the disk path (id-hashed
    # shards make bit-majority routing uninformative, so SELF-recall is
    # not guaranteed at nprobe<num_shards — disk≡memory equality above
    # is the contract)
    per_q: dict[int, int] = {}
    for r in got_disk:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert len(per_q) == 24 and all(v == 3 for v in per_q.values())


def test_insert_into_content_sharded_index_routes_by_centroid(spark, sf_dir):
    """Inserting into a content-sharded (IVF-cell) index must place new
    vectors in their NEAREST cell — id-hash placement would strand them
    in cells that don't match their content and routed searches would
    miss them. Done right, the inserted vectors are findable through
    nprobe routing at self-recall."""
    from hawk_pack_spark.operators.similarity import ivf_build

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    params = HawkParams.new(64, 64, 16)
    assigned, _ = ivf_build(emb, n_clusters=8)
    index = hnsw.build_index(
        emb, metric="l2_sq", params=params, num_shards=8,
        assignments=assigned.select("vec_id", F.col("cluster").alias("shard")),
    ).localCheckpoint()
    cents = hnsw.shard_centroids(index, "l2_sq").collect()

    # new vectors = perturbed copies of existing ones (stay inside the
    # data distribution so their nearest cell is meaningful)
    base = emb.where(F.col("vec_id") < 20)
    newv = base.select(
        (F.col("vec_id") + 100_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(1e-4)).alias("embedding"),
    )
    updated = hnsw.insert_batch(
        index, newv, metric="l2_sq", params=params, centroids=cents,
    ).localCheckpoint()
    assert updated.count() == emb.count() + 20

    # placement: every inserted vector sits in its nearest centroid's cell
    placed = {r.vec_id: r.shard for r in updated.where(
        F.col("vec_id") >= 100_000
    ).select("vec_id", "shard").collect()}
    import numpy as np
    cmat = np.array([np.asarray(r[1]) for r in sorted(cents, key=lambda r: r[0])])
    cshard = [r[0] for r in sorted(cents, key=lambda r: r[0])]
    for r in newv.collect():
        v = np.asarray(r.embedding)
        want = cshard[int(np.argmin(((cmat - v) ** 2).sum(1)))]
        assert placed[r.vec_id] == want, (r.vec_id, placed[r.vec_id], want)

    # findable THROUGH ROUTING at k=1 (their cell is their nearest centroid)
    q = newv.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    new_cents = hnsw.shard_centroids(updated, "l2_sq").collect()
    got = hnsw.search_serving(
        updated, q, k=1, metric="l2_sq", params=params,
        nprobe_shards=2, centroids=new_cents,
    ).collect()
    assert len(got) == 20
    assert all(r.query_id == r.vec_id and r.dist == 0.0 for r in got)


def test_search_serving_edges(spark, code_index):
    """Serving-path edge contracts: empty index → empty result (the
    search_init empty-DB rule); nprobe ≥ num_shards degenerates to the
    fan-out result; empty query batch → empty result."""
    empty = spark.createDataFrame([], hnsw.INDEX_SCHEMA)
    queries = spark.range(3).select(
        F.col("id").alias("query_id"), F.col("id").alias("query_vec")
    )
    assert hnsw.search_serving(
        empty, queries, k=5, metric="hamming", params=PARAMS
    ).count() == 0

    hc = hnsw.shard_centroids(code_index, "hamming").collect()
    over = hnsw.search_serving(
        code_index, queries, k=3, metric="hamming", params=PARAMS,
        nprobe_shards=99, centroids=hc,
    ).collect()
    fan = hnsw.search_serving(
        code_index, queries, k=3, metric="hamming", params=PARAMS
    ).collect()
    assert {(r.query_id, r.vec_id) for r in over} == {
        (r.query_id, r.vec_id) for r in fan
    }

    none = queries.where(F.col("query_id") < 0)
    assert hnsw.search_serving(
        code_index, none, k=3, metric="hamming", params=PARAMS
    ).count() == 0


def test_search_serving_cosine_routing_matches_cogroup(spark, sf_dir):
    """ADVICE r4 (medium): serving's driver-side centroid routing must
    dispatch on metric — cosine-routed serving must agree with the
    cosine cogroup router at equal nprobe (same fold associativity, so
    near-tie centroids route identically), and unsupported routing
    metrics must raise instead of silently routing by L2 geometry."""
    from hawk_pack_spark.operators.similarity import ivf_build

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    params = HawkParams.new(64, 64, 16)
    assigned, _ = ivf_build(emb, n_clusters=8)
    index = hnsw.build_index(
        emb, metric="cosine", params=params, num_shards=8,
        assignments=assigned.select("vec_id", F.col("cluster").alias("shard")),
    ).localCheckpoint()
    queries = emb.where(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = hnsw.shard_centroids(index, "cosine").collect()
    a = hnsw.search(
        index, queries, k=10, metric="cosine", params=params,
        num_shards=8, nprobe_shards=3,
    ).collect()
    b = hnsw.search_serving(
        index, queries, k=10, metric="cosine", params=params,
        nprobe_shards=3, centroids=cents,
    ).collect()
    assert len(b) == len(a) > 0
    assert {(r.query_id, r.vec_id, r.rank) for r in a} == {
        (r.query_id, r.vec_id, r.rank) for r in b
    }
    with pytest.raises(NotImplementedError, match="routing"):
        hnsw.search_serving(
            index, queries, k=10, metric="dot", params=params,
            nprobe_shards=3, centroids=cents,
        )


def test_serving_search_split_shard_raises_clear_error(spark):
    """ADVICE r4: an index whose partitions split shards (e.g. parquet
    file-split partitions without a repartition) must fail with an
    actionable error naming the whole-shard requirement, not an opaque
    KeyError from the kernel."""
    params = HawkParams.new(32, 16, 8)
    codes = spark.range(400).select(
        F.col("id").alias("vec_id"), (F.col("id") * 37).alias("code")
    )
    mem = hnsw.build_index(
        codes, metric="hamming", params=params, num_shards=2, vec_col="code"
    ).localCheckpoint()
    broken = mem.repartition(6)  # round-robin: every partition splits shards
    queries = spark.range(3).select(
        F.col("id").alias("query_id"), (F.col("id") * 37).alias("query_vec")
    )
    with pytest.raises(Exception, match="whole shard"):
        hnsw.search_serving(
            broken, queries, k=3, metric="hamming", params=params
        ).collect()


def test_search_serving_runs_one_python_task_per_core(spark):
    """The serving scan is coalesced to defaultParallelism partitions:
    over a 15-shard index on local[4], the search runs as ONE stage (the
    Python mapInArrow scan; the top-k merge happens on the driver, so
    there is no Window shuffle stage) of at most 4 tasks, not one per
    shard partition, and results are unchanged. The search runs when
    `search_serving` is called, so the job group wraps the call; the
    query batch is a pandas-built local frame, whose collect runs no job."""
    params = HawkParams.new(32, 16, 8)
    codes = spark.range(600).select(
        F.col("id").alias("vec_id"), (F.col("id") * 37).alias("code")
    )
    index = hnsw.build_index(
        codes, metric="hamming", params=params, num_shards=15, vec_col="code"
    ).localCheckpoint()
    assert index.rdd.getNumPartitions() == 15
    q_ids = np.arange(0, 600, 13, dtype=np.int64)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": q_ids, "query_vec": q_ids * 37})
    )
    sc = spark.sparkContext
    assert sc.defaultParallelism == 4
    group = "test-serving-task-count"
    sc.setJobGroup(group, "search_serving task count")
    try:
        rows = hnsw.search_serving(
            index, queries, k=3, metric="hamming", params=params
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _, tasks = group_jobs_and_stage_tasks(sc, group)
    assert len(tasks) == 1, tasks
    assert tasks[0] <= 4, tasks
    assert all(
        r.vec_id == r.query_id and r.dist == 0.0 for r in rows if r.rank == 1
    )
    assert len(rows) == 3 * len(q_ids)


def test_search_serving_breaks_cross_shard_ties_by_vec_id(spark):
    """Copies of one point spread over several shards all tie at one
    distance. With the k cut inside the tie, the per-task top-k and the
    driver-side merge must keep the lowest vec_ids: the same rows as the
    cogroup search's Window merge and an exact numpy reference. The
    result types are the Window merge's for empty and non-empty batches."""
    points = np.array(
        [[0] * 8, [255] * 8, [10, 200, 37, 99, 128, 5, 250, 64]], dtype=np.float64
    )
    dups, k = 12, 5
    ids = np.random.default_rng(3).permutation(len(points) * dups)
    data = points[np.arange(len(ids)) // dups]  # row j copies point j // dups
    vecs = spark.createDataFrame(
        [(int(v), data[j].tolist()) for j, v in enumerate(ids)],
        "vec_id long, embedding array<double>",
    )
    params = HawkParams.new(64, 64, 8)  # ef covers a whole shard
    index = hnsw.build_index(
        vecs, metric="l2_sq", params=params, num_shards=4
    ).localCheckpoint()
    shard_of = dict(index.select("vec_id", "shard").collect())
    for p in range(len(points)):
        assert len({shard_of[int(v)] for v in ids[p * dups:(p + 1) * dups]}) > 1
    # one query on each point (distance 0) and one off it (distance 2.0)
    q_data = np.vstack([points, points + 0.5])
    queries = spark.createDataFrame(
        [(i, q.tolist()) for i, q in enumerate(q_data)],
        "query_id long, query_vec array<double>",
    )
    want = set()
    for i, q in enumerate(q_data):
        d = ((data - q) ** 2).sum(axis=1)
        for r, j in enumerate(np.lexsort((ids, d))[:k]):
            want.add((i, int(ids[j]), float(d[j]), r + 1))
    served = hnsw.search_serving(index, queries, k=k, params=params)
    cogroup = hnsw.search(index, queries, k=k, params=params)
    assert {tuple(r) for r in served.collect()} == want
    assert {tuple(r) for r in cogroup.collect()} == want
    types = [("query_id", "bigint"), ("vec_id", "bigint"), ("dist", "double"),
             ("rank", "int")]
    assert served.dtypes == cogroup.dtypes == types
    none = queries.where(F.col("query_id") < 0)
    assert hnsw.search_serving(index, none, k=k, params=params).dtypes == types


def test_search_serving_bounds_driver_collect(spark, code_index, monkeypatch):
    """search_serving collects its query batch through the same bounded
    helper as ann_search and raises a ValueError naming the bound when
    the batch overflows it (the pq searches' contract)."""
    monkeypatch.setattr(hnsw, "MAX_DRIVER_QUERIES", 5)
    queries = spark.range(6).select(
        F.col("id").alias("query_id"), F.col("id").alias("query_vec")
    )
    with pytest.raises(ValueError, match="max_driver_queries=5"):
        hnsw.search_serving(
            code_index, queries, k=3, metric="hamming", params=PARAMS
        )
    got = hnsw.search_serving(
        code_index, queries.limit(5), k=1, metric="hamming", params=PARAMS
    ).collect()
    assert sorted(r.query_id for r in got) == list(range(5))


def test_choose_ann_path_pins_measured_crossover():
    """The dispatch rule must reproduce every measured point of the
    1M/2M/10M ladder (NOTES r4/r5): full-union batches flip on routed
    queries per probed shard, selective probes always serve, and
    unrouted callers keep the 1M batch-size rule."""
    # unrouted (full fan-out) callers: the 1M-fit batch-size rule
    assert hnsw.choose_ann_path(500, 1.0) == "serving"
    assert hnsw.choose_ann_path(50, 1.0) == "blas"     # the 3.4x loss case
    assert hnsw.choose_ann_path(220, 1.0) == "serving"  # measured midpoint
    assert hnsw.choose_ann_path(219, 1.0) == "blas"
    assert hnsw.choose_ann_path(50, 0.1) == "serving"   # partition-pruned I/O
    assert hnsw.choose_ann_path(1, 0.35) == "serving"
    # routed, full-union: every measured ladder point
    q = dict(probed_fraction=1.0)
    # 1M/266 shards, 500q, nprobe 16 → 30 q/shard; serving 4.2s vs 8.1s
    assert hnsw.choose_ann_path(500, queries_per_probed_shard=30.0, **q) == "serving"
    # 2M/520, 500q, nprobe 16 → 15.4; serving 7.5s vs 10.4s
    assert hnsw.choose_ann_path(500, queries_per_probed_shard=15.4, **q) == "serving"
    # 10M/2730, 500q, nprobe 32 → 5.9; serving 44.6s vs BLAS 22.3s
    assert hnsw.choose_ann_path(500, queries_per_probed_shard=5.9, **q) == "blas"
    # 1M/266, 50q, nprobe 16 → 3.0; serving 3.3s vs BLAS 0.97s
    assert hnsw.choose_ann_path(50, queries_per_probed_shard=3.0, **q) == "blas"
    # 10M/2730, 50q, nprobe 32 → 0.59 BUT probed fraction 0.59 > 0.35:
    # still the amortization rule → blas (measured 32.7s vs 3.7s)
    assert hnsw.choose_ann_path(
        50, probed_fraction=0.59, queries_per_probed_shard=0.99
    ) == "blas"
    # selective probes dominate — serving even at 1 q/shard — but ONLY
    # when the scan can prune (file-backed index); a monolithic
    # in-memory frame pays the full scan regardless (measured at 10M:
    # selective 10q serving 26.8s vs BLAS 3.4s) → amortization rule
    assert hnsw.choose_ann_path(
        10, probed_fraction=0.05, queries_per_probed_shard=1.0
    ) == "serving"
    assert hnsw.choose_ann_path(
        10, probed_fraction=0.05, queries_per_probed_shard=1.0,
        pruned_scan=False,
    ) == "blas"


def test_ann_search_front_door_dispatches_and_matches(spark, sf_dir, tmp_path):
    """ann_search must (a) pick BLAS for a small full-fan batch and
    return the exact scan's rows, (b) pick serving for a selective probe
    over a FILE-BACKED (prunable) index and return the serving path's
    rows — while the same selective probe over a monolithic in-memory
    index falls through to the amortization rule (→ blas; the measured
    10M physics: `shard IN` cannot prune an in-memory scan), (c) honor
    force, (d) always serve non-l2 metrics."""
    from hawk_pack_spark.operators.similarity import ivf_build, l2_topk_numpy

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).cache()
    params = HawkParams.new(64, 64, 16)
    assigned, _ = ivf_build(emb, n_clusters=8)
    index = hnsw.build_index(
        emb, metric="l2_sq", params=params, num_shards=8,
        assignments=assigned.select("vec_id", F.col("cluster").alias("shard")),
    ).localCheckpoint()
    cents = hnsw.shard_centroids(index, "l2_sq").collect()
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    # (a) small batch, no routing -> blas, exact rows
    dec: dict = {}
    got = hnsw.ann_search(
        index, queries, k=10, metric="l2_sq", params=params, decision_out=dec
    )
    assert dec["path"] == "blas" and dec["probed_fraction"] == 1.0
    want = l2_topk_numpy(emb, queries, k=10)
    assert {(r.query_id, r.vec_id, r.rank) for r in got.collect()} == {
        (r.query_id, r.vec_id, r.rank) for r in want.collect()
    }

    # (b) selective probe: clone queries all route to the same 2 of 8
    # shards (probed fraction 0.25 <= 0.35). Over the file-backed index
    # the filter prunes partitions -> serving, same rows; over the
    # in-memory monolith the shortcut is off -> amortization rule (blas)
    from hawk_pack_spark.sources.graph_io import load_index, save_index

    save_index(index, str(tmp_path / "front_door_idx"))
    disk = load_index(spark, str(tmp_path / "front_door_idx"))
    v0 = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    clones = spark.createDataFrame(
        [(i, v0) for i in range(5)], "query_id long, query_vec array<double>"
    )
    dec = {}
    got_s = hnsw.ann_search(
        disk, clones, k=10, metric="l2_sq", params=params,
        nprobe_shards=2, centroids=cents, decision_out=dec,
    )
    assert dec["path"] == "serving" and dec["probed_fraction"] == 0.25
    want_s = hnsw.search_serving(
        index, clones, k=10, metric="l2_sq", params=params,
        nprobe_shards=2, centroids=cents,
    )
    assert {(r.query_id, r.vec_id, r.rank) for r in got_s.collect()} == {
        (r.query_id, r.vec_id, r.rank) for r in want_s.collect()
    }
    dec = {}
    got_m = hnsw.ann_search(
        index, clones, k=10, metric="l2_sq", params=params,
        nprobe_shards=2, centroids=cents, decision_out=dec,
    )
    assert dec["path"] == "blas"  # in-memory: q/shard 5 < 8, no pruning
    want_m = l2_topk_numpy(emb, clones, k=10)
    assert {(r.query_id, r.vec_id, r.rank) for r in got_m.collect()} == {
        (r.query_id, r.vec_id, r.rank) for r in want_m.collect()
    }

    # (c) force pins the losing path
    dec = {}
    hnsw.ann_search(
        index, queries, k=10, metric="l2_sq", params=params,
        force="serving", decision_out=dec,
    )
    assert dec["path"] == "serving"

    # (d) non-l2 metrics have no BLAS contrast -> serving even at batch 1
    cos_index = hnsw.build_index(
        emb, metric="cosine", params=params, num_shards=8,
        assignments=assigned.select("vec_id", F.col("cluster").alias("shard")),
    ).localCheckpoint()
    dec = {}
    hnsw.ann_search(
        cos_index, queries.limit(1), k=5, metric="cosine", params=params,
        decision_out=dec,
    )
    assert dec["path"] == "serving"

    # empty batch -> empty result, stable schema
    none = queries.where(F.col("query_id") < 0)
    out = hnsw.ann_search(index, none, k=5, metric="l2_sq", params=params)
    assert out.count() == 0 and out.columns == ["query_id", "vec_id", "dist", "rank"]


def test_ann_search_memoizes_serving_metadata(spark, sf_dir, monkeypatch):
    """VERDICT r5 #1: the front door must not pay a per-call O(n)
    centroid scan or plan probe. With no centroid cache passed, the
    first `ann_search` computes centroids ONCE and memoizes them on the
    index handle; subsequent calls (and `search_serving` fallbacks)
    reuse them. The prunability probe is likewise memoized, and an
    injected cache value steers the dispatch (proving the cached bit is
    what decides, not a fresh probe)."""
    from hawk_pack_spark.operators import hnsw as H

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    params = HawkParams.new(64, 64, 16)
    index = hnsw.build_index(
        emb, metric="l2_sq", params=params, num_shards=4
    ).localCheckpoint()
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    calls = {"n": 0}
    real = H.shard_centroids

    def counting(df, metric="l2_sq"):
        calls["n"] += 1
        return real(df, metric)

    monkeypatch.setattr(H, "shard_centroids", counting)
    for _ in range(3):
        hnsw.ann_search(
            index, queries, k=5, metric="l2_sq", params=params, nprobe_shards=2
        ).count()
    assert calls["n"] == 1  # memoized on the index handle after first call
    cache = hnsw._df_cache(index)
    assert ("centroids", "l2_sq") in cache and "pruned_scan" in cache
    assert cache["pruned_scan"] is False  # localCheckpointed: not prunable

    # injected prunability flips the selective shortcut on (clone batch
    # routes to 1 of 4 shards = selective) — dispatch reads the cache
    v0 = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    clones = spark.createDataFrame(
        [(i, v0) for i in range(3)], "query_id long, query_vec array<double>"
    )
    dec: dict = {}
    cache["pruned_scan"] = True
    hnsw.ann_search(
        index, clones, k=5, metric="l2_sq", params=params,
        nprobe_shards=1, decision_out=dec,
    ).count()
    assert dec["path"] == "serving" and calls["n"] == 1


def test_ann_search_large_batch_falls_back_to_cogroup(spark, sf_dir):
    """VERDICT r5 #7: a query DataFrame above max_driver_queries must
    NOT be materialized on the driver — the front door degrades to the
    fully-distributed cogroup `search` path with identical results."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    params = HawkParams.new(64, 64, 16)
    index = hnsw.build_index(
        emb, metric="l2_sq", params=params, num_shards=4
    ).localCheckpoint()
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dec: dict = {}
    got = hnsw.ann_search(
        index, queries, k=5, metric="l2_sq", params=params,
        max_driver_queries=7, decision_out=dec,
    )
    assert dec["path"] == "cogroup"
    want = hnsw.search(index, queries, k=5, metric="l2_sq", params=params)
    assert {(r.query_id, r.vec_id, r.rank) for r in got.collect()} == {
        (r.query_id, r.vec_id, r.rank) for r in want.collect()
    }


def test_staged_vs_unioned_insert_equivalent(spark):
    """Concurrent/overlapping insert semantics (VERDICT r4 #6): two
    staged batches pushed through `insert_batch` in SEQUENCE and the
    same rows pushed as ONE union must yield equivalent graphs. The
    reference's async searcher admits interleaved insert tasks
    (hawk_searcher.rs tokio tests; coroutine.rs:21-39 spawned tasks)
    whose final graphs differ edge-wise by arrival order but agree on
    the invariants that make the index correct: the same accepted
    vector set (the dedup gate is order-insensitive for exact dups),
    per-(node, layer) degree bounds, and full self-recall. Spark's
    native mode is micro-batch-serial per shard; this pins that two
    staged micro-batches can't lose rows, double-accept a duplicate,
    or break the graph relative to the single-batch plan."""
    params = HawkParams.new(32, 16, 8)
    codes = spark.range(150).select(
        F.col("id").alias("vec_id"), (F.col("id") * 5).alias("code")
    )
    base = hnsw.build_index(
        codes, metric="hamming", params=params, num_shards=3, vec_col="code"
    ).localCheckpoint()

    # batch A: fresh codes. batch B: fresh codes + one exact dup of an
    # A-code (id 2050 dups code 1525) + one exact dup of a BASE code.
    a = spark.range(20).select(
        (F.col("id") + 1000).alias("vec_id"), (F.col("id") * 5 + 1501).alias("code")
    )
    b = spark.range(20).select(
        (F.col("id") + 2000).alias("vec_id"), (F.col("id") * 5 + 1601).alias("code")
    ).unionByName(
        spark.createDataFrame([(2050, 1526), (2051, 25)], "vec_id long, code long")
    )

    seq = hnsw.insert_batch(
        hnsw.insert_batch(
            base, a, metric="hamming", params=params, vec_col="code",
            match_threshold=0.0,
        ).localCheckpoint(),
        b, metric="hamming", params=params, vec_col="code", match_threshold=0.0,
    ).localCheckpoint()
    union = hnsw.insert_batch(
        base, a.unionByName(b), metric="hamming", params=params,
        vec_col="code", match_threshold=0.0,
    ).localCheckpoint()

    # 1) identical accepted vector sets: nothing lost, dups (2050 dups an
    # A-row, 2051 dups a base row) rejected on BOTH paths
    seq_ids = {r.vec_id for r in seq.select("vec_id").collect()}
    uni_ids = {r.vec_id for r in union.select("vec_id").collect()}
    assert seq_ids == uni_ids
    assert 2050 not in seq_ids and 2051 not in seq_ids
    assert len(seq_ids) == 150 + 20 + 20  # A-codes 1501.. vs B-codes 1601.. disjoint

    # 2) degree bounds hold on both graphs at every layer
    for idx in (seq, union):
        deg = (
            idx.select(
                "vec_id",
                F.explode(F.arrays_zip("e_layer", "e_dst")).alias("e"),
            )
            .groupBy("vec_id", F.col("e.e_layer").alias("layer"))
            .count()
        )
        over = deg.where(
            F.col("count")
            > F.when(F.col("layer") == 0, params.get_M_max(0)).otherwise(
                params.get_M_max(1)
            )
        ).count()
        assert over == 0

    # 3) full self-recall of every accepted new vector through BOTH graphs
    q = (
        a.unionByName(b)
        .join(spark.createDataFrame([(2050,), (2051,)], "vec_id long"),
              "vec_id", "left_anti")
        .select(F.col("vec_id").alias("query_id"), F.col("code").alias("query_vec"))
    )
    for idx in (seq, union):
        res = hnsw.search(idx, q, k=1, metric="hamming", params=params).collect()
        assert len(res) == 40
        assert all(r.query_id == r.vec_id and r.dist == 0.0 for r in res)


def test_rebuild_shards_restores_churned_graph(spark):
    """Churn maintenance: bridge-repair deletes densify survivors to
    the M_max ceiling (the measured churn signature — fresh builds sit
    ~0.8 x M_max0), so fragmented_shards flags them via the degree
    band; rebuild_shards must then (a) restore each named shard to
    EXACTLY the graph a fresh build over its member set produces,
    (b) leave every other shard byte-identical, and (c) recover full
    self-recall."""
    params = HawkParams.new(32, 16, 8)
    codes = spark.range(400).select(
        F.col("id").alias("vec_id"), (F.col("id") * 11).alias("code")
    )
    index = hnsw.build_index(
        codes, metric="hamming", params=params, num_shards=4, vec_col="code"
    ).localCheckpoint()

    # churn: three delete+repair waves over the same index
    churned = index
    for lo in (0, 1, 2):
        dels = spark.range(lo, 400, 4).limit(60).select(
            F.col("id").alias("vec_id")
        )
        churned = hnsw.delete_from_index(
            churned, dels, metric="hamming", params=params
        ).localCheckpoint()
    n_left = churned.count()
    assert n_left == 400 - 180

    frag = hnsw.fragmented_shards(churned, params)
    assert frag, "churn should have pushed some shard out of the degree band"
    assert hnsw.fragmented_shards(index, params) == [], "fresh build must not flag"

    rebuilt = hnsw.rebuild_shards(
        churned, frag, metric="hamming", params=params
    ).localCheckpoint()
    assert rebuilt.count() == n_left

    # (a) rebuilt shard == fresh build over the same survivors (the
    # splitmix64 layer rule makes this exact, not just equivalent)
    survivors = churned.select("vec_id", "code")
    fresh = hnsw.build_index(
        survivors, metric="hamming", params=params, num_shards=4,
        vec_col="code",
    )
    def snap(df, shards):
        return {
            r.vec_id: (r.layer, tuple(r.e_layer), tuple(r.e_dst))
            for r in df.where(F.col("shard").isin(shards)).collect()
        }
    assert snap(rebuilt, frag) == snap(fresh, frag)
    # (b) untouched shards pass through byte-identical
    other = [s for s in range(4) if s not in frag]
    if other:
        assert snap(rebuilt, other) == snap(churned, other)
    # (c) the rebuilt index has full self-recall again
    q = survivors.select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("query_vec")
    )
    res = hnsw.search(rebuilt, q, k=1, metric="hamming", params=params).collect()
    assert len(res) == n_left
    assert all(r.query_id == r.vec_id and r.dist == 0.0 for r in res)


def test_dot_metric_index_end_to_end(spark, sf_dir):
    """metric='dot' (max inner product; distance = -dot so less_than is
    the native <) now has a kernel batch path, not just the exact
    expression: build + search must agree with the exact kNN."""
    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).localCheckpoint()
    params = HawkParams.new(64, 48, 16)
    index = hnsw.build_index(emb, metric="dot", params=params, num_shards=4)
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = hnsw.search(index, queries, k=10, metric="dot", params=params)
    exact = knn_exact(emb, queries, k=10, metric="dot")
    a = {(r.query_id, r.vec_id) for r in ann.collect()}
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    assert len(a & e) / len(e) >= 0.9, f"dot recall {len(a & e) / len(e)}"
