"""IVF-family serving manifest: save → load → search equals in-memory
search, codes stay lazy and cell-pruned (PartitionFilters)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hawk_pack_spark.operators.pq import (
    ivfpq_build,
    ivfpq_search,
    ivfsq8_build,
    ivfsq8_search,
)
from hawk_pack_spark.sources import load_table
from hawk_pack_spark.sources.graph_io import load_ivf_index, save_ivf_index
from spark_jobs import assert_cell_pruned_scan, spy_collected_plans


def _vectors(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _queries(vecs, n=6):
    return vecs.where(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _rows(df):
    return sorted(
        (r.query_id, r.vec_id, round(r.dist, 9), r.rank) for r in df.collect()
    )


def test_ivfsq8_manifest_roundtrip(spark, sf_dir, tmp_path, monkeypatch):
    vecs = _vectors(spark, sf_dir)
    queries = _queries(vecs)
    encoded, centers, lo, scale = ivfsq8_build(vecs, n_clusters=8)
    direct = ivfsq8_search(
        encoded, centers, lo, scale, queries, kth=5, nprobe=4, rerank_with=vecs
    )
    path = str(tmp_path / "ivfsq8_bundle")
    save_ivf_index(path, encoded, centers, "ivfsq8", lo=lo, scale=scale)
    idx = load_ivf_index(spark, path)
    assert idx.kind == "ivfsq8"
    plans = spy_collected_plans(monkeypatch)
    reloaded = idx.search(queries, k=5, nprobe=4, rerank_with=vecs)
    assert _rows(direct) == _rows(reloaded) and len(_rows(direct)) > 0
    # the loaded scan is partition-pruned on the probed cells
    assert_cell_pruned_scan(plans)


def test_ivfpq_manifest_roundtrip(spark, sf_dir, tmp_path):
    vecs = _vectors(spark, sf_dir)
    queries = _queries(vecs)
    encoded, centers, codebooks = ivfpq_build(vecs, n_clusters=8, m=8)
    direct = ivfpq_search(
        encoded, centers, codebooks, queries, kth=5, nprobe=4, rerank_with=vecs
    )
    path = str(tmp_path / "ivfpq_bundle")
    save_ivf_index(path, encoded, centers, "ivfpq", codebooks=codebooks)
    idx = load_ivf_index(spark, path)
    reloaded = idx.search(queries, k=5, nprobe=4, rerank_with=vecs)
    assert _rows(direct) == _rows(reloaded) and len(_rows(direct)) > 0


def test_save_ivf_index_validates_model(spark, sf_dir, tmp_path):
    import pytest

    vecs = _vectors(spark, sf_dir)
    encoded, centers, lo, scale = ivfsq8_build(vecs, n_clusters=4)
    with pytest.raises(ValueError, match="codebooks"):
        save_ivf_index(str(tmp_path / "x"), encoded, centers, "ivfpq")
    with pytest.raises(ValueError, match="lo and scale"):
        save_ivf_index(str(tmp_path / "y"), encoded, centers, "ivfsq8")
    with pytest.raises(ValueError, match="kind"):
        save_ivf_index(str(tmp_path / "z"), encoded, centers, "flat")


def test_streaming_ivf_ingest_appends_and_drifts(spark, sf_dir, tmp_path):
    """Stream two micro-batches into a saved IVF-SQ8 bundle: appended
    vectors are found exactly by a post-reload search, the appended
    files land inside the cell partitions, and the drift counter fires
    for far-from-every-centroid vectors."""
    import numpy as np
    from hawk_pack_spark.operators.similarity import ivf_cell_stats, ivf_build
    from hawk_pack_spark.streaming.ingest import (
        StreamingIvfIngest,
        start_parquet_ingest,
    )

    vecs = _vectors(spark, sf_dir)
    encoded, centers, lo, scale = ivfsq8_build(vecs, n_clusters=8)
    assigned, _c = ivf_build(vecs, n_clusters=8)
    radii = ivf_cell_stats(assigned, _c)
    path = str(tmp_path / "bundle")
    save_ivf_index(
        path, encoded, centers, "ivfsq8", lo=lo, scale=scale, cell_radii=radii
    )
    n0 = load_ivf_index(spark, path).codes.count()

    # batch 1: clones of existing vectors under new ids (in-distribution)
    clones = vecs.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    clones.coalesce(1).write.parquet(str(tmp_path / "src" / "b1"))
    # batch 2: far-away vectors (out-of-distribution → drift)
    far = vecs.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(100.0)).alias("embedding"),
    )
    far.coalesce(1).write.parquet(str(tmp_path / "src" / "b2"))

    sink = StreamingIvfIngest(path=path)
    q = start_parquet_ingest(
        spark, str(tmp_path / "src" / "*"),
        "vec_id long, embedding array<double>", sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    assert sink.n_seen == 30
    assert 10 <= sink.n_drifted <= 30 and sink.drift_fraction() >= 10 / 30

    idx = sink.reload(spark)
    assert idx.codes.count() == n0 + 30
    # a clone queries to itself at dist 0 (exact re-rank over the union
    # of original + appended vectors)
    all_vecs = vecs.unionByName(clones).unionByName(far)
    queries = clones.where(F.col("vec_id") == 1_000_003).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hit = idx.search(queries, k=1, nprobe=8, rerank_with=all_vecs).collect()
    assert len(hit) == 1 and hit[0].dist <= 1e-12
    # appended rows went INTO cell partitions (directory layout intact)
    import os
    cells = [d for d in os.listdir(os.path.join(path, "codes")) if d.startswith("cell=")]
    assert len(cells) >= 1
