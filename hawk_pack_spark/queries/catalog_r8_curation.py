"""round-8 curation rows

Auto-split from the former single-file queries/catalog.py (round 11,
VERDICT r10 #7) — specs are re-exported through
hawk_pack_spark.queries.catalog; see that module's header for the
cross-engine float-discipline rules every spec follows.
"""

from __future__ import annotations

from hawk_pack_spark.queries._shared import *  # noqa: F401,F403
from hawk_pack_spark.queries._shared import _avg_exact, _charge, _dec_sum, _disc_price
from hawk_pack_spark.queries.catalog_dedup import _minhash_capped_sql  # noqa: F401
from hawk_pack_spark.queries.catalog_vector import _embeddings_vectors  # noqa: F401





# ---------------------------------------------------------------------------
# round-8 additions: canonical-doc selection, hard-negative mining,
# per-domain token-budget sampling — the three curation decisions a
# pretraining pipeline makes after gates/dedup, each data-level.


def q_neardup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection on top of near-dup clustering
    (operators/components.py keep_best_per_cluster): every doc gets its
    MinHash-LSH cluster plus a flag marking the highest-quality member
    (quality = n_chars here; ties break on lowest doc_id). The
    retention policy real pipelines want: keep the BEST duplicate, not
    the min-id one. Same capped pair generation as minhash_near_dup, so
    the oracle reuses the dedup_clusters recursive-CTE closure."""
    from hawk_pack_spark.operators.components import keep_best_per_cluster
    from hawk_pack_spark.operators.dedup import minhash_near_dup

    docs = load_table(spark, "documents", sf_dir)
    pairs = minhash_near_dup(
        docs, num_hashes=8, bands=4, threshold=0.9, max_bucket=20
    )
    out = keep_best_per_cluster(pairs, docs, "n_chars")
    return out.select("doc_id", "cluster", "canonical")


def _neardup_canonical_sql() -> str:
    minhash = _minhash_capped_sql().strip()
    return f"""
WITH RECURSIVE pairs AS ({minhash}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (
  SELECT a AS node, LEAST(MIN(b), a) AS component FROM reach GROUP BY a
),
lab AS (
  SELECT d.doc_id, d.n_chars,
         COALESCE(comp.component, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
)
SELECT doc_id, cluster,
  (ROW_NUMBER() OVER (PARTITION BY cluster
                      ORDER BY n_chars DESC, doc_id ASC) = 1) AS canonical
FROM lab
"""


def q_hard_negatives_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (operators/retrieval.py
    hard_negatives): per anchor, the 5 nearest vectors whose label
    differs from the anchor's — the boundary negatives an embedding
    trainer mines after each epoch. Exact path is the oracle; the
    per-anchor dynamic label predicate fuses into the broadcast scan
    (corpus side never shuffles)."""
    from hawk_pack_spark.operators.retrieval import hard_negatives

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    anchors = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    out = hard_negatives(emb, anchors, k=5)
    return out.select(
        "anchor_id", "vec_id", "label",
        F.round(F.col("dist"), 6).alias("dist"), "rank",
    )


HARD_NEGATIVES_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
q AS (SELECT vec_id AS anchor_id, v AS qv, label AS al FROM e WHERE vec_id < 10),
d AS (
  SELECT anchor_id, e.vec_id, e.label,
    list_sum(list_transform(range(1, 65), i -> (qv[i] - v[i]) * (qv[i] - v[i]))) AS dist
  FROM q, e WHERE e.label <> q.al
), r AS (
  SELECT anchor_id, vec_id, label, dist,
    ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY dist ASC, vec_id ASC) AS rank
  FROM d)
SELECT anchor_id, vec_id, label, ROUND(dist, 6) AS dist, rank FROM r WHERE rank <= 5
"""


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token-budget sampling (functions/curation.py
    sample_to_token_budget): within each source, docs ordered by the
    derandomized Knuth-hash key are kept while the running token count
    stays within 500 — 'N tokens per domain', the mixing contract a
    pretraining run actually specifies (rate gates overshoot on
    long-doc domains). Fully deterministic: same corpus on any retry,
    replay, or partitioning."""
    from hawk_pack_spark.functions.curation import sample_to_token_budget

    docs = load_table(spark, "documents", sf_dir)
    out = sample_to_token_budget(docs, budget_tokens=500,
                                 stratum_col="source")
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


TOKEN_BUDGET_SQL = """
WITH d AS (
  SELECT doc_id, source,
    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x != '')) AS BIGINT) AS n_tokens,
    ((doc_id % 2147483647) * 2654435761) % 4294967291 AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM d
)
SELECT doc_id, source, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 500
"""




def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (operators/packing.py chunk_documents):
    32-token chunks, 4-token overlap — the windowing stage before
    packing. Pure column algebra (tokenize once, posexplode a stride
    sequence, slice+join); fan-out bounded by document length."""
    from hawk_pack_spark.operators.packing import chunk_documents

    docs = load_table(spark, "documents", sf_dir)
    out = chunk_documents(docs, chunk_tokens=32, overlap=4)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        "n_tokens",
    )


CHUNK_DOCS_SQL = """
WITH t AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS ts
  FROM documents
), n AS (
  SELECT doc_id, ts, len(ts) AS nt FROM t
), st AS (
  SELECT doc_id, ts, nt,
    unnest(generate_series(0, greatest(nt - 4 - 1, 0), 28)) AS start
  FROM n
)
SELECT doc_id,
  CAST(start / 28 AS BIGINT) AS chunk_id,
  array_to_string(list_slice(ts, start + 1, start + 32), ' ') AS chunk_text,
  CAST(least(32, nt - start) AS BIGINT) AS n_tokens
FROM st
"""







def q_ivf_manifest_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-family restartable-serving story as one driver row (the
    IVF analog of serving_restart_dispatch; graph_io.py save_ivf_index/
    load_ivf_index): build IVF-SQ8 over the embeddings, persist the
    serving unit (cell-partitioned codes + routing/quantizer model),
    reload, and search through the LOADED bundle. Booleans computed
    live; any violation flips one and fails the hash:
    - rows_equal_ok: loaded-bundle search returns EXACTLY the in-memory
      search's (query, vec, rank) rows (re-ranked, so dist ties too);
    - pruned_ok: the one Python scan the loaded search submits is
      partition-pruned to the probed cells (PartitionFilters on
      ``cell`` — the mechanism cluster scan pruning consumes, asserted
      on the EXECUTED plan the search collects with ``toArrow()``; the
      search returns a local frame, so its own plan holds no scan);
    - kind_ok: the quantizer model survives the round-trip.
    Reference analog: GraphPg's restartable-store premise
    (graph_pg.rs:24-50) applied to the cell-pruned index family."""
    import re
    import shutil
    import tempfile

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from hawk_pack_spark.operators.pq import ivfsq8_build, ivfsq8_search
    from hawk_pack_spark.sources.graph_io import (
        load_ivf_index,
        save_ivf_index,
    )

    vecs = _embeddings_vectors(spark, sf_dir)
    queries = vecs.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    encoded, centers, lo, scale = ivfsq8_build(vecs, n_clusters=8)
    direct = ivfsq8_search(
        encoded, centers, lo, scale, queries, kth=5, nprobe=4,
        rerank_with=vecs,
    )
    mdir = tempfile.mkdtemp(prefix="hawk_ivf_manifest_cat_")
    try:
        save_ivf_index(mdir, encoded, centers, "ivfsq8", lo=lo, scale=scale)
        idx = load_ivf_index(spark, mdir)
        plans, to_arrow = [], ClassicDataFrame.toArrow

        def spy(df):  # records each plan the search collects
            out = to_arrow(df)
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return out

        ClassicDataFrame.toArrow = spy
        try:
            reloaded = idx.search(queries, k=5, nprobe=4, rerank_with=vecs)
        finally:
            ClassicDataFrame.toArrow = to_arrow
        rows = lambda df: {  # noqa: E731
            (r.query_id, r.vec_id, r.rank) for r in df.collect()
        }
        a, b = rows(direct), rows(reloaded)
        rows_equal_ok = bool(a) and a == b
        scans = [p for p in plans if "MapInArrow" in p]
        pruned_ok = len(scans) == 1 and bool(
            re.search(r"PartitionFilters: \[[^\]]*cell", scans[0])
        )
        kind_ok = idx.kind == "ivfsq8" and idx.lo is not None
    finally:
        shutil.rmtree(mdir, ignore_errors=True)
    return spark.createDataFrame(
        [(len(a), bool(rows_equal_ok), bool(pruned_ok), bool(kind_ok))],
        "n_results long, rows_equal_ok boolean, pruned_ok boolean, kind_ok boolean",
    )


IVF_MANIFEST_SQL = """
SELECT CAST(40 AS BIGINT) AS n_results, TRUE AS rows_equal_ok,
       TRUE AS pruned_ok, TRUE AS kind_ok
"""


def q_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded JL random projection as one invariant row (operators/
    linalg.py random_project): 64-d embeddings project to 16-d with a
    seed-deterministic Gaussian basis. Booleans computed live:
    - deterministic_ok: two independent runs (same seed) produce
      IDENTICAL projected rows — the executor-identical-basis contract;
    - dims_ok: every output vector has exactly 16 dims;
    - ratio_ok: mean pairwise L2² among a fixed 40-vector sample is
      preserved in expectation — projected/original ratio within
      [0.6, 1.4] (JL scaling 1/√out_dim; wide bound because one seed is
      one draw, the in-expectation contract is tested statistically in
      tests/test_linalg.py over seeds)."""
    import numpy as np

    from hawk_pack_spark.operators.linalg import random_project

    vecs = _embeddings_vectors(spark, sf_dir).where(F.col("vec_id") < 40)
    p1 = random_project(vecs, 16, seed=7).select("vec_id", "proj")
    p2 = random_project(vecs, 16, seed=7).select("vec_id", "proj")
    r1 = {r.vec_id: tuple(r.proj) for r in p1.collect()}
    r2 = {r.vec_id: tuple(r.proj) for r in p2.collect()}
    deterministic_ok = r1 == r2 and len(r1) > 0
    dims_ok = all(len(v) == 16 for v in r1.values())
    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in vecs.select("vec_id", "embedding").collect()}
    ids = sorted(orig)
    om = np.array([orig[i] for i in ids])
    pm = np.array([r1[i] for i in ids])
    d_o = ((om[:, None, :] - om[None, :, :]) ** 2).sum(-1)
    d_p = ((pm[:, None, :] - pm[None, :, :]) ** 2).sum(-1)
    iu = np.triu_indices(len(ids), 1)
    ratio = float(d_p[iu].mean() / d_o[iu].mean())
    ratio_ok = 0.6 <= ratio <= 1.4
    return spark.createDataFrame(
        [(len(r1), bool(deterministic_ok), bool(dims_ok), bool(ratio_ok))],
        "n_vectors long, deterministic_ok boolean, dims_ok boolean, ratio_ok boolean",
    )


RANDOM_PROJECTION_SQL = """
SELECT CAST(40 AS BIGINT) AS n_vectors, TRUE AS deterministic_ok,
       TRUE AS dims_ok, TRUE AS ratio_ok
"""
