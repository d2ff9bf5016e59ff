"""Group-wise top-k — the Spark rendering of the reference's sorted
candidate queues.

``FurthestQueue``/``NearestQueue`` (reference: src/data_structures/
queue.rs:12-16,116-120) are ascending/descending ``(vector, distance)``
lists with trim-to-k (queue.rs:59-65). Declaratively that is exactly
``row_number() OVER (PARTITION BY group ORDER BY dist, id) <= k`` — the
canonical distributed top-k: map-side partial top-k via the sort-based
window, no driver involvement, no full sort of the child.

Forms, matching SURVEY.md §1.5:
- exploded rows (join-friendly) → ``topk_rows``
- nested ARRAY<STRUCT> per group (storage-friendly, the links-table
  layout) → ``collect_sorted_neighbors``
- a serving batch's per-task partial top-k rows, merged on the driver
  (`hnsw.search_serving`, `pq._scan_topk`) → ``merge_topk``.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_rows(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str | Column,
    k: int,
    ascending: bool = True,
    tie_cols: Sequence[str] = (),
    rank_name: str = "rank",
) -> DataFrame:
    """k best rows per group, deterministic via tie columns."""
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    keys = [order.asc() if ascending else order.desc()] + [F.col(c).asc() for c in tie_cols]
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*keys)
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .where(F.col(rank_name) <= k)
    )


def collect_sorted_neighbors(
    df: DataFrame,
    group_cols: Sequence[str],
    dst_col: str = "dst",
    dist_col: str = "dist",
    k: int | None = None,
    out_col: str = "nbrs",
) -> DataFrame:
    """Exploded (group, dst, dist) rows → one row per group carrying the
    distance-ascending neighbor array ``ARRAY<STRUCT<dist,dst>>``, trimmed
    to k. Struct field order (dist first) makes ``array_sort`` order by
    distance with dst as tie-break — the FurthestQueue invariant."""
    nbr = F.struct(F.col(dist_col).alias("dist"), F.col(dst_col).alias("dst"))
    agg = df.groupBy(*group_cols).agg(F.array_sort(F.collect_list(nbr)).alias(out_col))
    if k is not None:
        agg = agg.withColumn(out_col, F.slice(F.col(out_col), 1, k))
    return agg


SEARCH_SCHEMA = "query_id long, vec_id long, dist double"  # partial hits
RESULT_SCHEMA = "query_id long, vec_id long, dist double, rank int"


def merge_topk(qid, vid, dist, k):
    """Each query's k best hits by (dist, vec_id) — `topk_rows`' order
    with ``tie_cols=["vec_id"]`` — and their 1-based rank."""
    order = np.lexsort((vid, dist, qid))
    qid, vid, dist = qid[order], vid[order], dist[order]
    starts = np.flatnonzero(np.r_[True, qid[1:] != qid[:-1]])
    rank = np.arange(1, len(qid) + 1) - np.repeat(starts, np.diff(np.r_[starts, len(qid)]))
    keep = rank <= k
    return qid[keep], vid[keep], dist[keep], rank[keep]


def hits_table(qid, vid, dist) -> pa.Table:
    """SEARCH_SCHEMA rows as an Arrow table."""
    return pa.table({
        "query_id": pa.array(qid, pa.int64()),
        "vec_id": pa.array(vid, pa.int64()),
        "dist": pa.array(dist, pa.float64()),
    })


def result_frame(spark, hits: pa.Table, k: int) -> DataFrame:
    """The merged top-k of collected partial hits as a local, already
    computed RESULT_SCHEMA frame: the rows and types of `topk_rows`."""
    qid, vid, dist, rank = merge_topk(*(c.to_numpy() for c in hits.columns), k)
    out = hits_table(qid, vid, dist).append_column("rank", pa.array(rank, pa.int32()))
    return spark.createDataFrame(out, RESULT_SCHEMA)


def fold_lr(a: np.ndarray, b: np.ndarray, term=np.multiply) -> np.ndarray:
    """Σ_d term(a_d, b_d), accumulated strictly left to right one
    dimension at a time (broadcasting the leading axes, no (…, dim)
    tensor): the associativity of ``F.aggregate``'s fold, so driver-side
    scores are bit-identical to ``distance_expr``'s."""
    acc = np.float64(0.0)
    for d in range(a.shape[-1]):
        acc = acc + term(a[..., d], b[..., d])
    return acc


def l2_fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``distance_expr("l2_sq")``: Σ_d (a_d − b_d)² by `fold_lr`."""
    return fold_lr(a, b, lambda x, y: (x - y) * (x - y))
