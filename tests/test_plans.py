"""Physical-plan regression tests: the properties that make these
queries scale must stay in the plan (pushdown, pruning, partial
aggregation, broadcast joins)."""

from __future__ import annotations

import contextlib
import io

import pytest

from hawk_pack_spark.queries import ALL_SPECS


def _plan(spark, sf_dir, name: str) -> str:
    # ALL_SPECS, not CATALOG: plan properties must hold regardless of
    # which rotation slot a query currently occupies
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ALL_SPECS[name].fn(spark, sf_dir).explain("formatted")
    return buf.getvalue()


def test_q01_scan_pushdown_and_partial_agg(spark, sf_dir):
    s = _plan(spark, sf_dir, "q01_pricing_summary")
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in s
    # column pruning: exactly the 7 needed columns, no l_orderkey etc.
    read = next(l for l in s.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_shipdate" in read
    # map-side combine before the exchange
    assert "partial_sum" in s and "Exchange" in s


def test_q03_broadcasts_dimensions(spark, sf_dir):
    s = _plan(spark, sf_dir, "q03_shipping_priority")
    assert "BroadcastHashJoin" in s
    # customer scan pushes the segment filter
    assert "EqualTo(c_mktsegment,BUILDING)" in s


def test_knn_projects_only_needed_columns(spark, sf_dir):
    s = _plan(spark, sf_dir, "knn_exact_l2")
    reads = [l for l in s.splitlines() if "ReadSchema" in l]
    assert reads and all("label" not in l for l in reads)  # label pruned


def test_q06_full_pushdown_minimal_read(spark, sf_dir):
    """Q6 must collapse to one scan: every predicate in PushedFilters,
    only the 4 referenced columns read."""
    s = _plan(spark, sf_dir, "q06_revenue_forecast")
    pushed = next(l for l in s.splitlines() if "PushedFilters" in l)
    for frag in ("l_shipdate", "GreaterThanOrEqual(l_discount,0.02)",
                 "LessThanOrEqual(l_discount,0.04)", "LessThan(l_quantity,24.0)"):
        assert frag in pushed, pushed
    read = next(l for l in s.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_returnflag" not in read
    assert "partial_sum" in s  # map-side combine before the single-row agg


def test_q18_broadcast_customer_only(spark, sf_dir):
    """The HAVING aggregate shuffles on l_orderkey (unavoidable), but
    customer must come in as a broadcast, never a shuffle join."""
    s = _plan(spark, sf_dir, "q18_large_orders")
    assert "BroadcastHashJoin" in s
    # the lineitem aggregate is partial before its exchange
    assert "partial_sum" in s


def test_q19_pushes_supersets_and_broadcasts(spark, sf_dir):
    """Disjunctive predicates: Catalyst must still broadcast part and
    push the OR-of-brands superset filter into the part scan."""
    s = _plan(spark, sf_dir, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in s
    part_scan = [l for l in s.splitlines() if "PushedFilters" in l and "p_brand" in l]
    assert part_scan, "no pushed filter on part scan"
    # the OR of brand conjuncts is pushed as one disjunctive filter
    assert "EqualTo(p_brand,Brand#12)" in part_scan[0]
    assert "Or(" in part_scan[0]


def test_q04_semi_join(spark, sf_dir):
    """EXISTS must plan as a (left-)semi join, not inner-join+distinct."""
    s = _plan(spark, sf_dir, "q04_order_priority")
    assert "LeftSemi" in s or "left_semi" in s.lower()
    assert "EqualTo(l_returnflag,R)" in s


def test_blocked_all_pairs_no_cartesian(spark, sf_dir):
    """Blocked all-pairs cosine must plan as broadcast joins against the
    tiny block-pair spine + a cogroup — never a CartesianProduct /
    BroadcastNestedLoopJoin over the vector table itself."""
    import contextlib as _ctx
    import io as _io

    from pyspark.sql import functions as F

    from hawk_pack_spark.operators.similarity import all_pairs_cosine_numpy
    from hawk_pack_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    df = all_pairs_cosine_numpy(emb, threshold=0.3)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("formatted")
    s = buf.getvalue()
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "FlatMapCoGroupsInPandas" in s
    assert "BroadcastHashJoin" in s  # spine joins broadcast


def test_routed_search_broadcasts_routing_table(spark, sf_dir):
    """Shard-routed search: the query→shard routing join must broadcast
    the small side; the kernel stage stays a cogroup (Arrow-native)."""
    import contextlib as _ctx
    import io as _io

    from pyspark.sql import functions as F

    from hawk_pack_spark.config import HawkParams
    from hawk_pack_spark.operators import hnsw
    from hawk_pack_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    params = HawkParams.new(32, 32, 8)
    index = hnsw.build_index(emb, metric="l2_sq", params=params, num_shards=4)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = hnsw.search(
        index, queries, k=3, metric="l2_sq", params=params,
        num_shards=4, nprobe_shards=2,
    )
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        out.explain("formatted")
    s = buf.getvalue()
    assert "FlatMapCoGroupsInArrow" in s
    assert "BroadcastHashJoin" in s or "BroadcastExchange" in s
    assert "CartesianProduct" not in s


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval gram set must broadcast — the corpus side of the
    decontamination join never shuffles."""
    s = _plan(spark, sf_dir, "decontaminate_ngrams")
    assert "BroadcastHashJoin" in s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_repetition_partial_aggregation(spark, sf_dir):
    """Both explode->count passes must map-side combine before their
    exchanges (linear scaling in corpus bytes)."""
    s = _plan(spark, sf_dir, "doc_repetition")
    assert "partial_count" in s or "partial_sum" in s
    assert "CartesianProduct" not in s


def test_stratified_sample_single_scan_no_join(spark, sf_dir):
    """The hash gate is a pure column expression: one documents scan,
    no join, no window — just scan -> project -> partial agg."""
    s = _plan(spark, sf_dir, "stratified_sample")
    assert "Join" not in s and "Window" not in s
    # exactly one scan: one Location line in the detail section
    assert s.count("Location: InMemoryFileIndex") == 1
    assert "partial_count" in s or "partial_sum" in s


def test_pack_sequences_single_group_exchange(spark, sf_dir):
    """Packing fans out per stream key via FlatMapGroupsInPandas; the
    bin aggregation must reuse the same (lang) clustering — no extra
    wide shuffle beyond the group exchange and the final agg."""
    s = _plan(spark, sf_dir, "pack_sequences")
    assert "FlatMapGroupsInPandas" in s
    assert "CartesianProduct" not in s


def test_q21_double_correlation_as_hash_semi_anti(spark, sf_dir):
    """Q21's EXISTS + NOT-EXISTS double correlation must render as hash
    semi/anti joins on the order key (shuffle-safe at any SF) — never a
    nested-loop/cartesian over lineitem x lineitem."""
    s = _plan(spark, sf_dir, "q21_waiting_supplier")
    assert "LeftSemi" in s
    assert "LeftAnti" in s
    assert "CartesianProduct" not in s
    low = s.lower()
    assert "broadcastnestedloop" not in low


def test_q22_scalar_threshold_broadcast_only(spark, sf_dir):
    """Q22's scalar-avg threshold is the ONLY nested-loop join in the
    plan (a 1-row broadcast), and the no-urgent-orders correlation is a
    hash anti join."""
    s = _plan(spark, sf_dir, "q22_dormant_customers")
    assert "LeftAnti" in s
    assert "CartesianProduct" not in s
    # the 1-row threshold crossJoin may appear as BroadcastNestedLoopJoin
    # — more than one such NODE is a regression (formatted plans print
    # each node twice: tree line + "(N) Node" detail header)
    import re as _re

    assert len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", s)) <= 1


def test_q07_dimension_broadcasts_fact_never_broadcast(spark, sf_dir):
    """q07's nation/region joins broadcast (SF-invariant dims); the
    lineitem-orders fact join must NOT be forced broadcast by a hint —
    the plan either broadcasts it via AQE size stats (test SFs) or
    shuffles it, but no ResolvedHint survives on the fact side."""
    s = _plan(spark, sf_dir, "q07_volume_shipping")
    assert "CartesianProduct" not in s
    # the region/nation spine is tiny and must come in as a broadcast
    assert "BroadcastHashJoin" in s
    # exactly the four dim-side hints (region spine + supp/cust region
    # frames); a fifth means someone force-broadcast an SF-scaling side
    # — an OOM at 100 TB per the catalog's broadcast policy
    from hawk_pack_spark.queries import ALL_SPECS as _SPECS

    analyzed = (
        _SPECS["q07_volume_shipping"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert analyzed.count("ResolvedHint") == 4
