"""Exact Hamming scan at LinearDb-breaking scale — the reference's own
iris-code domain (linear_db.rs stores raw codes and eval_distances every
one), measured at 100M codes.

The scan is `hamming_topk_numpy`: queries broadcast once; every Arrow
batch of codes is XORed against the queries (in chunks under the scan
skeleton's tile budget) and popcounted via the 16-bit LUT; each batch
emits a tie-exact partial top-k and a Window merges. Memory is bounded
by the Arrow batch size and the tile budget regardless of n, so the
same plan runs at any corpus size — per-batch cost is O(batch × nq).

Usage: python tools/bench_hamming_scale.py [n] [n_queries]
Prints one JSON line for NOTES.md.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402

from hawk_pack_spark.operators.similarity import hamming_topk_numpy  # noqa: E402
from hawk_pack_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000_000
    nq = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    out: dict = {"n": n, "n_queries": nq}

    spark = get_spark("hamming-scale")
    spark.sparkContext.setLogLevel("ERROR")

    codes = (
        spark.range(n)
        .repartition(64)
        .select(F.col("id").alias("vec_id"), F.xxhash64("id").alias("code"))
        .localCheckpoint()
    )
    codes.count()
    queries = (
        codes.where(F.col("vec_id") % (n // nq) == 7)
        .select(
            F.col("vec_id").alias("query_id"), F.col("code").alias("query_vec")
        )
        .localCheckpoint()
    )
    nq_actual = queries.count()
    out["n_queries"] = int(nq_actual)

    t0 = time.perf_counter()
    got = hamming_topk_numpy(codes, queries, k=10).collect()
    out["exact_scan_sec"] = round(time.perf_counter() - t0, 3)

    # every self-query must come back rank 1 at distance 0 (64-bit
    # xxhash collisions are ~0.3 expected at 100M — tolerate ties that
    # still sit at distance 0)
    self_ok = sum(
        1 for r in got if r.rank == 1 and r.dist == 0.0
    )
    out["rank1_dist0"] = int(self_ok)
    out["self_exact"] = bool(self_ok == nq_actual)
    out["rows_per_sec"] = round(n * nq_actual / out["exact_scan_sec"] / 1e9, 2)
    out["unit_rows_per_sec"] = "1e9 code*query/s"
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
