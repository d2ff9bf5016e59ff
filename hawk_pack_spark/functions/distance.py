"""Distance expressions — the engine's "scalar function layer".

The reference abstracts distance behind a ``VectorStore`` trait whose only
obligations are ``eval_distance``, ``is_match`` and ``less_than``
(reference: src/traits.rs:34-52). Here a *metric is a parameter*: each
metric is a function ``(Column, Column) -> Column`` producing a real
distance column, so ``less_than`` is the native ``<`` and ``is_match`` is
``dist <= threshold`` — Spark always materializes, comparison is free
(SURVEY.md §2.1).

All expressions are JVM-side (whole-stage-codegen-able) built-ins — no
Python in the hot path. The reference's example metric is Hamming over
u64 codes: ``(a ^ b).count_ones()``
(reference: src/vector_store/lazy_memory_store.rs:49-54) → ``hamming``.

Float-vector math folds in DOUBLE left-to-right so results are
bit-reproducible against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# code-space (binary) metrics


def hamming(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit codes: popcount(a XOR b)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_code(vec: Column | str, nbits: int = 63) -> Column:
    """Sign-bit binary code of a float vector: bit i set iff vec[i] > 0.

    63 bits max so the code stays in non-negative BIGINT range (parity
    with the DuckDB oracle's signed BIGINT shifts). Unrolled as a 63-term
    sum of literal powers of two — pure codegen-able column arithmetic.
    """
    vec = F.col(vec) if isinstance(vec, str) else vec
    code = F.lit(0).cast("long")
    for j in range(nbits):
        code = code + F.when(
            F.element_at(vec, j + 1) > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return code


# ---------------------------------------------------------------------------
# float-vector metrics (ARRAY<FLOAT|DOUBLE> columns)


# the smallest positive double: the clamp of cosine's denominator
_MIN_POSITIVE = 5e-324


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def l2_sq(a: Column | str, b: Column | str) -> Column:
    """Squared Euclidean distance (monotone in L2 — use for ranking; skip
    the sqrt unless the caller needs metric values)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(l2_sq(a, b))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    """dot(a, b) / (‖a‖·‖b‖). A zero vector has sim 0 (dist 1): its dot
    is 0, and the denominator is clamped at the smallest positive
    double, which leaves every nonzero denominator as it is — so no
    division by zero under ANSI mode, and null inputs stay null."""
    return dot(a, b) / F.greatest(norm(a) * norm(b), F.lit(_MIN_POSITIVE))


def cosine_dist(a: Column | str, b: Column | str) -> Column:
    return F.lit(1.0) - cosine_sim(a, b)


METRICS = {
    "hamming": hamming,
    "l2": l2,
    "l2_sq": l2_sq,
    "cosine": cosine_dist,
    "dot": lambda a, b: -dot(a, b),  # distance = negative inner product
}


def register_metric(name, expr_fn, batch_fn=None):
    """Plug a USER-SUPPLIED distance into the engine — the `VectorStore`
    trait made concrete (src/traits.rs:34-52: the reference's only UDF
    surface is a store implementing eval_distance/is_match/less_than;
    everything else is the fixed engine).

    - ``expr_fn(a: Column, b: Column) -> Column`` is ``eval_distance``
      as a JVM-side expression: it powers `distance_expr` everywhere —
      exact kNN, the insert dup gate, centroid placement. ``is_match``
      (dist <= threshold) and ``less_than`` (native ``<``) come for
      free, exactly as in SURVEY §2.1.
    - ``batch_fn(data: np.ndarray (n, dim) float64, q_idx: int,
      cand: sequence[int]) -> list[float]`` is ``eval_distance_batch``
      for the partition-local HNSW kernel: its beam search, and the
      bridge distances `delete_from_index` repairs a shard with;
      required to `build_index`/`search`/`delete_from_index(metric=…)`
      with the custom metric, optional if only the expression surfaces
      are needed.

    Custom metrics ride the FLOAT payload (``vec``); the 64-bit code
    payload stays reserved for hamming. Centroid ROUTING
    (`nprobe_shards`) stays unavailable for custom metrics — geometry
    is metric-specific (`_route_dists` raises a clear error) — so
    searches fan out to every shard, which is always correct. The two
    halves must agree numerically: the contract tests compare the
    kernel path against the expression path.

    ``batch_fn`` ships to Python workers inside the kernel closures
    (cloudpickle): define it in a module importable on the executors
    (--py-files / the deployed package) or as a lambda/inner function,
    which pickles by value."""
    METRICS[name] = expr_fn
    if batch_fn is not None:
        from hawk_pack_spark.operators import _hnsw_kernel as K

        K.CUSTOM_BATCH[name] = batch_fn


def distance_expr(metric: str, a: Column | str, b: Column | str) -> Column:
    """``eval_distance`` as an expression: store-defined metric, real column.

    Reference contract: src/traits.rs:38-42 (eval_distance),
    :44-45 (is_match = dist within threshold), :47-52 (less_than = ``<``).
    """
    try:
        return METRICS[metric](a, b)
    except KeyError:
        raise KeyError(f"unknown metric {metric!r}; known: {sorted(METRICS)}") from None


def l2_sq_unrolled(a: Column | str, b: Column | str, dim: int) -> Column:
    """``l2_sq`` unrolled for a KNOWN dimension: the same left-to-right
    fold ((a1−b1)² + (a2−b2)²) + … as the F.aggregate version — so the
    doubles are BIT-IDENTICAL — but as plain column arithmetic that
    whole-stage codegen compiles, where the higher-order-function form
    interprets its lambda per element. Measured on the blocked kNN
    join's candidate stage (7.5M pairs × 64 dims at sf0.1): the HOF
    fold was the hot path by an order of magnitude. Use in bulk
    candidate scoring; variable-dim callers keep ``l2_sq``.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    a, b = _as_double(a), _as_double(b)
    terms = None
    for i in range(1, dim + 1):
        d = F.element_at(a, i) - F.element_at(b, i)
        t = d * d
        terms = t if terms is None else terms + t
    return F.lit(0.0) + terms
