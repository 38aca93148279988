"""Cross-engine-deterministic vector math over ``array<float>`` columns.

Replicates the reference's cosine vector search core
(macro_agents/.../domains/sec/semantic_search.py:40-91, ML.DISTANCE
'COSINE') as JVM-side higher-order-function expressions — no UDFs.

Determinism contract (why these match the DuckDB oracle bit-for-bit):
- float32 * float32 promoted to double is EXACT (24+24 mantissa bits < 53);
- both engines fold the array left-to-right sequentially (Spark
  ``aggregate`` HOF; DuckDB ``list_reduce``), so the same IEEE additions
  happen in the same order.

At 100 TB these expressions run inside WholeStageCodegen per row; pair
them with a bucketing prefilter (see similarity/ann.py) so the quadratic
pair space never materializes.
"""

from __future__ import annotations

# -------------------------------------------------- Spark SQL expressions

DOT_SPARK = (
    "aggregate(zip_with({a}, {b},"
    " (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0 as double), (acc, v) -> acc + v)"
)
NORM_SPARK = (
    "sqrt(aggregate(transform({v},"
    " x -> cast(x as double) * cast(x as double)),"
    " cast(0 as double), (acc, v) -> acc + v))"
)

# Cosine over precomputed norms (compute each norm once per vector).
# Zero-norm contract, shared by both engines: a zero norm gives a NULL
# cosine (NULLIF turns Spark's ANSI DIVIDE_BY_ZERO into NULL; DuckDB
# already returns NULL), ranked last by DESC orderings in both engines.
COS_SPARK = "(" + DOT_SPARK + " / NULLIF({na} * {nb}, 0))"

# ------------------------------------------------------ DuckDB oracle side

DOT_DUCK = (
    "list_reduce(list_prepend(0.0::DOUBLE,"
    " list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),"
    " (acc, x) -> acc + x)"
)
NORM_DUCK = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE,"
    " list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),"
    " (acc, x) -> acc + x))"
)
COS_DUCK = "(" + DOT_DUCK + " / NULLIF({na} * {nb}, 0))"
