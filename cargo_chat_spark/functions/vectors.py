"""Vector-distance column expressions (SURVEY §2.4 J1).

The reference computes Euclidean distance inside an RP-tree ANN crate
(/root/reference/src/ann.rs:252-268, "lower = more relevant" per
hyde.rs:668). Here distance is a pure Catalyst column expression built from
``zip_with`` + ``aggregate`` higher-order functions — no Python UDF, fully
whole-stage-codegen'd, and reproducible in ANSI SQL (the DuckDB oracle uses
the same left-fold element order, so float accumulation matches bit-for-bit
up to the 6-d.p. canonicalization).

All arithmetic is done in DOUBLE regardless of the storage type (FLOAT
arrays) so both engines promote identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x: Column) -> Column:
    return x.cast("double")


def euclidean_sq(a: Column, b: Column) -> Column:
    """Sum of squared element differences, left-fold in array order."""
    diffs = F.zip_with(a, b, lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y)))
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def euclidean(a: Column, b: Column) -> Column:
    return F.sqrt(euclidean_sq(a, b))


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: _d(x) * _d(y))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot / (|a| * |b|); 0.0 when either norm is zero (ANSI-safe)."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_distance(a: Column, b: Column) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


DISTANCES = {
    "euclidean": euclidean,
    "euclidean_sq": euclidean_sq,
    "cosine": cosine_distance,
}


# ------------------------------------------------- fixed-dim unrolled forms
# The HOF lambdas above are evaluated by Catalyst's interpreter per element;
# when the dimension is known (it always is at query time — the reference
# sniffs it at load, ann.rs:128-161) the same fold unrolls into a flat
# literal-index expression that whole-stage codegen compiles to straight-line
# Java: ~25% faster on the sf0.1 kNN scan, identical float accumulation
# order (both start at 0.0 and fold left in array order → bit-identical
# results, same oracle).
#
# The unrolled expression is built as ONE SQL string handed to ``F.expr`` —
# building it as a Python Column loop costs hundreds of py4j round trips
# (measured: more than the 40k-pair sf0.1 cosine scan itself); a 5 KB
# string is one round trip and a fast JVM-side parse. Left-assoc ``+``
# parses to the identical left fold from 0.0.


def _term(name: str, i: int) -> str:
    return f"CAST(element_at({name}, {i}) AS DOUBLE)"


def _unrolled_fold_sql(term, dim: int) -> str:
    return "(0.0D + " + " + ".join(term(i) for i in range(1, dim + 1)) + ")"


def euclidean_sq_fixed_sql(a: str, b: str, dim: int) -> str:
    def step(i: int) -> str:
        d_ = f"({_term(a, i)} - {_term(b, i)})"
        return f"({d_} * {d_})"

    return _unrolled_fold_sql(step, dim)


def euclidean_fixed_sql(a: str, b: str, dim: int) -> str:
    return f"sqrt({euclidean_sq_fixed_sql(a, b, dim)})"


def dot_fixed_sql(a: str, b: str, dim: int) -> str:
    return _unrolled_fold_sql(lambda i: f"({_term(a, i)} * {_term(b, i)})", dim)


def cosine_distance_fixed_sql(a: str, b: str, dim: int) -> str:
    denom = (
        f"(sqrt({dot_fixed_sql(a, a, dim)}) * sqrt({dot_fixed_sql(b, b, dim)}))"
    )
    return (
        f"(1.0D - (CASE WHEN {denom} = 0.0D THEN 0.0D "
        f"ELSE ({dot_fixed_sql(a, b, dim)} / {denom}) END))"
    )


def dot_normed_distance_fixed_sql(a: str, b: str, dim: int) -> str:
    return f"(1.0D - {dot_fixed_sql(a, b, dim)})"


def dot_normed_distance(a: Column, b: Column) -> Column:
    """``1 - dot(a, b)`` over PRE-NORMALIZED vectors — the hoisted cosine.

    ``cosine_distance(_fixed)`` evaluates three dim-length folds per PAIR
    (dot, |a|², |b|²); in a kNN cross join that is 3·dim·|Q|·|C| work and,
    unrolled, a 3×-wider codegen expression. Normalizing each side once
    (``with_l2_normalized``, O(dim) per ROW) collapses per-pair work to a single
    fold — the form every production vector engine uses."""
    return F.lit(1.0) - dot(a, b)


def with_l2_normalized(df, vec_col: str, dim: int, out_col: str | None = None):
    """Fixed-dim L2 normalization as two codegen'd projections: step 1
    computes the norm once per row; step 2 builds the normalized array
    referencing that column 64×. The multi-referenced non-cheap alias stops
    CollapseProject from inlining the norm back into every element, and
    whole-stage codegen keeps both projections in one pass over the scan —
    O(dim) per row, no Python, no per-element norm recomputation."""
    out_col = out_col or vec_col
    nrm_sql = f"sqrt({dot_fixed_sql(f'`{vec_col}`', f'`{vec_col}`', dim)})"
    elem = (
        "(CASE WHEN `__nrm` = 0.0D THEN 0.0D "
        "ELSE CAST(element_at(`{v}`, {i}) AS DOUBLE) / `__nrm` END)"
    )
    arr_sql = (
        "array("
        + ", ".join(elem.format(v=vec_col, i=i) for i in range(1, dim + 1))
        + ")"
    )
    return (
        df.withColumn("__nrm", F.expr(nrm_sql))
        .withColumn(out_col, F.expr(arr_sql))
        .drop("__nrm")
    )


DISTANCES["dot_normed"] = dot_normed_distance

# SQL-string builders: (a_name, b_name, dim) -> expression string for F.expr
DISTANCES_FIXED_SQL = {
    "euclidean": euclidean_fixed_sql,
    "euclidean_sq": euclidean_sq_fixed_sql,
    "cosine": cosine_distance_fixed_sql,
    "dot_normed": dot_normed_distance_fixed_sql,
}


def infer_dim(df, vec_col: str) -> int | None:
    """Probe the vector dimension with one scalar job (the Spark analog of
    the reference's first-vector dim sniff, ann.rs:140-146). None on an
    empty frame."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row is not None else None
