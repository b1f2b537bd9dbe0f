"""Deduplication operators for training-data pipelines (north-star
extension; SURVEY §7 step 8).

Beyond the reference surface (its only set-dedup is U2 framework dedup,
/root/reference/src/repo.rs:161-162), a 100 TB corpus engine needs document
dedup. Four families, all expressed as declarative DataFrame ops over the
``documents`` table, all hash-portable (functions.hashing → md5) so each is
DuckDB-oracle-checkable:

- exact:    hash-groupBy on a canonical key; keep min doc_id per group
- minhash:  token shingles → universal-hash minima → banded LSH buckets →
            candidate pairs (the scalable near-dup join: shuffle is
            O(docs × bands), never O(docs²))
- simhash:  per-token hash sign-sum → 32-bit fingerprint; hamming distance
- jaccard:  exact n-gram Jaccard verification on LSH candidate pairs only

Scale notes: every stage is groupBy/join on a hash key — AQE handles skew
(hot shingles); band join keys are (band_id, signature) so buckets stay
small; exact Jaccard runs only on the LSH survivors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cargo_chat_spark.functions import hashing

# Fixed minhash permutation family (seeded, public constants < PRIME).
MINHASH_PERMS: list[tuple[int, int]] = [
    (472882049, 882377),  # a_i, b_i — arbitrary fixed odd constants
    (291866561, 530913),
    (126271219, 997811),
    (7556231, 330131),
    (851971, 77041),
    (968443, 604171),
    (557927, 245561),
    (131071, 914867),
    (655361, 51829),
    (786433, 473353),
    (299993, 700001),
    (104729, 611953),
    (15485863, 32452843),
    (49979687, 67867967),
    (86028121, 93827, ),
    (961748941, 35742549),
]
_PERMS = [(a % hashing.PRIME, b % hashing.PRIME) for a, b in MINHASH_PERMS]

N_BANDS = 4
ROWS_PER_BAND = 4  # 16 perms = 4 bands x 4 rows


def tokens(text: Column) -> Column:
    """Whitespace tokenization (documents are space-separated)."""
    return F.split(F.trim(text), r"\s+")


def shingles_all_from_tokens(toks: Column, k: int = 3) -> Column:
    """All k-token shingles in document order from a MATERIALIZED token
    array column. Pass an attribute (two-step select), not ``tokens(text)``
    inline: a raw expression here gets inlined into the per-index lambda
    and the split() re-runs per shingle — O(tokens²) per doc (measured
    3 s of the sf0.1 minhash stage, vs ~0.2 s materialized)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))


def shingles_all(text: Column, k: int = 3) -> Column:
    """All k-token shingles in document order (winnowing input).
    Prefer the ``_from_tokens`` form with a materialized token column —
    see its docstring."""
    return shingles_all_from_tokens(tokens(text), k)


def shingles_all_sql(text_sql: str, k: int = 3) -> str:
    return f"""list_transform(
        generate_series(1, greatest(len(regexp_split_to_array(trim({text_sql}), '\\s+')) - {k - 1}, 1)),
        i -> array_to_string(list_slice(regexp_split_to_array(trim({text_sql}), '\\s+'), i, i + {k - 1}), ' ')
    )"""


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles. NB: only safe for order-insensitive
    consumers (min-hash, set intersection) — Spark's array_distinct keeps
    first-occurrence order, DuckDB's list_distinct does not."""
    return F.array_distinct(shingles_all(text, k))


def shingles_sql(text_sql: str, k: int = 3) -> str:
    return f"list_distinct({shingles_all_sql(text_sql, k)})"


def _perm_fn(a: int, b: int):
    # closure factory: PySpark infers lambda arity from the signature, so
    # default-arg binding (lambda s, a=a, b=b) would read as a 3-arg lambda
    return lambda h: hashing.universal(h, a, b)


def shingle_hashes_from_tokens(toks: Column, k: int = 3) -> Column:
    """h32 of each distinct k-shingle from a materialized token column —
    compute ONCE, then feed the permutation minima / set ops. Evaluating
    md5 per-permutation would be a 16x blowup (Catalyst's CollapseProject
    keeps a non-cheap alias referenced many times in its own projection,
    so a two-step select preserves single evaluation)."""
    return F.transform(
        F.array_distinct(shingles_all_from_tokens(toks, k)), hashing.h32
    )


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """h32 of each distinct k-shingle — see shingle_hashes_from_tokens;
    this inline form re-tokenizes per shingle index, use only on small
    frames."""
    return F.transform(shingles(text, k), hashing.h32)


def shingle_hashes_sql(text_sql: str, k: int = 3) -> str:
    return f"list_transform({shingles_sql(text_sql, k)}, s -> {hashing.h32_sql('s')})"


def minhash_signature(hash_arr: Column) -> Column:
    """ARRAY<BIGINT> of len(PERMS): min over shingle hashes of
    (a*h+b) mod P. Input is the shingle_hashes array."""
    sigs = [F.array_min(F.transform(hash_arr, _perm_fn(a, b))) for a, b in _PERMS]
    return F.array(*sigs)


def minhash_signature_spark_sql(hashes_col: str) -> str:
    """Spark-dialect twin of ``minhash_signature`` as ONE SQL string —
    16 Column-builder round trips (py4j per transform/array_min) collapse
    into a single parse. Same trick as the simhash conditional-sum
    aggregates; semantics identical to the Column form (asserted in
    tests/test_minhash_forms.py)."""
    parts = []
    for a, b in _PERMS:
        inner = hashing.universal_sql("x", a, b)
        parts.append(f"array_min(transform(`{hashes_col}`, x -> {inner}))")
    return "array(" + ",\n        ".join(parts) + ")"


def minhash_signature_sql(hashes_sql_expr: str) -> str:
    parts = []
    for a, b in _PERMS:
        inner = hashing.universal_sql("h", a, b)
        parts.append(
            f"list_min(list_transform({hashes_sql_expr}, h -> {inner}))"
        )
    return "[" + ",\n        ".join(parts) + "]"


def band_keys(
    sig: Column,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> Column:
    """ARRAY<STRUCT<band INT, key STRING>>: each band's signature slice
    rendered as a joinable string key. Parametric so the band-setting
    sweep (queries/eval_report.py) re-bands the SAME signature at
    alternative (bands, rows) settings through this one derivation —
    a key-format change here reaches production and sweep together."""
    entries = []
    for band in range(n_bands):
        sl = F.slice(sig, band * rows_per_band + 1, rows_per_band)
        key = F.array_join(F.transform(sl, lambda x: x.cast("string")), "_")
        entries.append(F.struct(F.lit(band).alias("band"), key.alias("key")))
    return F.array(*entries)


# Hot-bucket cap: a pathological band key (boilerplate shingles — cookie
# banners, license headers — or a mass-duplicated doc) puts B docs in one
# bucket and the candidate self-join emits B²/2 pairs from it: the one
# skew shape AQE's skew-join split cannot fix, because the blowup is the
# JOIN RESULT, not a lopsided input partition. Keeping only the first
# BUCKET_CAP members (deterministic: lowest doc_ids) bounds any bucket's
# contribution at cap²/2 pairs, so the pair stage is O(docs × bands +
# bands × cap²) — linear in the corpus. Recall cost is confined to the
# capped bucket, and members of a giant bucket are near-identical by
# construction (they share a full band slice), so the survivors still
# chain the cluster together for connected-components.
BUCKET_CAP = 64


def cap_hot_buckets(
    bands: DataFrame,
    cap: int = BUCKET_CAP,
    *,
    id_col: str = "doc_id",
    band_col: str = "band",
    key_col: str = "key",
) -> DataFrame:
    """Keep at most ``cap`` members per (band, key) bucket, lowest ids
    first (deterministic in both engines: row_number ordered by id). The
    per-bucket window is one sort of the bucket's rows — LINEAR in bucket
    size, vs the quadratic join it guards against."""
    w = Window.partitionBy(band_col, key_col).orderBy(id_col)
    return (
        bands.withColumn("__bn", F.row_number().over(w))
        .where(F.col("__bn") <= cap)
        .drop("__bn")
    )


def _bit(h: Column, b: Column) -> Column:
    """Bit b of non-negative h, without shift-by-column (Spark's shiftright
    needs a literal). floor(h / 2^b) is exact: h < 2^32 << 2^53 mantissa."""
    return F.floor(h / F.pow(F.lit(2.0), b)).cast("bigint") % 2


def token_hashes(text: Column) -> Column:
    """h32 per whitespace token — materialize once before simhash bits
    (same single-evaluation reasoning as shingle_hashes)."""
    return F.transform(tokens(text), hashing.h32)


def simhash32_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash: bit b set iff the sign-sum of token-hash bit b is
    positive."""
    bit_vals = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda b: F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc + F.when(_bit(h, b) == 1, 1).otherwise(-1),
            )
            > 0,
            F.pow(F.lit(2.0), b).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(bit_vals, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def token_hashes_sql(text_sql: str) -> str:
    toks = f"regexp_split_to_array(trim({text_sql}), '\\s+')"
    return f"list_transform({toks}, t -> {hashing.h32_sql('t')})"


def simhash32_from_hashes_sql(hashes_sql: str) -> str:
    return f"""CAST(list_sum(list_transform(generate_series(0, 31), b ->
        CASE WHEN list_sum(list_transform({hashes_sql}, h ->
                 CASE WHEN CAST(floor(h / power(2.0, b)) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END)) > 0
             THEN CAST(power(2.0, b) AS BIGINT) ELSE 0 END)) AS BIGINT)"""


def simhash32_agg(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash as explode + 32 conditional sums — 3x faster than the
    nested higher-order-function form (the per-bit lambdas are interpreted;
    conditional SUMs are codegen'd with map-side partial aggregation, so
    the shuffle carries one 32-sum row per (doc, partition), not tokens).
    Identical results to simhash32_from_hashes (verified at sf0.1)."""
    th = df.select(id_col, token_hashes(F.col(text_col)).alias("h"))
    ex = th.select(id_col, F.explode("h").alias("hh"))
    # one SQL string per stage (not a 32-iteration Column loop) — the py4j
    # round trips of building 32 agg Columns dominated the sf0.1 plan
    # build (see vectors.py / SCALE.md "Driver-side plan costs")
    sums = "array(" + ", ".join(
        f"sum(CASE WHEN (CAST(floor(`hh` / {float(2 ** b)!r}D) AS BIGINT) % 2) = 1"
        f" THEN 1 ELSE -1 END)"
        for b in range(32)
    ) + ")"
    g = ex.groupBy(id_col).agg(F.expr(sums).alias("__sums"))
    fp = " + ".join(
        f"IF(element_at(`__sums`, {b + 1}) > 0, CAST({2 ** b} AS BIGINT),"
        f" CAST(0 AS BIGINT))"
        for b in range(32)
    )
    return g.select(id_col, F.expr(f"({fp})").alias("simhash"))


# --------------------------------------------------------- 64-bit simhash
# Kept as FOUR 16-bit band words (w0..w3) rather than one BIGINT: bit 63
# would make a packed int64 negative, and signed shift/modulo semantics
# differ across engines — the words sidestep that entirely AND are exactly
# the 4x16-bit LSH bands (65,536 values/band, so bucket occupancy stays
# O(n/65536): no hot-key skew, pigeonhole-exact for hamming <= 3).
# Bits 0-31 come from the low md5 word of each token, 32-63 from the high.
SIMHASH64_BANDS = 4
SIMHASH64_BAND_BITS = 16


def simhash64_bands_agg(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash as explode + 64 conditional sums → (id, w0, w1, w2,
    w3). Same plan shape as simhash32_agg: codegen'd conditional SUMs with
    map-side partial aggregation — the shuffle carries one 64-sum row per
    (doc, partition), not tokens."""
    md5c = F.md5(F.col("t"))
    ex = df.select(id_col, F.explode(tokens(F.col(text_col))).alias("t")).select(
        id_col,
        F.conv(F.substring(md5c, 1, 8), 16, 10).cast("bigint").alias("hlo"),
        F.conv(F.substring(md5c, 9, 8), 16, 10).cast("bigint").alias("hhi"),
    )
    # one SQL string per stage — see simhash32_agg
    terms = []
    for w in range(SIMHASH64_BANDS):
        src = "hlo" if w < 2 else "hhi"
        off = SIMHASH64_BAND_BITS * (w % 2)
        for b in range(SIMHASH64_BAND_BITS):
            terms.append(
                f"sum(CASE WHEN (CAST(floor(`{src}` / {float(2 ** (off + b))!r}D)"
                f" AS BIGINT) % 2) = 1 THEN 1 ELSE -1 END)"
            )
    g = ex.groupBy(id_col).agg(
        F.expr("array(" + ", ".join(terms) + ")").alias("__sums")
    )
    words = []
    for w in range(SIMHASH64_BANDS):
        fp = " + ".join(
            f"IF(element_at(`__sums`, {w * SIMHASH64_BAND_BITS + b + 1}) > 0,"
            f" CAST({2 ** b} AS BIGINT), CAST(0 AS BIGINT))"
            for b in range(SIMHASH64_BAND_BITS)
        )
        words.append(F.expr(f"({fp})").alias(f"w{w}"))
    return g.select(id_col, *words)


def simhash64_bands_sql(text_sql: str) -> list[str]:
    """DuckDB twins of w0..w3 (to be SELECTed from a CTE that binds ``hlo``
    and ``hhi`` token-hash arrays — see token_hashes64_sql)."""
    exprs = []
    for w in range(SIMHASH64_BANDS):
        arr = "hlo" if w < 2 else "hhi"
        off = SIMHASH64_BAND_BITS * (w % 2)
        exprs.append(
            f"""CAST(list_sum(list_transform(generate_series(0, {SIMHASH64_BAND_BITS - 1}), b ->
        CASE WHEN list_sum(list_transform({arr}, h ->
                 CASE WHEN CAST(floor(h / power(2.0, b + {off})) AS BIGINT) % 2 = 1
                      THEN 1 ELSE -1 END)) > 0
             THEN CAST(power(2.0, b) AS BIGINT) ELSE 0 END)) AS BIGINT)"""
        )
    return exprs


def token_hashes64_sql(text_sql: str) -> tuple[str, str]:
    """(hlo, hhi) DuckDB array exprs: low/high 32-bit words of md5 per
    whitespace token."""
    toks = f"regexp_split_to_array(trim({text_sql}), '\\s+')"
    hlo = f"list_transform({toks}, t -> ('0x' || substring(md5(t), 1, 8))::BIGINT)"
    hhi = f"list_transform({toks}, t -> ('0x' || substring(md5(t), 9, 8))::BIGINT)"
    return hlo, hhi


def exact_dedup(
    df: DataFrame, key: Column, id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: canonical key → (kept id, group size, members).
    Keep = min id. Output only groups (size ≥ 1) keyed deterministically."""
    return (
        df.select(F.md5(key).alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )
