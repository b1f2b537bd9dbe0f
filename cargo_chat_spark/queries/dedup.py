"""Dedup correctness queries over ``documents`` (training-data extension).

Each query pairs the Spark operator (operators.dedup) with a DuckDB oracle
built from the same md5-portable hash family, so even the hash-dependent
operators (minhash LSH, simhash) are value-checked, not just row-counted.

Cost discipline: md5 dominates; every query materializes the per-document
hash array ONCE (a dedicated projection step — Catalyst's CollapseProject
will not inline a non-cheap alias referenced many times) and derives
signatures/bits/set-ops from it with pure arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cargo_chat_spark.caching import memo_persist as _memo_persist
from cargo_chat_spark.operators import dedup as D
from cargo_chat_spark.operators.graph import connected_components
from cargo_chat_spark.queries import _draws as _dr
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table, load_table_spread

# ------------------------------------------------------------- exact dedup
# Canonical key = first 40 chars (the synthetic corpus has no full-text
# duplicates; the 40-char prefix yields real collision groups).
_EXACT_SQL = """
SELECT md5(substring(text, 1, 40)) AS dedup_key,
       MIN(doc_id) AS kept_id,
       COUNT(*) AS group_size
FROM documents
GROUP BY 1
"""


@register("dedup_exact", sql=_EXACT_SQL)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on a canonical key, keep min doc_id.
    Map-side partial aggregation; one shuffle on the 128-bit key."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(d, F.substring(F.col("text"), 1, 40))


# -------------------------------------------------- shared hash-array CTEs
_HASHES_CTE = f"""
hashes AS (
    SELECT doc_id, {D.shingle_hashes_sql('text')} AS h
    FROM documents
)
"""


def _hashes_df(spark, sf_dir):
    # r14: spread the single-split scan so the md5 shingle stage (the
    # dominant cost, profiled as a 1.4 s single-task stage) parallelizes;
    # identity at production split counts (load_table_spread docstring)
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    # two-step: materialize the token array so the shingle lambda slices an
    # attribute instead of re-running split() per shingle index (operators.
    # dedup.shingles_all_from_tokens docstring; measured ~3 s → ~0.4 s)
    toks = d.select("doc_id", D.tokens(F.col("text")).alias("toks"))
    return toks.select(
        "doc_id", D.shingle_hashes_from_tokens(F.col("toks")).alias("h")
    )


def _sigs_df(spark, sf_dir):
    # SQL-string form: one parse instead of 16 Column-builder round trips
    # (operators.dedup.minhash_signature_spark_sql docstring)
    return _hashes_df(spark, sf_dir).select(
        "doc_id", F.expr(D.minhash_signature_spark_sql("h")).alias("mh")
    )


_SIGS_CTE = f"""{_HASHES_CTE},
sigs AS (
    SELECT doc_id, {D.minhash_signature_sql('h')} AS mh
    FROM hashes
)
"""

# ------------------------------------------------------- minhash signatures
_MINHASH_SQL = f"""
WITH {_SIGS_CTE}
SELECT doc_id, array_to_string(mh, '|') AS minhash FROM sigs
"""


@register("minhash_signatures", sql=_MINHASH_SQL)
def minhash_signatures(spark, sf_dir):
    """16-perm minhash signature per document (3-token shingles),
    '|'-joined (harness needs hashable cells)."""
    return _sigs_df(spark, sf_dir).select(
        "doc_id", F.array_join(F.col("mh").cast("array<string>"), "|").alias("minhash")
    )


# ----------------------------------------------------- LSH candidate pairs
# bands are hot-bucket-capped in BOTH engines (operators/dedup.py
# BUCKET_CAP): deterministic row_number-by-doc_id guard so a degenerate
# bucket can't go quadratic in the candidate join. On the fixture corpus
# no bucket approaches the cap, so results are unchanged — the cap is the
# 100 TB skew lever, value-checked here.
_BANDS_CTE = f"""{_SIGS_CTE},
bands_all AS (
    SELECT doc_id, b.band,
           array_to_string(list_transform(
               list_slice(mh, b.band * {D.ROWS_PER_BAND} + 1,
                          (b.band + 1) * {D.ROWS_PER_BAND}),
               x -> CAST(x AS VARCHAR)), '_') AS key
    FROM sigs, (
        SELECT unnest(generate_series(0, {D.N_BANDS - 1})) AS band
    ) b
),
bands AS (
    SELECT doc_id, band, key FROM bands_all
    QUALIFY row_number() OVER (
        PARTITION BY band, key ORDER BY doc_id
    ) <= {D.BUCKET_CAP}
)
"""

# Shared recursive-closure CTE suite over the banded candidate pairs:
# pairs -> symmetric edges -> reachability -> per-doc component id
# (min reachable doc_id). Referenced by every component-consuming oracle
# (_COMPONENTS_SQL, _KEEP_SQL, _LEAKAGE_SPLIT_SQL, _DEDUP_MOR_SQL) so the
# component semantics can only ever change in ONE place.
_COMP_CTES = """pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION ALL
    SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(src, dst) AS (
    SELECT s, s FROM edges
    UNION
    SELECT r.src, e.d FROM reach r JOIN edges e ON r.dst = e.s
),
comp AS (
    SELECT src AS doc_id, MIN(dst) AS component_id
    FROM reach GROUP BY src
)"""

_LSH_SQL = f"""
WITH {_BANDS_CTE}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id
"""


def _bands_df(spark, sf_dir):
    # persist: the LSH self-join references this subtree twice, and the md5
    # shingle hashing behind it dominates the query (measured 2.6x).
    # Footprint is 4 short rows per doc. Hot-bucket cap applied before the
    # persist so every consumer (pairs, components, keep, jaccard) sees the
    # same bounded candidate universe as the oracle's bands CTE.
    def build():
        sigs = _sigs_df(spark, sf_dir)
        bands = sigs.select(
            "doc_id", F.explode(D.band_keys(F.col("mh"))).alias("bk")
        ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        return D.cap_hot_buckets(bands)

    return _memo_persist(spark, ("bands", sf_dir), build)


@register("minhash_lsh_pairs", sql=_LSH_SQL)
def minhash_lsh_pairs(spark, sf_dir):
    """Banded LSH: docs sharing any (band, signature-slice) bucket become a
    candidate pair. The join key is (band, key) so shuffle volume is
    O(docs × bands) — the O(docs²) comparison never materializes."""
    bands = _bands_df(spark, sf_dir)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


# ------------------------------------------- incremental near-dup (store)
# A production pipeline ingests documents in WAVES and must answer "is
# this batch a near-dup of anything seen before" without recomputing the
# history — the persisted band-signature store (sources/band_store.py).
# The oracle mirrors the incremental semantics exactly: history bands
# hot-bucket-capped among history (the store was built from it), batch
# bands capped within the batch (a wave cannot know future doc_ids),
# pairs = bucket join where at least one side is the new batch. On this
# corpus no bucket approaches the cap, so the result also equals the
# full-corpus LSH pairs restricted to batch-touching pairs (pinned by
# tests/test_band_store.py).
_INC_NEARDUP_SQL = f"""
WITH {_SIGS_CTE},
bands_all AS (
    SELECT doc_id, b.band,
           array_to_string(list_transform(
               list_slice(mh, b.band * {D.ROWS_PER_BAND} + 1,
                          (b.band + 1) * {D.ROWS_PER_BAND}),
               x -> CAST(x AS VARCHAR)), '_') AS key
    FROM sigs, (
        SELECT unnest(generate_series(0, {D.N_BANDS - 1})) AS band
    ) b
),
hist AS (
    SELECT doc_id, band, key FROM bands_all WHERE doc_id % 4 <> 0
    QUALIFY row_number() OVER (
        PARTITION BY band, key ORDER BY doc_id
    ) <= {D.BUCKET_CAP}
),
batch AS (
    SELECT doc_id, band, key FROM bands_all WHERE doc_id % 4 = 0
    QUALIFY row_number() OVER (
        PARTITION BY band, key ORDER BY doc_id
    ) <= {D.BUCKET_CAP}
),
targets AS (
    SELECT * FROM hist UNION ALL SELECT * FROM batch
)
SELECT DISTINCT
    least(t.doc_id, n.doc_id) AS doc_a,
    greatest(t.doc_id, n.doc_id) AS doc_b
FROM targets t JOIN batch n ON t.band = n.band AND t.key = n.key
WHERE t.doc_id <> n.doc_id
"""


from cargo_chat_spark.caching import register_memo as _register_memo

_BAND_STORE_MEMO: dict = {}
_register_memo(_BAND_STORE_MEMO)


def _band_history_fixture(spark, sf_dir) -> str:
    """The incremental_neardup HISTORY store build (band signatures of
    the doc_id % 4 != 0 split), memoized per (session, sf_dir); returns
    the store path. Factored out for bench.py's phase split — at scale
    the history store persists across ingest waves; the probe is the
    per-wave steady state."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from cargo_chat_spark.sources.band_store import write_band_store

    key = (spark.sparkContext.applicationId, sf_dir)
    out = _BAND_STORE_MEMO.get(key)
    if out is None:
        docs = load_table(spark, sf_dir, "documents")
        out = _os.path.join(
            _tempfile.gettempdir(),
            f"ccs_band_store_{_os.path.basename(_os.path.normpath(sf_dir))}"
            f"_{_os.getpid()}",
        )
        if _os.path.isdir(out):
            _shutil.rmtree(out)
        write_band_store(docs.where(F.col("doc_id") % 4 != 0), out)
        _BAND_STORE_MEMO[key] = out
    return out


@register("incremental_neardup", sql=_INC_NEARDUP_SQL)
def incremental_neardup(spark, sf_dir):
    """Incremental near-dup: build the persisted band store from the
    history split (doc_id % 4 != 0), then probe it with the new batch
    (doc_id % 4 == 0) — candidate pairs touching at least one new doc,
    without recomputing history signatures. The store side of the probe
    join never shuffles (the batch's band rows broadcast)."""
    from cargo_chat_spark.sources.band_store import probe_band_store

    docs = load_table(spark, sf_dir, "documents")
    out = _band_history_fixture(spark, sf_dir)
    return probe_band_store(
        spark, out, docs.where(F.col("doc_id") % 4 == 0)
    )


# --------------------------------------------- near-dup connected components
# Pairs are not enough for a dedup pipeline — the keep/drop decision is per
# CLUSTER (keep the min-id doc of each connected component of the near-dup
# graph). Spark side: iterative min-label propagation (the Pregel pattern —
# one join + one aggregate per round, converges in O(graph diameter) rounds;
# the 100 TB version is the same loop with the label frame checkpointed).
# Oracle: DuckDB recursive-CTE reachability closure — different algorithm,
# same canonical answer (component id = min reachable doc_id), which is the
# point: the gate pins the SEMANTICS, not the iteration strategy.
_COMPONENTS_SQL = f"""
WITH RECURSIVE {_BANDS_CTE},
{_COMP_CTES}
SELECT doc_id, CAST(component_id AS BIGINT) AS component_id FROM comp
"""


@register("neardup_components", sql=_COMPONENTS_SQL)
def neardup_components(spark, sf_dir, max_iter: int = 20):
    """Connected components of the LSH near-dup graph: (doc_id,
    component_id = min doc_id reachable). A pipeline drops every doc where
    doc_id != component_id to keep exactly one representative per cluster.
    Propagation + pointer-jumping + lineage checkpointing live in
    :func:`cargo_chat_spark.operators.graph.connected_components`.

    The component frame is session-memoized (the ``bands`` precedent):
    four registered consumers (the keep rule, leakage_safe_split,
    dedup_mor_apply's decision, this gate) would otherwise each re-run
    the full iterative propagation in the same session. Non-default
    ``max_iter`` bypasses the memo."""

    def build():
        pairs = minhash_lsh_pairs(spark, sf_dir)
        edges = pairs.selectExpr("doc_a AS s", "doc_b AS d").unionByName(
            pairs.selectExpr("doc_b AS s", "doc_a AS d")
        )
        comp = connected_components(edges, max_iter=max_iter)
        # eager lineage truncation: the iterative loop's final frame can
        # sit up to checkpoint_every-1 join rounds above its last
        # checkpoint, and EVERY consumer action re-ANALYZES that stacked
        # adaptive plan (~2.3 s/action measured at sf0.1 even with the
        # rows cached). Checkpointing here makes the memoized frame a
        # bare LogicalRDD — consumers pay milliseconds of planning, the
        # one materialization job lands in the build phase.
        return comp.localCheckpoint(eager=True)

    if max_iter != 20:
        return build()
    return _memo_persist(spark, ("neardup_components", sf_dir), build)


# ----------------------------------------------------- dedup keep decision
_KEEP_SQL = f"""
WITH RECURSIVE {_BANDS_CTE},
{_COMP_CTES},
sizes AS (
    SELECT component_id, COUNT(*) AS csize FROM comp GROUP BY component_id
)
SELECT d.doc_id,
    CAST(COALESCE(s.csize, 1) AS BIGINT) AS cluster_size,
    CAST(c.doc_id IS NULL OR c.component_id = d.doc_id AS BOOLEAN) AS kept
FROM documents d
LEFT JOIN comp c USING (doc_id)
LEFT JOIN sizes s ON s.component_id = c.component_id
"""


@register("neardup_dedup_keep", sql=_KEEP_SQL)
def neardup_dedup_keep(spark, sf_dir):
    """The end-to-end near-dup dedup DECISION over the full corpus: every
    document with its cluster size and whether a keep-one-per-cluster
    pipeline retains it (singletons always kept; in a cluster, only the
    min-id representative). This is the frame a curation pipeline
    partitions its keep/drop writes on."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("csize"))
    return (
        docs.join(comp, "doc_id", "left")
        .join(F.broadcast(sizes), "component_id", "left")
        .select(
            "doc_id",
            F.coalesce("csize", F.lit(1)).cast("bigint").alias("cluster_size"),
            (
                F.col("component_id").isNull()
                | (F.col("component_id") == F.col("doc_id"))
            ).alias("kept"),
        )
    )


# ------------------------------------------------------------------ simhash
_SIMHASH_SQL = f"""
WITH th AS (
    SELECT doc_id, {D.token_hashes_sql('text')} AS h FROM documents
)
SELECT doc_id, {D.simhash32_from_hashes_sql('h')} AS simhash
FROM th
"""


@register("simhash_fingerprints", sql=_SIMHASH_SQL)
def simhash_fingerprints(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return D.simhash32_agg(d)


# ------------------------------------------- n-gram Jaccard on LSH survivors
# Set ops run on the h32 arrays (not shingle strings): same cardinalities in
# both engines, a fraction of the compare cost.
_JACCARD_SQL = f"""
WITH {_BANDS_CTE},
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
),
hs AS (
    -- list_distinct: h holds distinct shingles but h32 collisions can
    -- duplicate hash VALUES; set semantics must hold on both engines
    -- (Spark's array_intersect dedups, list_filter would not).
    SELECT doc_id, list_sort(list_distinct(h)) AS s FROM hashes
)
SELECT p.doc_a, p.doc_b,
    CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE) /
    CAST(len(sa.s) + len(sb.s) - len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
        AS jaccard
FROM pairs p
JOIN hs sa ON sa.doc_id = p.doc_a
JOIN hs sb ON sb.doc_id = p.doc_b
"""


def _sorted_hashes_df(spark, sf_dir):
    """Memoized per-doc SORTED DISTINCT shingle-hash sets — the ONE
    derivation behind every exact-Jaccard/containment scorer
    (ngram_jaccard_pairs, lsh_precision_report, lsh_band_sweep_report,
    containment_pairs share the memo KEY, so they must share this
    builder: a semantics change in one copy would silently serve
    mismatched frames to the others depending on build order).
    array_distinct matches the oracles' list_distinct — set semantics
    even when h32 collisions duplicate hash values."""
    return _memo_persist(
        spark,
        ("sorted_hashes", sf_dir),
        lambda: _hashes_df(spark, sf_dir).select(
            "doc_id", F.array_sort(F.array_distinct(F.col("h"))).alias("s")
        ),
    )


@register("ngram_jaccard_pairs", sql=_JACCARD_SQL)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard verification, computed ONLY for LSH candidate
    pairs (the classic two-stage near-dup pipeline)."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    hs = _sorted_hashes_df(spark, sf_dir)  # referenced twice (sa/sb)
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size(F.col("sa")) + F.size(F.col("sb")) - inter
    return (
        pairs.join(hs.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")), "doc_a")
        .join(hs.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


# ------------------------------------------ simhash hamming near-dup pairs
# 64-bit simhash, 4 x 16-bit bands (the band words ARE the fingerprint —
# operators/dedup.simhash64_bands_agg). Pigeonhole-EXACT for the threshold:
# a pair within hamming 3 cannot differ in all 4 bands, so the band join
# has zero false negatives. 65,536 values per band keeps bucket occupancy
# O(n/65536) — no hot keys, candidate volume stays near-linear (the 8-bit
# byte-band variant this replaces had 256-value buckets: O(n²/256)
# candidates and skewed join keys at scale).
_HAMMING_T = 3

_W_EXPRS = D.simhash64_bands_sql("text")
_HLO, _HHI = D.token_hashes64_sql("text")

_SIMHASH_PAIRS_SQL = f"""
WITH th AS (
    SELECT doc_id, {_HLO} AS hlo, {_HHI} AS hhi FROM documents
),
sh AS (
    SELECT doc_id,
        {_W_EXPRS[0]} AS w0,
        {_W_EXPRS[1]} AS w1,
        {_W_EXPRS[2]} AS w2,
        {_W_EXPRS[3]} AS w3
    FROM th
),
bands AS (
    SELECT doc_id, w0, w1, w2, w3, b.b AS band,
        CASE b.b WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2 ELSE w3 END AS word
    FROM sh, (SELECT unnest(generate_series(0, 3)) AS b) b
),
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.w0 AS a0, a.w1 AS a1, a.w2 AS a2, a.w3 AS a3,
        b.w0 AS b0, b.w1 AS b1, b.w2 AS b2, b.w3 AS b3
    FROM bands a JOIN bands b ON a.band = b.band AND a.word = b.word
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
    CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
       + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1))
    + bit_count(xor(a2, b2)) + bit_count(xor(a3, b3)) <= {_HAMMING_T}
"""


def _simhash64_band_rows(spark, sf_dir):
    """(doc_id, w0..w3, band, word) — one row per doc per band."""
    d = load_table(spark, sf_dir, "documents")
    sh = D.simhash64_bands_agg(d)
    entries = F.array(*[
        F.struct(F.lit(b).alias("band"), F.col(f"w{b}").alias("word"))
        for b in range(D.SIMHASH64_BANDS)
    ])
    return sh.select(
        "doc_id", "w0", "w1", "w2", "w3", F.explode(entries).alias("bb")
    ).select(
        "doc_id", "w0", "w1", "w2", "w3",
        F.col("bb.band").alias("band"), F.col("bb.word").alias("word"),
    )


@register("simhash_neardup_pairs", sql=_SIMHASH_PAIRS_SQL)
def simhash_neardup_pairs(spark, sf_dir):
    """SimHash near-dup: 16-bit-band candidate join + exact hamming verify
    over the 64-bit fingerprint. Pigeonhole over 4 bands is EXACT at
    hamming <= {_HAMMING_T} (3 flipped bits cannot touch all 4 bands).
    Shuffle is O(docs x 4 bands) on (band, word) keys with 65,536 distinct
    values per band — 100 TB-shaped: no all-pairs stage, no hot buckets."""
    bands = _simhash64_band_rows(spark, sf_dir)
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"w{b}").alias(f"a{b}") for b in range(4)],
        "band", "word",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"w{i}").alias(f"b{i}") for i in range(4)],
        "band", "word",
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))) for i in range(4)
    )
    return (
        a.join(b, ["band", "word"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "a0", "a1", "a2", "a3", "b0", "b1", "b2", "b3")
        .distinct()
        .where(hamming <= _HAMMING_T)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


# ------------------------------------------- exact-substring dup pairs
# The Spark-native form of suffix-array substring dedup (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): doc pairs
# sharing a long exact character run. Side A samples W-char windows at
# stride S; side B emits every W-char window (stride 1). Any common run
# of length >= W+S-1 chars necessarily contains a stride-aligned A-window,
# so detection is GUARANTEED at 149 chars and opportunistic down to 100.
# Both sides dedup windows within-doc before the join (repetitive docs
# would otherwise multiply pair rows quadratically). Cost is linear in
# corpus chars; the join is a hash equi-join on the window. At 100 TB,
# join on md5(window) instead of the raw 100-char string to shrink the
# shuffle width (collision odds ~n²/2¹²⁸ — negligible).
_SUB_W, _SUB_S = 100, 50

_SUBSTR_SQL = f"""
WITH a AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, len(text) - {_SUB_W - 1}, {_SUB_S}),
        i -> substring(text, i, {_SUB_W})))) AS w
    FROM documents WHERE len(text) >= {_SUB_W}
),
b AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, len(text) - {_SUB_W - 1}),
        i -> substring(text, i, {_SUB_W})))) AS w
    FROM documents WHERE len(text) >= {_SUB_W}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM a JOIN b ON a.w = b.w AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


@register("substring_dup_pairs", sql=_SUBSTR_SQL)
def substring_dup_pairs(spark, sf_dir):
    """Doc pairs sharing an exact 100-char substring (guaranteed for
    common runs >= W+S-1 = 149 chars) — see the note above."""
    d = load_table(spark, sf_dir, "documents").where(
        F.length("text") >= _SUB_W
    )

    def windows(stride: int, out: str):
        expr = (
            f"explode(array_distinct(transform("
            f"sequence(1, length(text) - {_SUB_W - 1}, {stride}),"
            f" i -> substring(text, i, {_SUB_W}))))"
        )
        return d.select(
            F.col("doc_id").alias(out), F.expr(expr).alias("w")
        )

    a = windows(_SUB_S, "doc_a")
    b = windows(1, "doc_b")
    return (
        a.join(b, "w")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# ----------------------------------------- paragraph-level dedup + rebuild
# C4/Dolma-style paragraph dedup: split each document into paragraphs,
# drop every paragraph that already occurred earlier in the corpus (first
# occurrence by (doc_id, idx) wins), and REBUILD each document from its
# surviving paragraphs in original order. The synthetic corpus has no
# newline structure, so the splitter tier here is a fixed 12-word window
# (the splitter is the pluggable part — on a real crawl it is
# split(text, '\n') — while the dedup/rebuild machinery below is the
# invariant part this gate pins).
#
# Scale shape: ONE shuffle on the paragraph hash for the global
# first-occurrence rank, ONE shuffle back on doc_id for the ordered
# rebuild. The rebuild is sort_array(collect_list(struct(idx, chunk)))
# — deterministic regardless of partition arrival order. Docs whose
# every paragraph is a duplicate drop out entirely (both engines).
_PARA_DEDUP_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
ix AS (SELECT doc_id, words,
              unnest(generate_series(0, CAST(ceil(len(words)/12.0) AS BIGINT) - 1)) AS idx
       FROM w),
c AS (SELECT doc_id, idx,
             array_to_string(words[(idx*12+1):(idx*12+12)], ' ') AS chunk
      FROM ix),
k AS (SELECT doc_id, idx, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_total
      FROM c)
SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS rebuilt_text,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(ANY_VALUE(n_total) AS BIGINT) AS n_chunks
FROM k WHERE rn = 1 GROUP BY doc_id
"""


@register("paragraph_dedup_rebuild", sql=_PARA_DEDUP_SQL)
def paragraph_dedup_rebuild(spark, sf_dir):
    """Corpus-global paragraph dedup with order-preserving document
    rebuild (first occurrence kept)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    chunks = (
        d.select("doc_id", F.split("text", " ").alias("words"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, cast(ceil(size(words)/12.0) as int) - 1),"
                    " i -> array_join(slice(words, i*12+1, 12), ' '))"
                )
            ).alias("idx", "chunk"),
        )
    )
    w_first = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    w_doc = Window.partitionBy("doc_id")
    ranked = chunks.select(
        "doc_id",
        "idx",
        "chunk",
        F.row_number().over(w_first).alias("rn"),
        F.count(F.lit(1)).over(w_doc).alias("n_total"),
    )
    kept = ranked.where(F.col("rn") == 1)
    ordered = F.sort_array(F.collect_list(F.struct(F.col("idx"), F.col("chunk"))))
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(ordered, lambda s: s.getField("chunk")), " "
        ).alias("rebuilt_text"),
        F.count(F.lit(1)).alias("n_kept"),
        F.first("n_total").alias("n_chunks"),
    )


# ------------------------------------------- leakage-safe train/val/test
# The known eval-contamination failure mode (Lee et al., "Deduplicating
# Training Data Makes Language Models Better"): a near-duplicate of a test
# document sitting in train. A per-document hash split (the one in
# curation_pipeline) cannot prevent it — the twins draw independently. The fix is GROUP-AWARE
# assignment: split on the near-dup CLUSTER id, so an entire component
# lands in one split and a test doc's near-twin can never be trained on.
# Spark side: the component frame (only docs appearing in near-dup pairs —
# tiny next to the corpus) broadcast-left-joins onto the scan; singletons
# fall back to their own id. Draw, boundaries, and md5 semantics are the
# per-document split's primitives (queries/_draws.py), so split proportions
# and append-stability carry over unchanged.
_LEAKAGE_SPLIT_SQL = f"""
WITH RECURSIVE {_BANDS_CTE},
{_COMP_CTES}
SELECT d.doc_id,
    CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT) AS group_id,
    CASE WHEN {_dr.draw_sql("COALESCE(c.component_id, d.doc_id)")}
              < {_dr.SPLIT_VAL_LO} THEN 'train'
         WHEN {_dr.draw_sql("COALESCE(c.component_id, d.doc_id)")}
              < {_dr.SPLIT_TEST_LO} THEN 'val'
         ELSE 'test' END AS split
FROM documents d
LEFT JOIN comp c USING (doc_id)
"""


@register("leakage_safe_split", sql=_LEAKAGE_SPLIT_SQL)
def leakage_safe_split(spark, sf_dir):
    """Group-aware 98/1/1 split: every document labeled with its near-dup
    group (component id, own id for singletons) and the split drawn from
    the GROUP key — near-duplicates can never straddle train/test. Emits
    the full assignment so the oracle value-hashes it row by row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = neardup_components(spark, sf_dir)
    group = F.coalesce(F.col("component_id"), F.col("doc_id"))
    d = _dr.draw(group)
    split = (
        F.when(d < _dr.SPLIT_VAL_LO, "train")
        .when(d < _dr.SPLIT_TEST_LO, "val")
        .otherwise("test")
    )
    return docs.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id",
        group.cast("bigint").alias("group_id"),
        split.alias("split"),
    )


# ------------------------------------------------ leakage-safe k-fold
# The cross-validation sibling of leakage_safe_split: k-fold evaluation
# with a per-document fold draw leaks exactly the way a per-document
# split does — a near-duplicate of a held-out-fold doc trains in the
# other k−1 folds on every rotation. Fold assignment therefore draws
# from the GROUP key (near-dup component id, own id for singletons):
# an entire component lands in one fold, so no rotation ever trains on
# a held-out doc's twin. fold = draw(group) % K is exactly uniform
# because DRAW_MOD (10000) is a multiple of K. Same machinery and
# phase-built component frame as leakage_safe_split; emits the full
# assignment so the oracle value-hashes it row by row.
_KFOLD_K = 5

_KFOLD_SQL = f"""
WITH RECURSIVE {_BANDS_CTE},
{_COMP_CTES}
SELECT d.doc_id,
    CAST(COALESCE(c.component_id, d.doc_id) AS BIGINT) AS group_id,
    CAST({_dr.draw_sql("COALESCE(c.component_id, d.doc_id)")} % {_KFOLD_K}
         AS INT) AS fold
FROM documents d
LEFT JOIN comp c USING (doc_id)
"""


@register("kfold_group_assign", sql=_KFOLD_SQL)
def kfold_group_assign(spark, sf_dir):
    """Group-aware k-fold assignment (K=5): every document labeled with
    its near-dup group and the fold drawn from the GROUP key, so
    near-duplicates can never straddle a train/held-out boundary on any
    cross-validation rotation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = neardup_components(spark, sf_dir)
    group = F.coalesce(F.col("component_id"), F.col("doc_id"))
    fold = F.pmod(_dr.draw(group), F.lit(_KFOLD_K)).cast("int")
    return docs.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id",
        group.cast("bigint").alias("group_id"),
        fold.alias("fold"),
    )


# ---------------------------------------------- containment (excerpt) pairs
# Broder's second resemblance measure: CONTAINMENT c(A→B) = |A∩B|/|A|.
# Symmetric Jaccard misses the excerpt class — a short doc quoted whole
# inside a long one has J ≈ |A|/|B| (small) but c(A→B) ≈ 1 — exactly the
# quote/boilerplate-inclusion case a decontamination pass must catch.
# This gate reports LSH-candidate pairs where either direction's
# containment ≥ 0.8 in integer micro-units (plus the Jaccard, so the
# "excerpt but not near-dup" class is visible: high containment, low
# Jaccard). Cost: the gated candidate join + two set lookups per pair —
# never all-pairs; the candidate generation inherits LSH recall (an
# excerpt must still share a band, which 3-token shingles of a verbatim
# quote do).
_CONTAINMENT_SQL = f"""
WITH {_BANDS_CTE},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
),
hs AS (SELECT doc_id, list_sort(list_distinct(h)) AS s FROM hashes),
scored AS (
    SELECT p.doc_a, p.doc_b,
        len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS inter,
        len(sa.s) AS na, len(sb.s) AS nb
    FROM cand p
    JOIN hs sa ON sa.doc_id = p.doc_a
    JOIN hs sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b,
    CAST((1000000 * inter) // na AS BIGINT) AS contain_a_micro,
    CAST((1000000 * inter) // nb AS BIGINT) AS contain_b_micro,
    CAST((1000000 * inter) // (na + nb - inter) AS BIGINT)
        AS jaccard_micro
FROM scored
WHERE (1000000 * inter) // na >= 800000
   OR (1000000 * inter) // nb >= 800000
"""


@register("containment_pairs", sql=_CONTAINMENT_SQL)
def containment_pairs(spark, sf_dir):
    """LSH-candidate pairs with shingle containment ≥ 0.8 in either
    direction (integer micro-units), alongside their Jaccard — the
    excerpt/quote detector symmetric near-dup misses."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    hs = _sorted_hashes_df(spark, sf_dir)
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    scored = (
        pairs.join(
            hs.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")),
            "doc_a",
        )
        .join(
            hs.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            F.size("sa").alias("na"),
            F.size("sb").alias("nb"),
        )
    )
    ca = F.expr("(1000000 * inter) DIV na")
    cb = F.expr("(1000000 * inter) DIV nb")
    jac = F.expr("(1000000 * inter) DIV (na + nb - inter)")
    return scored.select(
        "doc_a",
        "doc_b",
        ca.cast("bigint").alias("contain_a_micro"),
        cb.cast("bigint").alias("contain_b_micro"),
        jac.cast("bigint").alias("jaccard_micro"),
    ).where(
        (F.col("contain_a_micro") >= 800000)
        | (F.col("contain_b_micro") >= 800000)
    )


# ------------------------------------------- cluster-size distribution
# The dedup QUALITY card: how big are the near-dup clusters? A healthy
# web corpus shows a long tail of 2-3-member clusters; a spike of huge
# components means boilerplate bridged unrelated docs (band settings
# too loose) and the keep rule is about to delete real content. One
# count per component + one count per size — both map-side combinable
# over the phase-built component frame; singleton count derived from
# the corpus total so the card sums to n_docs.
_CLUSTER_HISTO_SQL = f"""
WITH RECURSIVE {_BANDS_CTE},
{_COMP_CTES},
sizes AS (
    SELECT component_id, CAST(count(*) AS BIGINT) AS sz
    FROM comp GROUP BY component_id
),
histo AS (
    SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY sz
)
SELECT cluster_size, n_clusters,
       CAST(cluster_size * n_clusters AS BIGINT) AS n_docs
FROM histo
UNION ALL
SELECT CAST(1 AS BIGINT) AS cluster_size,
       CAST((SELECT count(*) FROM documents)
            - (SELECT count(*) FROM comp) AS BIGINT) AS n_clusters,
       CAST((SELECT count(*) FROM documents)
            - (SELECT count(*) FROM comp) AS BIGINT) AS n_docs
"""


@register("neardup_cluster_histogram", sql=_CLUSTER_HISTO_SQL)
def neardup_cluster_histogram(spark, sf_dir):
    """Cluster-size histogram of the near-dup components (singletons
    derived from the corpus total, so Σ n_docs = corpus size): the
    band-setting health card."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    histo = sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    )
    # corpus total from the parquet footer (driver-side metadata, no
    # scan job — §1.1); the component count stays a real job
    from cargo_chat_spark.sources.testdata import parquet_rows

    n_total = parquet_rows(f"{sf_dir}/documents.parquet")
    n_in_comp = comp.count()  # bounded driver scalar, not a collect
    singles = local_frame(spark, 
        [(1, n_total - n_in_comp, n_total - n_in_comp)],
        "cluster_size bigint, n_clusters bigint, n_docs bigint",
    )
    return histo.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters"))
        .cast("bigint")
        .alias("n_docs"),
    ).unionByName(singles)


# ------------------------------------------- dedup drops as a delete wave
# How a curation pipeline actually LANDS the keep/drop decision at 100 TB:
# not by rewriting the corpus, but by issuing the dropped doc_ids as a
# merge-on-read delete wave against the stored table (sources/deletes.py)
# — O(dropped keys) now, file rewrites deferred to compaction. The gate
# composes the two gated families end to end: neardup keep-decision →
# tombstones → MOR read → per-language profile of the SURVIVING corpus,
# which the oracle derives independently from the recursive-CTE
# components. A drop that failed to tombstone, a keeper lost by the
# anti-join, or a dropped doc leaking through the MOR view moves a
# count/char-sum and mismatches.
_DEDUP_MOR_SQL = f"""
WITH RECURSIVE {_BANDS_CTE},
{_COMP_CTES},
kept AS (
    SELECT d.* FROM documents d
    LEFT JOIN comp c USING (doc_id)
    WHERE c.doc_id IS NULL OR c.component_id = d.doc_id
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY lang
"""


@register("dedup_mor_apply", sql=_DEDUP_MOR_SQL)
def dedup_mor_apply(spark, sf_dir):
    """Issue the near-dup drop set as a merge-on-read delete wave on the
    stored documents table and profile the surviving corpus through the
    MOR view."""
    import os
    import tempfile

    from cargo_chat_spark.sources.deletes import (
        delete_keys,
        read_merge_on_read,
    )
    from cargo_chat_spark.sources.sorted_layout import write_range_sorted

    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.gettempdir(),
        f"ccs_docs_dedup_mor_{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{os.getpid()}",
    )
    write_range_sorted(docs, out, "doc_id", n_files=8)
    drops = (
        neardup_dedup_keep(spark, sf_dir)
        .where(~F.col("kept"))
        .select("doc_id")
    )
    delete_keys(drops, out, "doc_id")
    return (
        read_merge_on_read(spark, out, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# ----------------------------------------- CDC-synced band store (probe)
# The dedup ∘ lakehouse composition (the index-CDC story applied to
# near-dup state): the persisted band store follows a MUTATING snapshot
# corpus through its change feed — updated docs re-sign under their NEW
# text, deleted docs tombstone out merge-on-read — and a probe of a new
# batch must answer against the final logical corpus. Oracle semantics
# mirror the store's incremental contract exactly: the v0 build caps
# within the v0 corpus (so a doc that later dies still displaced others
# at cap time — era 0), the CDC wave re-caps only within itself (era 1),
# the probe batch within itself (era 2), and every dead doc's era-0 rows
# vanish.
_INC_NEARDUP_CDC_SQL = f"""
WITH corpus AS (
    SELECT doc_id, text, 0 AS era FROM documents WHERE doc_id % 4 <> 0
    UNION ALL
    SELECT doc_id, upper(text), 1 FROM documents
    WHERE doc_id % 4 <> 0 AND doc_id % 8 = 1
    UNION ALL
    SELECT doc_id, text, 2 FROM documents WHERE doc_id % 4 = 0
),
hashes AS (
    SELECT doc_id, era, {D.shingle_hashes_sql('text')} AS h FROM corpus
),
sigs AS (
    SELECT doc_id, era, {D.minhash_signature_sql('h')} AS mh FROM hashes
),
bands_all AS (
    SELECT doc_id, era, b.band,
           array_to_string(list_transform(
               list_slice(mh, b.band * {D.ROWS_PER_BAND} + 1,
                          (b.band + 1) * {D.ROWS_PER_BAND}),
               x -> CAST(x AS VARCHAR)), '_') AS key
    FROM sigs, (
        SELECT unnest(generate_series(0, {D.N_BANDS - 1})) AS band
    ) b
),
capped AS (
    SELECT doc_id, era, band, key FROM bands_all
    QUALIFY row_number() OVER (
        PARTITION BY era, band, key ORDER BY doc_id
    ) <= {D.BUCKET_CAP}
),
dead AS (
    SELECT doc_id FROM documents
    WHERE doc_id % 4 <> 0 AND (doc_id % 8 = 1 OR doc_id % 8 = 7)
),
targets AS (
    SELECT doc_id, band, key FROM capped
    WHERE era = 0 AND doc_id NOT IN (SELECT doc_id FROM dead)
    UNION ALL SELECT doc_id, band, key FROM capped WHERE era = 1
    UNION ALL SELECT doc_id, band, key FROM capped WHERE era = 2
),
batch AS (SELECT doc_id, band, key FROM capped WHERE era = 2)
SELECT DISTINCT
    least(t.doc_id, n.doc_id) AS doc_a,
    greatest(t.doc_id, n.doc_id) AS doc_b
FROM targets t JOIN batch n ON t.band = n.band AND t.key = n.key
WHERE t.doc_id <> n.doc_id
"""


@register("incremental_neardup_cdc", sql=_INC_NEARDUP_CDC_SQL)
def incremental_neardup_cdc(spark, sf_dir):
    """Band store synced from a snapshot corpus, advanced through a
    MERGE-update (re-signed text) + CoW delete via CDC, then probed with
    a new batch — pairs must reflect the final logical corpus."""
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from cargo_chat_spark.sources.band_store import (
        apply_band_cdc,
        probe_band_store,
        sync_band_store_from_snapshot,
    )
    from cargo_chat_spark.sources.snapshots import (
        snap_delete,
        snap_merge,
        snap_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    tag = f"{_os.path.basename(_os.path.normpath(sf_dir))}_{_os.getpid()}"
    tbl = _os.path.join(_tempfile.gettempdir(), f"ccs_bandcdc_tbl_{tag}")
    store = _os.path.join(_tempfile.gettempdir(), f"ccs_bandcdc_store_{tag}")
    for p in (tbl, store):
        if _os.path.isdir(p):
            _shutil.rmtree(p)
    snap_write(hist, tbl)
    sync_band_store_from_snapshot(spark, store, tbl)
    upd = hist.where(F.col("doc_id") % 8 == 1).withColumn(
        "text", F.upper("text")
    )
    snap_merge(spark, tbl, upd, "doc_id")
    snap_delete(
        spark, tbl,
        hist.where(F.col("doc_id") % 8 == 7).select("doc_id"),
        "doc_id",
    )
    apply_band_cdc(spark, store, tbl)
    return probe_band_store(
        spark, store, docs.where(F.col("doc_id") % 4 == 0)
    )


# bench.py phase split (r8 verdict item 7): the history band-store build
# is the one-time phase; the per-wave probe is the steady state.
from cargo_chat_spark.queries.registry import register_phase_builder as _rpb
from cargo_chat_spark.functions.localframe import local_frame

_rpb("incremental_neardup", _band_history_fixture)


def _components_builder(spark, sf_dir):
    """Materialize the memoized near-dup component frame (r9 verdict
    item 2): the minhash→LSH-pairs→iterative-components chain is the
    one-time per-corpus-version artifact a production pipeline persists
    (the store-build analogue); the split / MOR-apply consumers pay only
    the broadcast join against it. Without this split the full component
    build was charged to whichever consumer ran first in the session."""
    neardup_components(spark, sf_dir).count()


_rpb("leakage_safe_split", _components_builder)
_rpb("dedup_mor_apply", _components_builder)
_rpb("kfold_group_assign", _components_builder)
_rpb("neardup_cluster_histogram", _components_builder)


def _bands_builder(spark, sf_dir):
    """Materialize the memoized corpus band frame — the once-per-corpus
    MinHash artifact (minhash_lsh_pairs is its build gate and keeps
    paying it in full); band-frame CONSUMERS report it as build phase."""
    _bands_df(spark, sf_dir).count()


_rpb("fuzzy_decontamination", _bands_builder)


def _sorted_hashes_builder(spark, sf_dir):
    """Materialize bands + the sorted-hashes memo — the shared
    once-per-corpus artifacts behind the candidate-scoring cards
    (containment, band sweep, precision)."""
    _bands_df(spark, sf_dir).count()
    _sorted_hashes_df(spark, sf_dir).count()


_rpb("containment_pairs", _sorted_hashes_builder)
