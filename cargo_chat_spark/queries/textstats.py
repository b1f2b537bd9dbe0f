"""Text-analysis correctness queries over ``documents`` (training-data
extension): chunking (P3), ingest stats (A1/A2), token counting, quality
scoring, language-ID heuristic, winnowing fingerprints.

All pure column expressions — at 100 TB each is a single scan with
map-side aggregation; none shuffles more than its groupBy key.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.functions import hashing
from cargo_chat_spark.operators import dedup as D
from cargo_chat_spark.operators.chunking import chunk_text, chunk_text_sql
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table, load_table_spread

# ------------------------------------------------------------- P3 chunking
_CHUNK_SQL = chunk_text_sql("documents", max_chars=120)


@register("chunk_documents", sql=_CHUNK_SQL)
def chunk_documents(spark, sf_dir):
    """P3 char-window flatMap (chunker.rs:64-116 semantics with our
    deterministic 120-char boundary spec)."""
    d = load_table(spark, sf_dir, "documents")
    return chunk_text(d, max_chars=120)


# -------------------------------------------------------- A1 ingest summary
_INGEST_SQL = """
WITH chunks AS (
    SELECT doc_id,
           CAST(ceil(length(text) / CAST(120 AS DOUBLE)) AS INT) AS n_chunks
    FROM documents WHERE length(text) > 0
)
SELECT COUNT(*) AS total_files,
       CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
       CAST(MAX(n_chunks) AS INT) AS max_chunks_per_file,
       CAST(MIN(n_chunks) AS INT) AS min_chunks_per_file
FROM chunks
"""


@register("ingest_stats", sql=_INGEST_SQL)
def ingest_stats(spark, sf_dir):
    """A1 (chunker.rs:31-34, 98-122): corpus-level ingest counters."""
    d = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.length("text") / F.lit(120.0)).cast("int")
    return (
        d.where(F.length("text") > 0)
        .select(n_chunks.alias("n_chunks"))
        .agg(
            F.count(F.lit(1)).alias("total_files"),
            F.sum("n_chunks").cast("bigint").alias("total_chunks"),
            F.max("n_chunks").alias("max_chunks_per_file"),
            F.min("n_chunks").alias("min_chunks_per_file"),
        )
    )


# -------------------------------------------------- A2 files-by-lang histo
_HISTO_SQL = """
SELECT lang, source, COUNT(*) AS file_count,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
"""


@register("files_by_language", sql=_HISTO_SQL)
def files_by_language(spark, sf_dir):
    """A2 (chunker.rs:34,77): histogram per (lang, source) — hash agg with
    map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("file_count"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


# ----------------------------------------------------------- token counting
_TOKEN_SQL = r"""
SELECT doc_id,
    len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_ish_tokens,
    length(text) AS n_chars
FROM documents
"""


@register("token_count", sql=_TOKEN_SQL)
def token_count(spark, sf_dir):
    """Whitespace tokens + BPE-ish regex tokens (word / number / symbol
    classes) per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("ws_tokens"),
        F.size(
            F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)")
        ).alias("bpe_ish_tokens"),
        F.length("text").alias("n_chars"),
    )


# ----------------------------------------------------------- quality score
_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "for"]
_SW_LIST = ", ".join(f"'{w}'" for w in _STOPWORDS)

_QUALITY_SQL = f"""
WITH t AS (
    SELECT doc_id, text,
        regexp_split_to_array(trim(text), '\\s+') AS toks,
        length(text) AS n_chars
    FROM documents
),
m AS (
    SELECT doc_id, n_chars,
        len(toks) AS n_tokens,
        CAST(len(list_filter(toks, w -> w IN ({_SW_LIST}))) AS DOUBLE)
            / len(toks) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / n_chars AS punct_ratio,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
    FROM t
)
SELECT doc_id, n_tokens, stopword_ratio, punct_ratio, distinct_ratio,
    (CASE WHEN n_tokens >= 10 THEN 0.25 ELSE 0.0 END
     + CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END
     + CASE WHEN punct_ratio < 0.2 THEN 0.25 ELSE 0.0 END
     + CASE WHEN distinct_ratio > 0.3 THEN 0.25 ELSE 0.0 END) AS quality_score
FROM m
"""


@register("quality_score", sql=_QUALITY_SQL)
def quality_score(spark, sf_dir):
    """Heuristic quality scoring: length / stopword / punctuation /
    repetition signals, 0.25 each. Per-row projection — the r14 spread
    only parallelizes the regex/array work (identity at scale)."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = F.split(F.trim("text"), r"\s+")
    n_tokens = F.size(toks)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    stopword_ratio = (
        F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("double")
        / n_tokens
    )
    punct_ratio = (
        F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", "")).cast("double")
        / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    quality = (
        F.when(n_tokens >= 10, 0.25).otherwise(0.0)
        + F.when((stopword_ratio >= 0.05) & (stopword_ratio <= 0.6), 0.25).otherwise(0.0)
        + F.when(punct_ratio < 0.2, 0.25).otherwise(0.0)
        + F.when(distinct_ratio > 0.3, 0.25).otherwise(0.0)
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stopword_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        quality.alias("quality_score"),
    )


# ------------------------------------------------------- quality filter
# Gopher-style composite keep/drop: each rule that FIRES names itself in a
# pipe-joined reasons string (fixed rule order → deterministic, hashable);
# keep = no rule fired. Same metric formulas as quality_score so both
# entries share the oracle-checked arithmetic.
_QF_RULES_SQL = """
    [CASE WHEN n_tokens < 15 THEN 'too_short' END,
     CASE WHEN n_tokens > 90 THEN 'too_long' END,
     CASE WHEN stopword_ratio < 0.05 THEN 'low_stopword' END,
     CASE WHEN punct_ratio >= 0.2 THEN 'high_punct' END,
     CASE WHEN distinct_ratio <= 0.5 THEN 'repetitive' END,
     CASE WHEN lang NOT IN ('en', 'de', 'fr') THEN 'off_language' END]
"""

_QFILTER_SQL = f"""
WITH t AS (
    SELECT doc_id, lang, text,
        regexp_split_to_array(trim(text), '\\s+') AS toks,
        length(text) AS n_chars
    FROM documents
),
m AS (
    SELECT doc_id, lang,
        len(toks) AS n_tokens,
        CAST(len(list_filter(toks, w -> w IN ({_SW_LIST}))) AS DOUBLE)
            / len(toks) AS stopword_ratio,
        CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
            / n_chars AS punct_ratio,
        CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS distinct_ratio
    FROM t
)
SELECT doc_id,
    COALESCE(array_to_string(
        list_filter({_QF_RULES_SQL}, v -> v IS NOT NULL), '|'), '') AS reasons,
    CAST(len(list_filter({_QF_RULES_SQL}, v -> v IS NOT NULL)) = 0
        AS BOOLEAN) AS keep
FROM m
"""


@register("quality_filter", sql=_QFILTER_SQL)
def quality_filter(spark, sf_dir):
    """Composite Gopher-style document filter: keep + named fail reasons.

    Single scan, one projection — the rule array, null-filter, and join
    are all codegen'd; the decision column is what a pipeline would
    partition its keep/drop writes on. Spread scan (r14), same note as
    quality_score."""
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = F.split(F.trim("text"), r"\s+")
    n_tokens = F.size(toks)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    stopword_ratio = (
        F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("double")
        / n_tokens
    )
    punct_ratio = (
        F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", "")).cast("double")
        / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    m = d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        stopword_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        distinct_ratio.alias("distinct_ratio"),
    )
    rules = F.array(
        F.when(F.col("n_tokens") < 15, "too_short"),
        F.when(F.col("n_tokens") > 90, "too_long"),
        F.when(F.col("stopword_ratio") < 0.05, "low_stopword"),
        F.when(F.col("punct_ratio") >= 0.2, "high_punct"),
        F.when(F.col("distinct_ratio") <= 0.5, "repetitive"),
        F.when(~F.col("lang").isin("en", "de", "fr"), "off_language"),
    )
    fired = F.filter(rules, lambda v: v.isNotNull())
    return m.select(
        "doc_id",
        F.array_join(fired, "|").alias("reasons"),
        (F.size(fired) == 0).alias("keep"),
    )


# ------------------------------------------------------- language-ID (n-gram)
_LANG_MARKERS = [
    ("en", ["the", "is", "and"]),
    ("fr", ["le", "la", "et"]),
    ("de", ["der", "und", "die"]),
    ("es", ["el", "los", "y"]),
]


def _langid_sql() -> str:
    scores = []
    for lang, words in _LANG_MARKERS:
        wl = ", ".join(f"'{w}'" for w in words)
        scores.append(
            f"CAST(len(list_filter(toks, w -> w IN ({wl}))) AS DOUBLE) / len(toks) AS score_{lang}"
        )
    scores_sql = ",\n        ".join(scores)
    # score must be the FIRST struct field — struct ordering compares
    # fields in declaration order (same trick as the Spark array_sort)
    pairs = ", ".join(
        f"{{'score': score_{lang}, 'lang': '{lang}'}}" for lang, _ in _LANG_MARKERS
    )
    return f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
),
s AS (
    SELECT doc_id,
        {scores_sql}
    FROM t
),
best AS (
    SELECT doc_id,
        list_sort([{pairs}],
                  'DESC') AS ranked
    FROM s
)
SELECT doc_id,
    CASE WHEN ranked[1].score > 0.0 THEN ranked[1].lang ELSE 'und' END AS pred_lang,
    ranked[1].score AS pred_score
FROM best
"""


@register("langid_heuristic", sql=_langid_sql())
def langid_heuristic(spark, sf_dir):
    """Stopword-marker language ID: argmax over per-language marker-token
    ratios; 'und' when no marker hits. (Deterministic heuristic, not a
    model — the structure mirrors fasttext-style langid at the dataflow
    level.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    df = d.select("doc_id", toks.alias("toks"))
    def _marker_fn(words):
        wl = F.array(*[F.lit(w) for w in words])
        return lambda w: F.array_contains(wl, w)

    for lang, words in _LANG_MARKERS:
        df = df.withColumn(
            f"score_{lang}",
            F.size(F.filter(F.col("toks"), _marker_fn(words))).cast("double")
            / F.size("toks"),
        )
    ranked = F.reverse(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.col(f"score_{lang}").alias("score"), F.lit(lang).alias("lang")
                    )
                    for lang, _ in _LANG_MARKERS
                ]
            )
        )
    )
    best = ranked[0]
    return df.select(
        "doc_id",
        F.when(best["score"] > 0.0, best["lang"]).otherwise("und").alias("pred_lang"),
        best["score"].alias("pred_score"),
    )


# ------------------------------------------------- winnowing fingerprints
_W = 4


def _fingerprint_sql() -> str:
    sh = D.shingles_all_sql("text")  # in-order stream — winnowing windows
    h = hashing.h32_sql("s")
    return f"""
WITH sh AS (
    SELECT doc_id, list_transform({sh}, s -> {h}) AS hashes FROM documents
)
SELECT doc_id,
    array_to_string(list_sort(list_distinct(list_transform(
        generate_series(1, greatest(len(hashes) - {_W - 1}, 1)),
        i -> list_min(list_slice(hashes, i, i + {_W - 1}))
    ))), '|') AS fingerprints
FROM sh
"""


@register("doc_fingerprints", sql=_fingerprint_sql())
def doc_fingerprints(spark, sf_dir):
    """Winnowing-style fingerprinting: k-gram hashes → min per sliding
    window of {_W} → sorted distinct fingerprint set per document,
    '|'-joined (harness needs hashable cells)."""
    d = load_table(spark, sf_dir, "documents")
    # materialize tokens first — the inline form re-splits per shingle
    # index (operators.dedup.shingles_all_from_tokens docstring)
    toks = d.select("doc_id", D.tokens(F.col("text")).alias("toks"))
    hashes = F.transform(D.shingles_all_from_tokens(F.col("toks")), hashing.h32)
    df = toks.select("doc_id", hashes.alias("hashes"))
    n = F.size("hashes")
    fps = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (_W - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(F.col("hashes"), i, _W)),
            )
        )
    )
    return df.select("doc_id", F.array_join(fps.cast("array<string>"), "|").alias("fingerprints"))


# ------------------------------------- repetition signals (Gopher-style)
# Duplicate-n-gram and top-bigram fractions — the repetition family of
# quality signals from the Gopher/MassiveText filtering recipe (Rae et al.
# 2021, table A1): highly repetitive documents are low-value training
# text. Raw DOUBLE ratios, no round(): both engines divide the same exact
# integers, so the IEEE results are bit-identical and the harness's 6-d.p.
# canonicalization sees the same value.
_REPETITION_SQL = rf"""
WITH base AS (
    SELECT doc_id,
        len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS d1,
        {D.shingles_all_sql('text', 2)} AS g2,
        {D.shingles_all_sql('text', 3)} AS g3
    FROM documents
),
bigrams AS (SELECT doc_id, unnest(g2) AS g FROM base),
counts AS (SELECT doc_id, g, COUNT(*) AS n FROM bigrams GROUP BY doc_id, g),
bi AS (
    SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total2,
           CAST(COUNT(*) AS BIGINT) AS d2, CAST(MAX(n) AS BIGINT) AS top2
    FROM counts GROUP BY doc_id
)
SELECT base.doc_id,
    CAST(n_tokens AS BIGINT) AS n_tokens,
    1.0 - CAST(d1 AS DOUBLE) / n_tokens AS dup_token_frac,
    1.0 - CAST(d2 AS DOUBLE) / total2 AS dup_2gram_frac,
    1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup_3gram_frac,
    CAST(top2 * 2 AS DOUBLE) / n_tokens AS top_bigram_frac
FROM base JOIN bi ON base.doc_id = bi.doc_id
ORDER BY base.doc_id
"""


@register("repetition_signals", sql=_REPETITION_SQL)
def repetition_signals(spark, sf_dir):
    """Per-document repetition signals: duplicate-token / -2-gram /
    -3-gram fractions and the fraction of tokens covered by the most
    frequent bigram.

    Plan shape: token/3-gram distinctness are per-row array expressions
    (no shuffle — the whole corpus streams through one scan); the bigram
    MODE genuinely needs a grouped count, so it explodes bigrams and
    aggregates on (doc_id, gram) — map-side combined, one shuffle keyed
    by doc, then a doc_id equi-join back. The shared token/shingle
    subtree is memo-persisted (referenced by both branches)."""
    from cargo_chat_spark.caching import memo_persist

    def build():
        d = load_table(spark, sf_dir, "documents")
        toks = d.select("doc_id", D.tokens(F.col("text")).alias("t"))
        return toks.select(
            "doc_id",
            F.size("t").cast("bigint").alias("n_tokens"),
            F.size(F.array_distinct("t")).cast("bigint").alias("d1"),
            D.shingles_all_from_tokens(F.col("t"), 2).alias("g2"),
            D.shingles_all_from_tokens(F.col("t"), 3).alias("g3"),
        )

    base = memo_persist(spark, ("repetition_base", sf_dir), build)
    bi = (
        base.select("doc_id", F.explode("g2").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("bigint").alias("total2"),
            F.count(F.lit(1)).cast("bigint").alias("d2"),
            F.max("n").cast("bigint").alias("top2"),
        )
    )
    per_doc = base.select(
        "doc_id",
        "n_tokens",
        (F.lit(1.0) - F.col("d1").cast("double") / F.col("n_tokens")).alias(
            "dup_token_frac"
        ),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("g3")).cast("double") / F.size("g3")
        ).alias("dup_3gram_frac"),
    )
    return (
        per_doc.join(bi, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "dup_token_frac",
            (F.lit(1.0) - F.col("d2").cast("double") / F.col("total2")).alias(
                "dup_2gram_frac"
            ),
            "dup_3gram_frac",
            ((F.col("top2") * 2).cast("double") / F.col("n_tokens")).alias(
                "top_bigram_frac"
            ),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ corpus vocabulary top-k
# The heavy-hitters pass every corpus build runs (vocab sizing, stopword
# discovery, tokenizer sanity). Plan: explode tokens -> map-side-combined
# count per token -> single shuffle on the token key -> global top-50.
# At 100 TB the token key is high-cardinality and near-uniform (no skew
# hot key worse than the stopword head, which partial aggregation absorbs
# on the map side).
_VOCAB_K = 50
_VOCAB_SQL = rf"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
    FROM documents
)
SELECT token,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT {_VOCAB_K}
"""


@register("vocab_top50", sql=_VOCAB_SQL)
def vocab_top50(spark, sf_dir):
    """Global top-50 tokens by occurrence count (ties broken by
    token text, the id tie-break invariant): occurrences + document
    frequency per token."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(D.tokens(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(_VOCAB_K)
    )


# --------------------------------------------------- sorted string aggregate
# Grouped list aggregation with a TOTAL order inside the cell: collect the
# distinct sources per language, sort, comma-join. Unordered string_agg /
# collect_list is nondeterministic in BOTH engines (hash-aggregate arrival
# order) — the sort inside the cell is what makes a list-valued aggregate
# oracle-checkable at all, and is the same discipline the profile assembly
# uses for human_list. Scale: per-group distinct-collect is bounded by the
# source-label cardinality (20), not row count — partial aggregation
# collapses duplicates map-side.
_SOURCES_BY_LANG_SQL = """
SELECT lang,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       string_agg(DISTINCT source, ',' ORDER BY source) AS sources_csv
FROM documents
GROUP BY lang
"""


@register("sources_by_lang", sql=_SOURCES_BY_LANG_SQL)
def sources_by_lang(spark, sf_dir):
    """Distinct sources per document language, sorted and comma-joined."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.array_join(
            F.sort_array(F.collect_set("source")), ","
        ).alias("sources_csv"),
    )


# ----------------------------------------------------- TF-IDF top terms
# Per-document characteristic terms — the classic relevance weighting
# (tf × ln(N/df)), used in corpus curation for topic balancing and
# near-duplicate triage. Plan shape: tf is one shuffle on (doc_id, token);
# document frequency REUSES the tf frame (df = row count per token — no
# second pass over text); N is a broadcast scalar; the per-doc top-3 is a
# WindowGroupLimit-prunable rank over doc_id. Cross-engine float
# discipline: the RANKING key is round(tfidf, 6) with a token tie-break,
# so a sub-1e-6 libm divergence in ln() can reorder nothing — both
# engines sort on the identical rounded double (the same trick
# temperature_mix uses for pow-free rates).
_TFIDF_K = 3

_TFIDF_SQL = rf"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY doc_id, token
),
df AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df_docs
    FROM tf GROUP BY token
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, df.df_docs,
        round(CAST(tf.tf AS DOUBLE) * ln(n.n_docs / CAST(df.df_docs AS DOUBLE)), 6)
            AS tfidf_r
    FROM tf JOIN df USING (token), n
)
SELECT doc_id, token, tf, df_docs, tfidf_r,
    CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf_r DESC, token
    ) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= {_TFIDF_K}
"""


@register("tfidf_top_terms", sql=_TFIDF_SQL)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (idf = ln(N/df), ranked on the
    6-d.p.-rounded score with token tie-break)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(D.tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df_docs"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df_docs",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs") / F.col("df_docs").cast("double")),
                6,
            ).alias("tfidf_r"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf_r"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= _TFIDF_K)
    )


# ------------------------------------------------- word-distribution entropy
# Shannon entropy of the per-document token distribution — a repetitiveness
# / quality signal complementing repetition_signals (low entropy = template
# or looping text; filters of this family gate pre-training corpora).
# Tokenization is the shared D.tokens regex, so the signal is consistent
# with the minhash/TF-IDF family. Floats: p and log2(p) are double; the
# per-doc sum runs over ~tens of terms, so cross-engine fold-order error is
# <= 1e-12 and the 6 dp rounding absorbs it. Plan: two map-side-combinable
# groupBys (doc x token, then doc) — no window, no join back to the corpus.
_ENTROPY_SQL = """
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents),
cnt AS (
    SELECT doc_id, token, COUNT(*) AS c
    FROM toks WHERE token <> '' GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n FROM cnt GROUP BY 1)
SELECT c.doc_id,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
       round(-SUM((c.c / t.n) * log2(c.c / t.n)), 6) AS entropy
FROM cnt c JOIN tot t USING (doc_id)
GROUP BY c.doc_id, t.n
"""


@register("word_entropy", sql=_ENTROPY_SQL)
def word_entropy(spark, sf_dir):
    """Per-document Shannon entropy of the token distribution (bits)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(D.tokens(F.col("text"))).alias("token"))
    cnt = (
        toks.where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_tokens"),
    )
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id", "n", "distinct_tokens")
        .agg(
            F.round(
                -F.sum(
                    (F.col("c") / F.col("n"))
                    * F.log2(F.col("c") / F.col("n"))
                ),
                6,
            ).alias("entropy")
        )
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_tokens"),
            "distinct_tokens",
            "entropy",
        )
    )


# --------------------------------------------- scalar pandas_udf surface
# Every other Python stage in the repo is mapInPandas / applyInPandas /
# cogroup / UDTF; this gates the remaining Arrow surface — the SCALAR
# @pandas_udf (Series -> Series, vectorized per Arrow batch, usable inside
# any select). Semantics are exact-integer (token count = space count + 1
# on the single-spaced corpus) so pandas and the SQL oracle cannot drift.
# Scale note: a scalar pandas_udf pays one Arrow serialization round-trip
# per batch — fine for genuinely-Python logic, but the JVM twin
# (token_count) is the default for anything expressible in SQL, which is
# exactly the comparison this pair makes visible in the bench.
def _n_tokens_pandas():
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def n_tokens(s):
        return s.str.count(" ").add(1).astype("int64")

    return n_tokens


_TOKENS_PANDAS_SQL = """
SELECT doc_id,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS n_tokens
FROM documents
"""


@register("token_count_pandas", sql=_TOKENS_PANDAS_SQL)
def token_count_pandas(spark, sf_dir):
    """Per-doc token counts through a scalar Arrow pandas_udf."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", _n_tokens_pandas()(F.col("text")).alias("n_tokens"))


# ------------------------------------------------- mapInArrow surface
# The LOWEST-level Arrow API: raw pyarrow.RecordBatch in/out, no pandas
# conversion layer at all — the right tier when the Python logic is
# itself columnar (here: zero-copy-ish compute over the text column via
# pyarrow.compute). Exact-integer semantics shared with
# token_count_pandas so the three Python tiers (JVM expr / pandas_udf /
# mapInArrow) are mutually checkable through one oracle family.
_TOKENS_ARROW_SQL = """
SELECT doc_id,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS n_tokens
FROM documents
"""


@register("token_count_arrow", sql=_TOKENS_ARROW_SQL)
def token_count_arrow(spark, sf_dir):
    """Per-doc token counts through mapInArrow (pyarrow compute)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def count_tokens(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = pc.add(
                pc.count_substring(batch.column("text"), pattern=" "),
                1,
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pc.cast(n, pa.int64())],
                ["doc_id", "n_tokens"],
            )

    return d.mapInArrow(count_tokens, schema="doc_id bigint, n_tokens bigint")


# ------------------------------------------------ unicode NFC normalization
# The canonicalization stage multilingual pipelines run before hashing/
# dedup (two byte-different spellings of "é" — precomposed U+00E9 vs
# e + COMBINING ACUTE — must dedup as one document). Spark has no NFC
# built-in, so this is a vectorized @pandas_udf over Arrow batches
# (unicodedata.normalize, C-implemented); the oracle is DuckDB's native
# nfc_normalize — two INDEPENDENT Unicode implementations value-hashed
# against each other. The ASCII corpus normalizes to itself, so a
# deterministic decomposed suffix (e+U+0301, a+U+030A — both engines
# build it with chr()) is appended first, making every row a real
# normalization with measurable length change.
_NFC_SQL = """
WITH aug AS (
    SELECT doc_id,
        text || ' ' || 'e' || chr(769) || 'a' || chr(778) AS raw
    FROM documents
),
norm AS (
    SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM aug
)
SELECT doc_id,
    CAST(length(raw) AS BIGINT) AS n_chars_raw,
    CAST(length(nfc) AS BIGINT) AS n_chars_nfc,
    md5(nfc) AS nfc_md5
FROM norm
"""


@register("nfc_normalize_text", sql=_NFC_SQL)
def nfc_normalize_text(spark, sf_dir):
    """NFC-normalize each document (with a decomposed suffix appended so
    the pass provably composes); emit before/after char counts and the
    md5 of the normalized text."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x))

    d = load_table(spark, sf_dir, "documents")
    # NB: Spark's chr() is mod-256 ASCII (chr(769) -> chr(1)), so the
    # decomposed suffix is a Python unicode literal here; the oracle
    # builds the identical sequence with DuckDB's full-codepoint chr()
    raw = F.concat(F.col("text"), F.lit(" e\u0301a\u030a"))
    return d.select("doc_id", raw.alias("raw")).select(
        "doc_id",
        F.length("raw").cast("bigint").alias("n_chars_raw"),
        F.length(nfc(F.col("raw"))).cast("bigint").alias("n_chars_nfc"),
        F.md5(nfc(F.col("raw"))).alias("nfc_md5"),
    )


# ------------------------------------------------------- phrase matching
# Exact phrase search by POSITIONAL adjacency — the operator behind
# quoted queries ("table hash" must match consecutively, not as a bag).
# Plan: explode words WITH positions, filter immediately to the two
# phrase terms (the corpus-sized explode collapses to term-frequency
# rows before any shuffle), equi-join on (doc_id, pos+1). At production
# scale the same join runs against the PERSISTED positional postings of
# just the phrase terms (shard-pruned scans, the inverted_index.py
# layout extended with a positions column) — the adjacency algebra here
# is identical. Positions index the RAW ' +' split (leading/trailing
# empties can only sit at the ends, so interior adjacency is unaffected
# — same rule both engines).
_PHRASE = ("table", "hash")

_PHRASE_SQL = f"""
WITH w AS (
  SELECT doc_id, arr[i] AS word, i
  FROM (SELECT doc_id, string_split_regex(text, ' +') AS arr
        FROM documents),
       unnest(generate_series(1, len(arr))) AS t(i)
)
SELECT a.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
WHERE a.word = '{_PHRASE[0]}' AND b.word = '{_PHRASE[1]}'
GROUP BY a.doc_id
"""


@register("phrase_match_docs", sql=_PHRASE_SQL)
def phrase_match_docs(spark, sf_dir):
    """Documents containing the exact phrase ``_PHRASE`` with adjacency
    match counts."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " +")).alias("pos", "word"),
    )
    a = words.where(F.col("word") == _PHRASE[0]).select("doc_id", "pos")
    b = words.where(F.col("word") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


# -------------------------------------------- n-gram diversity report
# Corpus repetitiveness as data (the distinct-n metric of Li et al.
# 2016, applied per source): the share of token occurrences that are
# unique unigrams/bigrams. A source whose distinct-2 ratio collapses is
# template/boilerplate soup — the per-source signal a curation pipeline
# watches next to quality_score. Pure integer counts and integer-
# division micro ratios; the bigram stream reuses the dedup family's
# 2-shingles so both engines tokenize identically. Scale: two
# (source, gram)-keyed aggregates, map-side combinable, source-sized
# output.

_DIVERSITY_SQL = f"""
WITH toks AS (
    SELECT source,
           regexp_split_to_array(trim(text), '\\s+') AS tk,
           {D.shingles_all_sql('text', 2)} AS bg
    FROM documents
),
uni AS (
    SELECT source, unnest(tk) AS g FROM toks
),
big AS (
    SELECT source, unnest(bg) AS g FROM toks
),
u AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS total_1,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_1
    FROM uni WHERE g <> '' GROUP BY source
),
b AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS total_2,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_2
    FROM big WHERE g <> '' GROUP BY source
)
SELECT u.source, u.total_1, u.distinct_1, b.total_2, b.distinct_2,
       CAST((1000000 * u.distinct_1) // u.total_1 AS BIGINT)
           AS distinct1_micro,
       CAST((1000000 * b.distinct_2) // b.total_2 AS BIGINT)
           AS distinct2_micro
FROM u JOIN b USING (source)
"""


@register("ngram_diversity_report", sql=_DIVERSITY_SQL)
def ngram_diversity_report(spark, sf_dir):
    """Per-source distinct-1/distinct-2 diversity card: gram totals,
    distinct counts, and micro-unit unique ratios."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", D.tokens(F.col("text")).alias("tk")
    )
    uni = toks.select("source", F.explode("tk").alias("g")).where(
        F.col("g") != ""
    )
    big = toks.select(
        "source",
        F.explode(D.shingles_all_from_tokens(F.col("tk"), 2)).alias("g"),
    ).where(F.col("g") != "")
    u = uni.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_1"),
        F.countDistinct("g").cast("bigint").alias("distinct_1"),
    )
    b = big.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_2"),
        F.countDistinct("g").cast("bigint").alias("distinct_2"),
    )
    return u.join(b, "source").select(
        "source",
        "total_1",
        "distinct_1",
        "total_2",
        "distinct_2",
        F.expr("(1000000 * distinct_1) DIV total_1")
        .cast("bigint").alias("distinct1_micro"),
        F.expr("(1000000 * distinct_2) DIV total_2")
        .cast("bigint").alias("distinct2_micro"),
    )


# ----------------------------------------------- PMI collocation card
# Pointwise mutual information over adjacent token pairs — the standard
# collocation signal (phrase-vocabulary candidates for tokenizers,
# template/boilerplate detection when PMI saturates). Integer-exact
# cross-engine via the ccnet precedent: per-term micro-nat logs are
# floor(ln(count/total)·1e6) over identical IEEE doubles, so
# PMI = L(xy|Nb) − L(x|Nu) − L(y|Nu) is a BIGINT in both engines.
# Scale shape: two map-side-combinable gram aggregates, token-keyed
# joins of the support-filtered candidates against the unigram dict,
# scalar totals broadcast, top-50 under a total order compiles to
# TakeOrderedAndProject — no windows, nothing global but two scalars.
_PMI_MIN_COUNT = 5

_PMI_SQL = f"""
WITH toks AS (
    SELECT regexp_split_to_array(trim(text), '\\s+') AS tk,
           {D.shingles_all_sql('text', 2)} AS bg
    FROM documents
),
uni AS (SELECT unnest(tk) AS w FROM toks),
u AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c
    FROM uni WHERE w <> '' GROUP BY w
),
nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM u),
big AS (SELECT unnest(bg) AS g FROM toks),
b AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS c_xy
    FROM big WHERE g LIKE '% %' GROUP BY g
),
nb AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS n FROM b),
scored AS (
    SELECT b.g AS bigram, b.c_xy, ux.c AS c_x, uy.c AS c_y,
        CAST(floor(ln(b.c_xy / nb.n) * 1000000) AS BIGINT)
        - CAST(floor(ln(ux.c / nu.n) * 1000000) AS BIGINT)
        - CAST(floor(ln(uy.c / nu.n) * 1000000) AS BIGINT) AS pmi_micro
    FROM b
    CROSS JOIN nb
    CROSS JOIN nu
    JOIN u ux ON ux.w = string_split(b.g, ' ')[1]
    JOIN u uy ON uy.w = string_split(b.g, ' ')[2]
    WHERE b.c_xy >= {_PMI_MIN_COUNT}
)
SELECT bigram, c_xy, c_x, c_y, pmi_micro
FROM scored
ORDER BY pmi_micro DESC, bigram ASC
LIMIT 50
"""


@register("pmi_bigrams_top", sql=_PMI_SQL)
def pmi_bigrams_top(spark, sf_dir):
    """Top-50 adjacent-pair collocations by integer micro-nat PMI
    (support ≥ {_PMI_MIN_COUNT}), with the gram counts that produced
    them. Ties broken by bigram text so the LIMIT is a total order."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(D.tokens(F.col("text")).alias("tk"))
    uni = toks.select(F.explode("tk").alias("w")).where(F.col("w") != "")
    u = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    nu = u.agg(F.sum("c").cast("double").alias("nu"))
    big = toks.select(
        F.explode(D.shingles_all_from_tokens(F.col("tk"), 2)).alias("g")
    ).where(F.col("g").contains(" "))
    b_all = big.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    nb = b_all.agg(F.sum("c_xy").cast("double").alias("nb"))
    cand = b_all.where(F.col("c_xy") >= _PMI_MIN_COUNT)
    parts = F.split(F.col("g"), " ")
    scored = (
        cand.select(
            "g", "c_xy",
            parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2"),
        )
        .join(u.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(u.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
    )
    micro = lambda num, den: F.floor(  # noqa: E731
        F.log(num / den) * F.lit(1000000)
    ).cast("bigint")
    pmi = (
        micro(F.col("c_xy"), F.col("nb"))
        - micro(F.col("c_x"), F.col("nu"))
        - micro(F.col("c_y"), F.col("nu"))
    )
    return (
        scored.select(
            F.col("g").alias("bigram"), "c_xy", "c_x", "c_y",
            pmi.alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), F.asc("bigram"))
        .limit(50)
    )


# ------------------------------------ per-source length percentiles
# The packing/budget tuning card: exact token-length percentiles per
# source (p50/p90/p99 + max). Exact ranks, not a sketch — percentile =
# the length at 1-based position ceil(q·n) under the (len, doc_id)
# total order within each source. The window is PARTITIONED by source
# (keyed state, no global sort); at 100 TB per-source percentiles is
# exactly the shape Spark's rangepartition-per-key window handles, and
# the approx exit is a GK sketch per source (percentile_approx).
_LEN_PCTL_SQL = """
WITH lens AS (
    SELECT source, doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
           END AS n_tokens
    FROM documents
),
ranked AS (
    SELECT source, n_tokens,
           row_number() OVER (
               PARTITION BY source ORDER BY n_tokens, doc_id
           ) AS rn,
           count(*) OVER (PARTITION BY source) AS n
    FROM lens
)
SELECT source,
    CAST(ANY_VALUE(n) AS BIGINT) AS n_docs,
    CAST(MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
             THEN n_tokens END) AS BIGINT) AS p50,
    CAST(MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
             THEN n_tokens END) AS BIGINT) AS p90,
    CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
             THEN n_tokens END) AS BIGINT) AS p99,
    CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM ranked
GROUP BY source
"""


@register("doc_length_percentiles", sql=_LEN_PCTL_SQL)
def doc_length_percentiles(spark, sf_dir):
    """Exact per-source token-length percentiles (p50/p90/p99/max) under
    the (length, doc_id) total order — the packing-budget tuning card."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    lens = docs.select(
        "source", "doc_id", n_tokens.alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    wc = Window.partitionBy("source")
    ranked = lens.select(
        "source",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )

    def at(q: float):
        return F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.lit(q) * F.col("n")).cast("bigint"),
                F.col("n_tokens"),
            )
        ).cast("bigint")

    return ranked.groupBy("source").agg(
        F.first("n").cast("bigint").alias("n_docs"),
        at(0.50).alias("p50"),
        at(0.90).alias("p90"),
        at(0.99).alias("p99"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


# ---------------------------------------------------- corpus datasheet
# The "Datasheets for Datasets" one-row summary a release ships with:
# corpus size (docs/tokens/chars), source/language breadth, exact-dup
# rate (the dedup_exact 40-char canonical key), empty-doc count, and
# mean tokens-per-doc in micro-units. One scan + two tiny aggregates —
# every number integer-exact, so the whole card value-hashes. This is
# deliberately a COMPOSITION of already-gated semantics (token spec =
# the pack_sequences/doc_length_percentiles EMPTY-AWARE spec —
# empty/whitespace-only docs count 0 tokens, unlike token_count's raw
# size(split(...)) which yields 1 for them; that divergence is why
# n_empty_docs is a separate column — dup key = dedup_exact's): the
# datasheet can only drift if a member gate drifts.
_DATASHEET_SQL = """
WITH base AS (
    SELECT doc_id, source, lang, text,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+'))
           END AS n_tokens,
           length(text) AS n_chars,
           md5(substring(text, 1, 40)) AS dk
    FROM documents
),
dups AS (
    SELECT CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS n_dup_docs,
           CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN 1 END), 0) AS BIGINT)
               AS n_dup_groups
    FROM (SELECT dk, count(*) AS cnt FROM base GROUP BY dk)
)
SELECT
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
    CAST(SUM(CASE WHEN n_tokens = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_empty_docs,
    (SELECT n_dup_docs FROM dups) AS n_exact_dup_docs,
    (SELECT n_dup_groups FROM dups) AS n_exact_dup_groups,
    CAST((1000000 * SUM(n_tokens)) // COUNT(*) AS BIGINT)
        AS tokens_per_doc_micro
FROM base
"""


@register("corpus_datasheet", sql=_DATASHEET_SQL)
def corpus_datasheet(spark, sf_dir):
    """One-row dataset datasheet: size, breadth, exact-dup rate, empty
    docs, mean tokens/doc — all integer-exact compositions of gated
    member semantics."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim("text") == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim("text"), r"\s+"))
    )
    base = docs.select(
        "source",
        "lang",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.md5(F.substring("text", 1, 40)).alias("dk"),
    )
    dups = (
        base.groupBy("dk")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_exact_dup_docs"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_exact_dup_groups"),
        )
    )
    summary = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum(F.when(F.col("n_tokens") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_empty_docs"),
    )
    return summary.crossJoin(F.broadcast(dups)).select(
        "n_docs",
        "n_tokens",
        "n_chars",
        "n_sources",
        "n_langs",
        "n_empty_docs",
        "n_exact_dup_docs",
        "n_exact_dup_groups",
        F.expr("CAST((1000000 * n_tokens) DIV n_docs AS BIGINT)").alias(
            "tokens_per_doc_micro"
        ),
    )


# ----------------------------------------------- curriculum phases
# Curriculum data ordering (easy→hard) as a deterministic assignment:
# docs failing the quality gate get phase 0 (dropped from the
# curriculum); kept docs split into 4 difficulty phases by token count
# — the canonical curriculum proxy — using no-global-sort
# sampled-cutpoint machinery (key-modulus sample of the kept docs, 3
# integer-position cuts under the (n_tokens, doc_id) total order,
# broadcast, map-side assign). A
# training loader then streams phase 1 → 4. Composes two gated
# semantics: the quality gate's score and the cutpoint discipline.
_CURRICULUM_SQL = f"""
WITH q AS ({_QUALITY_SQL}),
s AS (
    SELECT n_tokens AS v, doc_id AS k FROM q
    WHERE quality_score >= 0.5 AND doc_id % 101 = 0
),
arr AS (
    SELECT list(v ORDER BY v, k) AS vs, list(k ORDER BY v, k) AS ks,
           count(*) AS m
    FROM s
)
SELECT q.doc_id, q.n_tokens,
    CAST(CASE WHEN q.quality_score < 0.5 THEN 0 ELSE 1 + {" + ".join(
        f"(CASE WHEN q.n_tokens > vs[greatest(1, ({i} * m) // 4)]"
        f" OR (q.n_tokens = vs[greatest(1, ({i} * m) // 4)]"
        f"     AND q.doc_id > ks[greatest(1, ({i} * m) // 4)])"
        " THEN 1 ELSE 0 END)"
        for i in range(1, 4)
    )} END AS INT) AS phase
FROM q CROSS JOIN arr
"""


@register("curriculum_phase_assign", sql=_CURRICULUM_SQL)
def curriculum_phase_assign(spark, sf_dir):
    """Phase 0 = quality-dropped; phases 1-4 = token-count quartiles of
    the kept docs via deterministic sampled cut points (no global
    sort). The easy→hard loader order for curriculum training."""
    q = quality_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    kept = q.where(F.col("quality_score") >= 0.5)
    s = kept.where((F.col("doc_id") % 101) == 0)
    arr = s.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("n_tokens").alias("v"),
                    F.col("doc_id").alias("k"),
                )
            )
        ).alias("a"),
        F.count(F.lit(1)).alias("m"),
    )
    # try_element_at (ADVICE r11): an empty key-modulus sample (m=0)
    # yields NULL cuts in DuckDB's list indexing -> all kept docs phase 1;
    # ANSI element_at would throw instead. NULL cuts make _above return
    # 0, so both engines agree on the degenerate single-phase corpus.
    cuts = arr.select(
        *[
            F.try_element_at(
                F.col("a"),
                F.greatest(
                    F.lit(1), F.expr(f"CAST(({i} * m) DIV 4 AS INT)")
                ),
            ).alias(f"c{i}")
            for i in range(1, 4)
        ]
    )

    def _above(i: int):
        v, k = F.col(f"c{i}.v"), F.col(f"c{i}.k")
        hit = (F.col("n_tokens") > v) | (
            (F.col("n_tokens") == v) & (F.col("doc_id") > k)
        )
        return F.when(hit, 1).otherwise(0)

    phase = F.lit(1)
    for i in range(1, 4):
        phase = phase + _above(i)
    return q.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        F.when(F.col("quality_score") < 0.5, F.lit(0))
        .otherwise(phase)
        .cast("int")
        .alias("phase"),
    )


# ----------------------------------------------------- Zipf rank-frequency
# Corpus-health card: does the token distribution follow Zipf's law
# (frequency ~ rank^-s, s near 1)? A natural corpus fits; a template- or
# boilerplate-dominated one flattens (s << 1) and a degenerate one
# steepens. The card least-squares-fits ln(freq) on ln(rank) over the
# top-R types and emits the SUFFICIENT STATISTICS as integer micro-nats
# (floor(ln·1e6), the pmi/ccnet convention) plus a guarded integer slope
# in milli-units: slope_milli = -((-num) DIV (den DIV 1000)), all
# operands positive, so truncation direction is identical in both
# engines (the corpus_kl_drift signed-division lesson). At 100 TB the
# word aggregate is map-side-combinable and the fit runs over a
# VOCAB-bounded (≤ R rows) frame — the rank window touches at most R
# rows by construction (TakeOrderedAndProject feeds it), never the
# corpus.
_ZIPF_TOP_R = 100

_ZIPF_SQL = f"""
WITH freq AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c
    FROM (
        SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents
    ) WHERE w <> '' GROUP BY w
),
top AS (
    SELECT w, c FROM freq ORDER BY c DESC, w ASC LIMIT {_ZIPF_TOP_R}
),
xy AS (
    SELECT CAST(floor(ln(ROW_NUMBER() OVER (ORDER BY c DESC, w ASC))
                      * 1000000) AS BIGINT) AS x,
           CAST(floor(ln(c) * 1000000) AS BIGINT) AS y
    FROM top
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM xy
)
SELECT n, sx, sy, sxy, sxx,
    CASE WHEN (n * sxx - sx * sx) >= 1000 AND (sx * sy - n * sxy) >= 0
         THEN -((sx * sy - n * sxy) // ((n * sxx - sx * sx) // 1000))
         ELSE CAST(0 AS BIGINT) END AS slope_milli
FROM s
"""


@register("zipf_fit_report", sql=_ZIPF_SQL)
def zipf_fit_report(spark, sf_dir):
    """One-row Zipf fit card over the top-{R} token types: regression
    sufficient statistics in integer micro-nats and the slope in
    milli-units via positive-operand integer division (slope ≈ -1000
    for a Zipfian corpus). The rank window runs on the R-row
    TakeOrderedAndProject result — bounded at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(D.tokens(F.col("text"))).alias("w")).where(
        F.col("w") != ""
    )
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    top = freq.orderBy(F.desc("c"), F.asc("w")).limit(_ZIPF_TOP_R)
    w = Window.orderBy(F.desc("c"), F.asc("w"))
    micro = lambda col: F.floor(F.log(col) * F.lit(1000000)).cast(  # noqa: E731
        "bigint"
    )
    xy = top.select(
        micro(F.row_number().over(w).cast("double")).alias("x"),
        micro(F.col("c").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    neg_num = F.col("sx") * F.col("sy") - F.col("n") * F.col("sxy")
    slope = F.when(
        (den >= 1000) & (neg_num >= 0),
        -F.expr(
            "(sx * sy - n * sxy) DIV ((n * sxx - sx * sx) DIV 1000)"
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    return s.select("n", "sx", "sy", "sxy", "sxx", slope.alias("slope_milli"))


# -------------------------------------------------- vocabulary OOV card
# Tokenizer-coverage card: with a frequency-built top-V vocabulary, what
# fraction of each source's tokens (and types) falls outside it? The
# out-of-vocabulary rate is the first thing a tokenizer retrain decision
# looks at. V is deliberately small relative to the fixture vocabulary so
# the OOV branch is exercised, not vacuously zero. The vocab is
# TakeOrderedAndProject-bounded and broadcast; everything else is one
# map-side-combinable aggregate per source.
_OOV_V = 20

_OOV_SQL = f"""
WITH toks AS (
    SELECT source, w FROM (
        SELECT source,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents
    ) WHERE w <> ''
),
vocab AS (
    SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM toks GROUP BY w
    ) ORDER BY c DESC, w ASC LIMIT {_OOV_V}
)
SELECT t.source,
    CAST(COUNT(*) AS BIGINT) AS n_tokens,
    CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_oov_tokens,
    CAST((1000000 * SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END))
         // COUNT(*) AS BIGINT) AS oov_micro,
    CAST(COUNT(DISTINCT CASE WHEN v.w IS NULL THEN t.w END) AS BIGINT)
        AS n_oov_types
FROM toks t LEFT JOIN vocab v ON t.w = v.w
GROUP BY t.source
"""


@register("vocab_oov_report", sql=_OOV_SQL)
def vocab_oov_report(spark, sf_dir):
    """Per-source OOV rates against the frequency-built top-{V} vocab:
    token and type counts outside the vocabulary plus the integer
    micro-unit OOV fraction. Vocab broadcast onto one keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(D.tokens(F.col("text"))).alias("w")
    ).where(F.col("w") != "")
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_OOV_V)
        .select(F.col("w").alias("vw"))
    )
    flagged = toks.join(
        F.broadcast(vocab), toks.w == F.col("vw"), "left"
    ).select("source", "w", F.col("vw").isNull().alias("oov"))
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("oov"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov_tokens"),
        F.expr(
            "CAST((1000000 * sum(CASE WHEN oov THEN 1 ELSE 0 END))"
            " DIV count(1) AS BIGINT)"
        ).alias("oov_micro"),
        F.countDistinct(F.when(F.col("oov"), F.col("w")))
        .cast("bigint")
        .alias("n_oov_types"),
    )


# ------------------------------------------------ langid confusion card
# Evaluation-as-data for the language-ID heuristic (P2 family): the
# fixture's true `lang` column crossed with langid_heuristic's
# prediction — confusion cells with per-true-language totals and the
# integer micro-unit cell rate. The ann_recall_report discipline
# applied to langid: the card an operator consumes to decide
# marker-set changes. Two keyed aggregates + one broadcast join.
_LANGID_CONF_SQL = f"""
WITH pred AS ({_langid_sql()}),
joined AS (
    SELECT d.lang, p.pred_lang
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
),
totals AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_total
    FROM joined GROUP BY lang
)
SELECT j.lang, j.pred_lang,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    t.lang_total,
    CAST((1000000 * COUNT(*)) // t.lang_total AS BIGINT) AS cell_micro
FROM joined j JOIN totals t ON j.lang = t.lang
GROUP BY j.lang, j.pred_lang, t.lang_total
"""


@register("langid_confusion_report", sql=_LANGID_CONF_SQL)
def langid_confusion_report(spark, sf_dir):
    """Confusion matrix of the langid heuristic against the fixture's
    true language labels: (lang, pred_lang) counts, per-true-language
    totals, and micro-unit cell rates."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    pred = langid_heuristic(spark, sf_dir).select("doc_id", "pred_lang")
    joined = d.join(pred, "doc_id").select("lang", "pred_lang")
    totals = joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("lang_total")
    )
    return (
        joined.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            "lang_total",
            F.expr(
                "CAST((1000000 * n_docs) DIV lang_total AS BIGINT)"
            ).alias("cell_micro"),
        )
    )


# --------------------------------------- Kneser-Ney bigram LM scoring
# The standard n-gram LM the ccnet-style pipelines actually run:
# interpolated Kneser-Ney bigrams with fixed discount D=0.5, trained on
# the corpus and scored back over it (the perplexity-of-train card that
# ranks sources by fluency under the corpus's own statistics).
#   P(w2|w1) = (c(w1w2) - D)/c(w1) + (D·N1+(w1·)/c(w1)) · Pcont(w2)
#   Pcont(w2) = N1+(·w2) / N1+(··)
# Every count is an exact integer aggregate; the probability is a fixed
# double expression tree evaluated identically in both engines (IEEE
# ops on identical inputs), folded to integer micro-nats by the
# floor(ln·1e6) convention per bigram TYPE, then weighted by the
# per-source instance counts — so the per-source sums are pure BIGINT.
# Four map-side-combinable aggregates + token-keyed joins; everything
# is vocabulary-bounded after the gram aggregates (the pmi posture).
_KN_D = 0.5

_KN_SQL = f"""
WITH grams AS (
    SELECT source, unnest({D.shingles_all_sql('text', 2)}) AS g
    FROM documents
),
big AS (
    SELECT source,
        string_split(g, ' ')[1] AS w1,
        string_split(g, ' ')[2] AS w2
    FROM grams WHERE g LIKE '% %'
),
bc AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
    FROM big GROUP BY w1, w2
),
uc AS (
    SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x,
           CAST(COUNT(*) AS BIGINT) AS n1p_x
    FROM bc GROUP BY w1
),
cont AS (
    SELECT w2, CAST(COUNT(*) AS BIGINT) AS cont_y FROM bc GROUP BY w2
),
nbig AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_big FROM bc),
model AS (
    -- D spelled CAST(0.5 AS DOUBLE): a bare 0.5 is DECIMAL in DuckDB
    -- (registry header rule) and would route the whole expression
    -- through decimal arithmetic instead of the IEEE tree Spark runs
    SELECT bc.w1, bc.w2,
        CAST(floor(ln(
            ((bc.c_xy - CAST({_KN_D} AS DOUBLE)) / uc.c_x)
            + ((CAST({_KN_D} AS DOUBLE) * uc.n1p_x) / uc.c_x)
              * (CAST(cont.cont_y AS DOUBLE) / nbig.n_big)
        ) * 1000000) AS BIGINT) AS lp_micro
    FROM bc
    JOIN uc ON bc.w1 = uc.w1
    JOIN cont ON bc.w2 = cont.w2
    CROSS JOIN nbig
),
per_src AS (
    SELECT source, w1, w2, CAST(COUNT(*) AS BIGINT) AS n
    FROM big GROUP BY source, w1, w2
)
SELECT s.source,
    CAST(SUM(s.n) AS BIGINT) AS n_bigrams,
    CAST(SUM(s.n * m.lp_micro) AS BIGINT) AS sum_logprob_micro,
    CAST(SUM(s.n * m.lp_micro) // SUM(s.n) AS BIGINT) AS mean_logprob_micro
FROM per_src s JOIN model m ON s.w1 = m.w1 AND s.w2 = m.w2
GROUP BY s.source
"""


@register("kn_bigram_logprob", sql=_KN_SQL)
def kn_bigram_logprob(spark, sf_dir):
    """Per-source corpus fluency under an interpolated Kneser-Ney bigram
    LM (D=0.5) trained on the corpus itself: bigram/continuation counts
    as exact aggregates, per-type log-probs in integer micro-nats,
    instance-weighted per-source sums. The self-scoring twin of
    ccnet_perplexity_buckets at the bigram order."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("source", D.tokens(F.col("text")).alias("tk")).where(
        F.size("tk") >= 2
    )
    big = tk.select(
        "source",
        F.explode(D.shingles_all_from_tokens(F.col("tk"), 2)).alias("g"),
    ).where(F.col("g").contains(" "))
    parts = F.split(F.col("g"), " ")
    big = big.select(
        "source", parts.getItem(0).alias("w1"), parts.getItem(1).alias("w2")
    )
    bc = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    uc = bc.groupBy("w1").agg(
        F.sum("c_xy").cast("bigint").alias("c_x"),
        F.count(F.lit(1)).cast("bigint").alias("n1p_x"),
    )
    cont = bc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cont_y")
    )
    nbig = bc.agg(F.count(F.lit(1)).cast("bigint").alias("n_big"))
    prob = (
        (F.col("c_xy") - F.lit(_KN_D)) / F.col("c_x")
        + ((F.lit(_KN_D) * F.col("n1p_x")) / F.col("c_x"))
        * (F.col("cont_y").cast("double") / F.col("n_big"))
    )
    model = (
        bc.join(uc, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(nbig))
        .select(
            "w1",
            "w2",
            F.floor(F.log(prob) * F.lit(1000000))
            .cast("bigint")
            .alias("lp_micro"),
        )
    )
    per_src = big.groupBy("source", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        per_src.join(model, ["w1", "w2"])
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("lp_micro"))
            .cast("bigint")
            .alias("sum_logprob_micro"),
            F.expr(
                "CAST(sum(n * lp_micro) DIV sum(n) AS BIGINT)"
            ).alias("mean_logprob_micro"),
        )
    )


# --------------------------------------- source-vs-corpus divergence
# Which source drifts furthest from the corpus blend? Per-source
# KL(P_source ‖ P_corpus) over the unigram distributions — the mixture
# re-weighting signal (a source whose distribution diverges needs its
# temperature revisited), complementing corpus_kl_drift_report (which
# compares snapshot VERSIONS, not sources). Shared support holds by
# construction (every source word is a corpus word), so the sum is
# total. Per-type terms in integer micro-nats: the log ratio is ONE
# fixed double expression — (c_sw·N)/(n_s·C_w) with both products
# taken in DOUBLE so no BIGINT overflow at any scale — floored to
# micro-nats (the pmi/ccnet convention) and weighted by exact integer
# counts, so the per-source sums are pure BIGINT. Two map-side-
# combinable word aggregates + one vocab-bounded join.
_SRC_DIVERGENCE_SQL = """
WITH toks AS (
    SELECT source, w FROM (
        SELECT source,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents
    ) WHERE w <> ''
),
sw AS (
    SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
    FROM toks GROUP BY source, w
),
st AS (
    SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM sw GROUP BY source
),
cw AS (
    SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w
),
tot AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM cw),
terms AS (
    SELECT sw.source, sw.c_sw,
        CAST(floor(ln(
            (CAST(sw.c_sw AS DOUBLE) * tot.n)
            / (CAST(st.n_s AS DOUBLE) * cw.c_w)
        ) * 1000000) AS BIGINT) AS lr_micro
    FROM sw
    JOIN st ON sw.source = st.source
    JOIN cw ON sw.w = cw.w
    CROSS JOIN tot
)
SELECT t.source, st.n_s AS n_tokens, st.n_types,
    CAST(SUM(t.c_sw * t.lr_micro) AS BIGINT) AS kl_num_micro,
    -- the floored-term sum can dip below zero; positive-operand
    -- sign-split keeps the card hash-identical under truncating AND
    -- flooring integer-division conventions (both current engines
    -- truncate, but don't depend on it)
    CAST(CASE WHEN SUM(t.c_sw * t.lr_micro) >= 0
        THEN SUM(t.c_sw * t.lr_micro) // st.n_s
        ELSE -((-SUM(t.c_sw * t.lr_micro)) // st.n_s)
        END AS BIGINT) AS mean_kl_micro
FROM terms t JOIN st ON t.source = st.source
GROUP BY t.source, st.n_s, st.n_types
"""


@register("source_divergence_report", sql=_SRC_DIVERGENCE_SQL)
def source_divergence_report(spark, sf_dir):
    """Per-source KL(source ‖ corpus) over unigram distributions in
    integer micro-nats (exact-count-weighted floored log ratios) — the
    mixture re-weighting card. mean_kl_micro divides a possibly-negative
    sum (the SUM of floored terms can dip below zero even though true
    KL ≥ 0 — each floor subtracts up to 1 micro-nat): Spark DIV and
    DuckDB // both truncate toward zero (verified: -7//2 = -3), but the
    positive-operand sign-split spelling below removes the dependence
    on that convention entirely, matching signal_agreement_report."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(D.tokens(F.col("text"))).alias("w")
    ).where(F.col("w") != "")
    sw = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_sw")
    )
    st = sw.groupBy("source").agg(
        F.sum("c_sw").cast("bigint").alias("n_s"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").cast("bigint").alias("c_w"))
    tot = cw.agg(F.sum("c_w").cast("bigint").alias("n"))
    lr = F.floor(
        F.log(
            (F.col("c_sw").cast("double") * F.col("n"))
            / (F.col("n_s").cast("double") * F.col("c_w"))
        )
        * F.lit(1000000)
    ).cast("bigint")
    terms = (
        sw.join(st, "source")
        .join(cw, "w")
        .crossJoin(F.broadcast(tot))
        .select("source", "c_sw", "n_s", "n_types", lr.alias("lr_micro"))
    )
    return terms.groupBy("source", "n_s", "n_types").agg(
        F.sum(F.col("c_sw") * F.col("lr_micro"))
        .cast("bigint")
        .alias("kl_num_micro"),
        F.expr(
            "CAST(CASE WHEN sum(c_sw * lr_micro) >= 0"
            " THEN sum(c_sw * lr_micro) DIV first(n_s)"
            " ELSE -((-sum(c_sw * lr_micro)) DIV first(n_s))"
            " END AS BIGINT)"
        ).alias("mean_kl_micro"),
    ).select(
        "source",
        F.col("n_s").alias("n_tokens"),
        "n_types",
        "kl_num_micro",
        "mean_kl_micro",
    )
