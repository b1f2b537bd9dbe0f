"""Training-data curation: benchmark decontamination and PII scanning
(north-star extensions — the two scrubbing passes every LLM data pipeline
runs before training; neither exists in the reference, which indexes code
repos, but both are first-class here per the build brief).

Both are pure Catalyst plans with exact DuckDB twins:

- **Decontamination** is the standard 13-gram overlap check (the GPT-3 /
  PaLM recipe): any document sharing a 13-token n-gram with the held-out
  eval set is flagged. The eval side is tiny (benchmarks are MBs) — its
  distinct gram keys BROADCAST; the corpus side is a narrow flatMap
  (explode) feeding a broadcast hash join, so the plan is
  scan → explode → BHJ → partial agg: no all-pairs stage, no shuffle of
  document text, only of (doc_id, gram-hash) hits. Grams join on md5 so
  the shuffled key is 32 bytes regardless of gram length.
- **PII scan** is regexp-based (emails / IPv4s / NANP-style phone
  numbers) with per-document counts and an md5 of the redacted text —
  single scan, one projection, codegen'd Java regex. The synthetic corpus
  contains no PII, so a deterministic injection (a pure function of
  doc_id, identical in both engines) plants known PII first; detection
  then has real positives and negatives to discriminate on.

Patterns are written in the common subset of Java regex (Spark) and RE2
(DuckDB): no backreferences, no lookaround.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.caching import memo_persist
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table, load_table_spread

# ------------------------------------------------- 13-gram decontamination
# Eval-set surrogate: every 7th doc (deterministic, both engines).
_GRAM_N = 13
_EVAL_MOD = 7

_GRAMS_CTE = f"""
toks AS (
    SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
grams AS (
    SELECT doc_id, md5(array_to_string(list_slice(t, i, i + {_GRAM_N - 1}), ' ')) AS gkey
    FROM toks, UNNEST(generate_series(1, len(t) - {_GRAM_N - 1})) AS u(i)
    WHERE len(t) >= {_GRAM_N}
)
"""

_CONTAM_SQL = f"""
WITH {_GRAMS_CTE},
ev AS (
    SELECT DISTINCT doc_id AS eval_id, gkey FROM grams
    WHERE doc_id % {_EVAL_MOD} = 0
),
corpus AS (
    SELECT DISTINCT doc_id, gkey FROM grams WHERE doc_id % {_EVAL_MOD} != 0
)
SELECT c.doc_id,
    CAST(COUNT(DISTINCT c.gkey) AS BIGINT) AS n_hit_grams,
    CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
FROM corpus c JOIN ev e USING (gkey)
GROUP BY c.doc_id
"""


@register("contamination_13gram", sql=_CONTAM_SQL)
def contamination_13gram(spark, sf_dir):
    """Docs sharing any 13-gram with the eval split, with hit counts.

    Plan: the eval gram set (distinct, hashed) broadcasts; corpus grams
    stream through a broadcast hash join — the corpus is scanned once,
    exploded ~tokens-per-doc ways, and only matching (doc_id, gkey,
    eval_id) rows reach the aggregate. At 100 TB the eval side is still
    MBs, so the broadcast holds; the corpus explode is map-side only.

    r14: the scan is spread (load_table_spread) so the 13-gram explode —
    profiled as a ~1 s single-task stage at bench SF — parallelizes;
    identity at production split counts."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toks = F.split(F.trim(F.col("text")), " ")
    grams = (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= _GRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_GRAM_N - 1)),
                    lambda i: F.md5(F.array_join(F.slice(F.col("t"), i, _GRAM_N), " ")),
                )
            ).alias("gkey"),
        )
    )
    ev = (
        grams.where(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_id"), "gkey")
        .distinct()
    )
    corpus = grams.where(F.col("doc_id") % _EVAL_MOD != 0).distinct()
    return (
        corpus.join(F.broadcast(ev), "gkey")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gkey").cast("bigint").alias("n_hit_grams"),
            F.countDistinct("eval_id").cast("bigint").alias("n_eval_docs"),
        )
    )


# ----------------------------------------------------------- PII scanning
# Deterministic injection: a pure function of doc_id, identical SQL/Spark.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE_RE = r"\+1-555-\d{4}"

_INJECT_SQL = """
    text
    || CASE WHEN doc_id % 7 = 3
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 5
            THEN ' node at 10.' || CAST(doc_id % 256 AS VARCHAR)
                 || '.0.' || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 13 = 7
            THEN ' call +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
            ELSE '' END
"""

_PII_SQL = f"""
WITH injected AS (
    SELECT doc_id, {_INJECT_SQL} AS itext FROM documents
)
SELECT doc_id,
    CAST(len(regexp_extract_all(itext, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
    CAST(len(regexp_extract_all(itext, '{_IPV4_RE}')) AS BIGINT) AS n_ips,
    CAST(len(regexp_extract_all(itext, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
    md5(regexp_replace(regexp_replace(regexp_replace(itext,
        '{_EMAIL_RE}', '[EMAIL]', 'g'),
        '{_IPV4_RE}', '[IP]', 'g'),
        '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_hash
FROM injected
"""


@register("pii_scan", sql=_PII_SQL)
def pii_scan(spark, sf_dir):
    """Per-doc PII counts + md5 of the redacted text (hashable stand-in
    for the redacted output a real pipeline would write). Single scan,
    all regex work codegen'd JVM-side — no shuffle at all until the
    driver collects."""
    docs = load_table(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    inject = F.concat(
        F.col("text"),
        F.when(
            doc_id % 7 == 3,
            F.concat(F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 11 == 5,
            F.concat(
                F.lit(" node at 10."),
                (doc_id % 256).cast("string"),
                F.lit(".0."),
                (doc_id % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % 13 == 7,
            F.concat(F.lit(" call +1-555-"), (1000 + doc_id % 9000).cast("string")),
        ).otherwise(F.lit("")),
    )
    itext = F.col("itext")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(itext, _EMAIL_RE, "[EMAIL]"), _IPV4_RE, "[IP]"
        ),
        _PHONE_RE,
        "[PHONE]",
    )
    return docs.select("doc_id", inject.alias("itext")).select(
        "doc_id",
        F.size(F.regexp_extract_all(itext, F.lit(_EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(itext, F.lit(_IPV4_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(itext, F.lit(_PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


# -------------------------------------------------- boilerplate n-grams
# Corpus-internal heavy-hitter detection (the CCNet/RefinedWeb boilerplate
# pass): 5-grams that recur across many DISTINCT documents are template
# text (headers, footers, license blurbs) — candidates for stripping
# before training. Plan: explode 5-grams (map-side), per-doc DISTINCT on
# the md5 gram key (collapses within-doc repetition before the shuffle),
# one shuffle on the 32-byte key, then a bounded global top-k
# (TakeOrderedAndProject). The gram TEXT rides along via any_value —
# same-key rows carry identical text, so the choice is deterministic.
_BP_N = 5
_BP_MIN_DOCS = 3
_BP_K = 40

_BOILERPLATE_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents
),
grams AS (
    SELECT DISTINCT doc_id,
        md5(array_to_string(list_slice(t, i, i + {_BP_N - 1}), ' ')) AS gkey,
        array_to_string(list_slice(t, i, i + {_BP_N - 1}), ' ') AS gram
    FROM toks, UNNEST(generate_series(1, len(t) - {_BP_N - 1})) AS u(i)
    WHERE len(t) >= {_BP_N}
)
SELECT any_value(gram) AS gram,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM grams
GROUP BY gkey
HAVING COUNT(*) >= {_BP_MIN_DOCS}
ORDER BY n_docs DESC, gram
LIMIT {_BP_K}
"""


@register("boilerplate_grams", sql=_BOILERPLATE_SQL)
def boilerplate_grams(spark, sf_dir):
    """Top-40 5-grams by document frequency (min 3 docs) — boilerplate
    candidates. The per-doc distinct runs BEFORE the global shuffle so a
    doc repeating one template line 1,000× still counts once."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), " ")
    grams = (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= _BP_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_BP_N - 1)),
                    lambda i: F.array_join(F.slice(F.col("t"), i, _BP_N), " "),
                )
            ).alias("gram"),
        )
        .select("doc_id", F.md5("gram").alias("gkey"), "gram")
        .distinct()
    )
    return (
        grams.groupBy("gkey")
        .agg(
            F.any_value(F.col("gram")).alias("gram"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .where(F.col("n_docs") >= _BP_MIN_DOCS)
        .select("gram", "n_docs")
        .orderBy(F.desc("n_docs"), "gram")
        .limit(_BP_K)
    )


# ----------------------------------- bloom-prefiltered decontamination
# Same SEMANTICS as contamination_13gram (the oracle is literally the same
# SQL — a Bloom filter has no false negatives, and the exact join after it
# kills false positives), different 100 TB posture: the broadcast eval
# structure is a BIT ARRAY (~10 bits/gram at 1% FP) instead of a hash
# relation (~100 bytes/gram), so an eval suite that outgrows the broadcast
# hash-join threshold still fits in every executor. Corpus grams hit the
# bloom BEFORE the per-doc DISTINCT, so the dedup shuffle sees only
# survivors (~hit-rate × corpus grams, not all of them).
#
# The membership test runs as an Arrow-batched pandas_udf over two
# JVM-computed int64 hashes (xxhash64 two-seed double hashing) — pure
# NumPy bit math per batch, no per-row Python. (Spark's own runtime bloom
# join — spark.sql.optimizer.runtime.bloomFilter.enabled — only fires on
# shuffle joins; this explicit form keeps the map-side-only plan.)
_BLOOM_K = 5
_BLOOM_MIN_BITS = 1 << 16

# Physical plan of the Spark-side Bloom build (consumed eagerly by the
# bounded word collect, so invisible on the returned frame) — kept for
# the plan test pinning the bit_or word-aggregate shape.
_LAST_BLOOM_BUILD_PLAN: str | None = None


def _gram_frame(docs):
    """(doc_id, gram) for every 13-token window — shared by the exact and
    bloom contamination variants. Callers pass a spread scan
    (load_table_spread) so the window explode parallelizes at bench SF."""
    toks = F.split(F.trim(F.col("text")), " ")
    return (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= _GRAM_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_GRAM_N - 1)),
                    lambda i: F.array_join(F.slice(F.col("t"), i, _GRAM_N), " "),
                )
            ).alias("gram"),
        )
    )


@register("contamination_bloom", sql=_CONTAM_SQL)
def contamination_bloom(spark, sf_dir):
    """Exact 13-gram decontamination behind a broadcast Bloom prefilter.

    Steps: (1) the Bloom bit array is built SPARK-SIDE (round-6 verdict
    item 6, the ``bit_or`` word-aggregate pattern from
    ``index_cells._refresh_cell_blooms``): each eval gram explodes to its k
    bit positions, a map-side-combinable ``bit_or(shiftleft(1L, bit))``
    per 64-bit word aggregates them, and only the aggregated (word, bits)
    rows — ≤ m/64, never the grams — reach the driver; (2) the power-of-
    two bit array (k=5, ~16 bits/gram) broadcasts to executors; (3)
    corpus grams stream through the vectorized membership test map-side;
    (4) survivors only are distinct-ed and exact-joined against the
    broadcast eval gram set, so the final output is IDENTICAL to
    contamination_13gram.

    Hash note: the builder works on ``h & (m-1)`` low bits with plain
    bigint arithmetic — since m is a power of two, ``(h1 + i*h2) mod m``
    depends only on the inputs mod m, so the signed-bigint build and the
    probe's full-width uint64 arithmetic set/test identical positions,
    and no ANSI-mode overflow is possible (values stay under 5m)."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id")
    grams = _gram_frame(docs)
    h1c = F.xxhash64("gram")
    h2c = F.xxhash64("gram", F.lit(1))

    # the eval-gram subtree feeds THREE consumers (the sizing count, the
    # word aggregate, and the exact-verify join side) — memo-persist it so
    # the 13-gram explode over the eval split runs once, not three times.
    # Bounded by the eval-set contract (benchmarks are MBs), same bound
    # that lets the bit array broadcast.
    ev_grams = memo_persist(
        spark,
        ("contam_eval_grams", sf_dir),
        lambda: _gram_frame(
            load_table_spread(spark, sf_dir, "documents", "doc_id")
        ).where(F.col("doc_id") % _EVAL_MOD == 0),
    )
    # localCheckpoint the distinct hash pairs: the sizing count and the
    # word aggregate would otherwise each pay the distinct shuffle
    ev_pairs = (
        ev_grams.select(h1c.alias("h1"), h2c.alias("h2"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = max(ev_pairs.count(), 1)
    m = _BLOOM_MIN_BITS
    while m < 16 * n:  # ~16 bits/gram → FP well under 1%
        m <<= 1
    mask = np.uint64(m - 1)
    lo1 = F.col("h1").bitwiseAND(F.lit(m - 1))
    lo2 = F.col("h2").bitwiseAND(F.lit(m - 1))
    pos = F.explode(
        F.array(*[
            (lo1 + F.lit(i) * lo2).bitwiseAND(F.lit(m - 1))
            for i in range(_BLOOM_K)
        ])
    ).alias("pos")
    word_frame = (
        ev_pairs.select(pos)
        .groupBy(F.shiftright("pos", 6).alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(pos & 63 AS INT)))"
            ).alias("bits")
        )
    )
    global _LAST_BLOOM_BUILD_PLAN
    _LAST_BLOOM_BUILD_PLAN = (
        word_frame._jdf.queryExecution().executedPlan().toString()
    )
    # bounded: ≤ m/64 aggregated words reach the driver, not the grams
    word_rows = word_frame.collect()
    bits = np.zeros(m >> 6, dtype=np.uint64)
    for r in word_rows:
        bits[int(r["word"])] = np.uint64(
            int(r["bits"]) & 0xFFFFFFFFFFFFFFFF
        )
    bc = spark.sparkContext.broadcast(bits)

    @F.pandas_udf("boolean")
    def in_bloom(h1: pd.Series, h2: pd.Series) -> pd.Series:
        b = bc.value
        u1 = h1.to_numpy().astype(np.uint64)
        u2 = h2.to_numpy().astype(np.uint64)
        acc = np.ones(len(u1), dtype=bool)
        for i in range(_BLOOM_K):
            pos = (u1 + np.uint64(i) * u2) & mask
            acc &= ((b[pos >> np.uint64(6)] >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool)
        return pd.Series(acc)

    corpus = (
        grams.where(F.col("doc_id") % _EVAL_MOD != 0)
        .where(in_bloom(h1c, h2c))
        .select("doc_id", F.md5("gram").alias("gkey"))
        .distinct()
    )
    ev = (
        ev_grams.select(F.col("doc_id").alias("eval_id"), F.md5("gram").alias("gkey"))
        .distinct()
    )
    return (
        corpus.join(F.broadcast(ev), "gkey")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gkey").cast("bigint").alias("n_hit_grams"),
            F.countDistinct("eval_id").cast("bigint").alias("n_eval_docs"),
        )
    )


# ----------------------------------- fuzzy (near-dup) decontamination
# Exact n-gram overlap misses PARAPHRASED eval leakage (whitespace edits,
# token swaps, partial rewrites). The standard second line of defense is
# MinHash-LSH between the eval split and the corpus — the same banded
# signatures the near-dup pipeline already computes, consumed as an
# eval↔corpus join instead of a self-join. A corpus doc sharing ANY
# (band, signature-slice) bucket with an eval doc is Jaccard-suspect
# (P(collision) = 1-(1-s^4)^4 for similarity s: >96% at s=0.9, <2% at
# s=0.3). Plan: bands are computed once (memoized subtree shared with the
# dedup family), the eval side is tiny and broadcasts, the join is a
# bucket equi-join — no all-pairs stage, exactly the dedup scale shape.
from cargo_chat_spark.queries import dedup as _dq

_FUZZY_DECON_SQL = f"""
WITH {_dq._BANDS_CTE},
ev AS (
    SELECT doc_id AS eval_id, band, key FROM bands
    WHERE doc_id % {_EVAL_MOD} = 0
),
corpus AS (
    SELECT doc_id, band, key FROM bands WHERE doc_id % {_EVAL_MOD} != 0
)
SELECT c.doc_id,
    CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs,
    CAST(COUNT(DISTINCT (c.band, c.key)) AS BIGINT) AS n_bucket_hits
FROM corpus c JOIN ev e ON e.band = c.band AND e.key = c.key
GROUP BY c.doc_id
"""


@register("fuzzy_decontamination", sql=_FUZZY_DECON_SQL)
def fuzzy_decontamination(spark, sf_dir):
    """Corpus docs MinHash-LSH-colliding with the eval split: per doc, how
    many eval docs and how many distinct buckets collide. Reuses the
    dedup family's capped band frame (identical in the oracle CTE)."""
    from cargo_chat_spark.queries import dedup as dq

    bands = dq._bands_df(spark, sf_dir)
    ev = (
        bands.where(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.col("doc_id").alias("eval_id"), "band", "key")
    )
    corpus = bands.where(F.col("doc_id") % _EVAL_MOD != 0)
    return (
        corpus.join(F.broadcast(ev), ["band", "key"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_id").cast("bigint").alias("n_eval_docs"),
            F.countDistinct("band", "key").cast("bigint").alias("n_bucket_hits"),
        )
    )



# --------------------------------------------- unigram-LM quality scoring
# The cheapest member of the perplexity-filter family (CCNet/Gopher use a
# 5-gram KenLM; the unigram form needs no external model): score each doc
# by bits-per-token under the corpus's own unigram distribution. Unusually
# high bits-per-token = rare-token soup (OCR noise, hex dumps); unusually
# low = repetitive boilerplate. Plan: one explode -> two integer aggs
# (per-(doc,token) tf and corpus unigram counts — both map-side
# combinable), token-keyed broadcast-able join, per-doc weighted sum.
# The corpus total is a scalar broadcast. No Python, no windows; the only
# O(corpus) shuffles are the two token-keyed groupBys. log2 on exact
# integer ratios, per-doc fold error absorbed by the 6 dp round.
_UNIGRAM_SQL = """
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents),
clean AS (SELECT doc_id, token FROM toks WHERE token <> ''),
uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM clean GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
doc_tok AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM clean GROUP BY 1, 2)
SELECT d.doc_id,
       CAST(SUM(d.tf) AS BIGINT) AS n_tokens,
       round(-SUM(d.tf * log2(u.c / t.n)) / SUM(d.tf), 6) AS bits_per_token
FROM doc_tok d JOIN uni u USING (token) CROSS JOIN tot t
GROUP BY d.doc_id
"""


@register("unigram_logprob", sql=_UNIGRAM_SQL)
def unigram_logprob(spark, sf_dir):
    """Per-doc bits-per-token under the corpus unigram LM (see note)."""
    from cargo_chat_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    clean = docs.select(
        "doc_id", F.explode(D.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    doc_tok = clean.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    uni = clean.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    return (
        doc_tok.join(uni, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(
                    F.col("tf") * F.log2(F.col("c") / F.col("n"))
                )
                / F.sum("tf"),
                6,
            ).alias("bits_per_token"),
        )
    )


# ------------------------------------------- CCNet perplexity buckets
# The CCNet policy (Wenzek et al. 2020): score every document by LM
# perplexity, split each LANGUAGE into head/middle/tail tertiles, keep
# head+middle for pretraining. Here the LM is the corpus's own unigram
# model (the unigram_logprob gate's formulation made integer-exact via
# the NB gates' micro-unit precedent: per-token floor(log2(c/n)*1e6)
# BIGINT, per-doc integer division by token count), tertile cutoffs are
# exact integer rank-thirds of the scores PER LANGUAGE (row_number
# order by (score, doc_id)), and the
# report is per-(lang, bucket) doc/token counts. Scale shape: the
# unigram model is a token-keyed aggregate (map-side combinable), the
# per-doc score one shuffle on doc_id, the cutoffs a lang-sized (tiny)
# exact percentile, the bucket label a broadcast join back.

_CCNET_SQL = """
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents),
clean AS (SELECT doc_id, token FROM toks WHERE token <> ''),
uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM clean GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
lp AS (
    SELECT token, CAST(floor(ln(u.c / t.n) * 1000000) AS BIGINT)
           AS lp_micro
    FROM uni u CROSS JOIN tot t),
doc_tok AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM clean GROUP BY 1, 2),
score AS (
    SELECT d.doc_id,
           CAST(SUM(d.tf) AS BIGINT) AS n_tokens,
           CAST((-SUM(d.tf * l.lp_micro)) // SUM(d.tf) AS BIGINT)
               AS bpt_micro
    FROM doc_tok d JOIN lp l USING (token)
    GROUP BY d.doc_id),
scored AS (
    SELECT s.doc_id, doc.lang, s.n_tokens, s.bpt_micro
    FROM score s JOIN documents doc USING (doc_id)),
ranked AS (
    SELECT lang, n_tokens,
        row_number() OVER (PARTITION BY lang
                           ORDER BY bpt_micro, doc_id) AS rk,
        count(*) OVER (PARTITION BY lang) AS n
    FROM scored)
SELECT lang,
       CASE WHEN rk * 3 <= n THEN 'head'
            WHEN rk * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM ranked
GROUP BY 1, 2
"""


@register("ccnet_perplexity_buckets", sql=_CCNET_SQL)
def ccnet_perplexity_buckets(spark, sf_dir):
    """Per-(lang, bucket) doc/token counts for the CCNet head/middle/
    tail split under the corpus unigram LM — integer micro-unit scores
    so the whole card value-hashes; a pipeline trains on head+middle
    and drops tail (or keeps tail for diversity ablations)."""
    from cargo_chat_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    clean = docs.select(
        "doc_id", F.explode(D.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    uni = clean.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = uni.agg(F.sum("c").cast("double").alias("n"))
    lp = uni.crossJoin(F.broadcast(tot)).select(
        "token",
        F.floor(F.log(F.col("c") / F.col("n")) * 1000000)
        .cast("bigint").alias("lp_micro"),
    )
    doc_tok = clean.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    score = (
        doc_tok.join(lp, "token")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.expr("(-SUM(tf * lp_micro)) DIV SUM(tf)")
            .cast("bigint").alias("bpt_micro"),
        )
    )
    scored = score.join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    # exact integer rank thirds, NOT interpolated percentiles: when
    # (n-1) is divisible by 3 the engines disagree on whether the
    # 1/3-quantile lands exactly on the order statistic (the double
    # 1.0/3.0 sits below the true fraction; Spark interpolates just
    # under the data point while DuckDB returns it), flipping every
    # tie-block doc at the cut. row_number thirds are integer-exact in
    # both engines and ARE CCNet's split-in-thirds semantics.
    w = Window.partitionBy("lang").orderBy("bpt_micro", "doc_id")
    ranked = scored.select(
        "lang",
        "n_tokens",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    bucket = (
        F.when(F.col("rk") * 3 <= F.col("n"), "head")
        .when(F.col("rk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
    )
    return ranked.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )


# ---------------------------------------------- end-to-end curation funnel
# The flagship composition: quality filter -> exact dedup -> benchmark
# decontamination -> train/val/test split, reported as a per-(stage, lang)
# attrition funnel. Each stage IS the registered operator (the callables
# compose; the oracle nests each stage's SQL twin verbatim as a CTE), so
# this entry certifies that the engine's building blocks snap together the
# way a real pipeline uses them — and the funnel row counts are exactly
# what a data-curation run reports to its operators. Scale: semi/anti
# joins on doc_id after each stage's own (already scale-shaped) plan; the
# funnel aggregates are trivial.
def _pipeline_sql() -> str:
    from cargo_chat_spark.queries.dedup import _EXACT_SQL
    from cargo_chat_spark.queries.sampling import _SPLIT_SQL
    from cargo_chat_spark.queries.textstats import _QFILTER_SQL

    return f"""
WITH qf AS ({_QFILTER_SQL}),
dd AS ({_EXACT_SQL}),
ct AS ({_CONTAM_SQL}),
sp AS ({_SPLIT_SQL}),
s1 AS (SELECT d.doc_id, d.lang FROM documents d
       JOIN qf ON qf.doc_id = d.doc_id AND qf.keep),
s2 AS (SELECT s1.* FROM s1
       JOIN (SELECT DISTINCT kept_id FROM dd) k ON k.kept_id = s1.doc_id),
s3 AS (SELECT s2.* FROM s2
       WHERE s2.doc_id % {_EVAL_MOD} != 0
         AND NOT EXISTS (SELECT 1 FROM ct WHERE ct.doc_id = s2.doc_id)),
funnel AS (
  SELECT 'all' AS stage, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 2
  UNION ALL SELECT 'quality', lang, CAST(COUNT(*) AS BIGINT)
  FROM s1 GROUP BY 2
  UNION ALL SELECT 'dedup', lang, CAST(COUNT(*) AS BIGINT)
  FROM s2 GROUP BY 2
  UNION ALL SELECT 'decontam', lang, CAST(COUNT(*) AS BIGINT)
  FROM s3 GROUP BY 2
  UNION ALL SELECT 'final_' || sp.split, s3.lang, CAST(COUNT(*) AS BIGINT)
  FROM s3 JOIN sp ON sp.doc_id = s3.doc_id GROUP BY 1, 2)
SELECT * FROM funnel
"""


def curation_pipeline(spark, sf_dir):
    """Quality -> dedup -> decontam -> split attrition funnel (see note)."""
    from cargo_chat_spark.queries.dedup import dedup_exact
    from cargo_chat_spark.queries.sampling import dataset_split
    from cargo_chat_spark.queries.textstats import quality_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    s1 = docs.join(
        quality_filter(spark, sf_dir).where("keep").select("doc_id"), "doc_id"
    )
    kept = (
        dedup_exact(spark, sf_dir)
        .select(F.col("kept_id").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(kept, "doc_id")
    contaminated = contamination_13gram(spark, sf_dir).select("doc_id")
    s3 = s2.where(F.col("doc_id") % _EVAL_MOD != 0).join(
        contaminated, "doc_id", "left_anti"
    )
    splits = dataset_split(spark, sf_dir).select("doc_id", "split")

    def counts(df, stage_col):
        return df.groupBy(stage_col.alias("stage"), "lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        )

    return (
        counts(docs, F.lit("all"))
        .unionByName(counts(s1, F.lit("quality")))
        .unionByName(counts(s2, F.lit("dedup")))
        .unionByName(counts(s3, F.lit("decontam")))
        .unionByName(
            counts(
                s3.join(splits, "doc_id"),
                F.concat(F.lit("final_"), F.col("split")),
            )
        )
    )


register("curation_pipeline", sql=_pipeline_sql())(curation_pipeline)


# ------------------------------------------------- per-source report card
# The curation dashboard: one row per source with volume, mean quality,
# token mass, and exact-dup rate — the table a data lead reads before
# deciding per-source mixture weights. Composes the REGISTERED stage
# operators (quality_score, dedup_exact's keep rule, token counts); the
# oracle nests quality_score's SQL twin verbatim, so this gate also
# re-proves the stages agree under composition. Cross-engine mean
# discipline: quality_score is exact quarters (multiples of 0.25), so
# the mean routes through an integer quarter-count sum — no float
# accumulation order anywhere.
def _source_report_sql() -> str:
    from cargo_chat_spark.queries.textstats import _QUALITY_SQL

    return f"""
WITH q AS ({_QUALITY_SQL}),
dk AS (SELECT doc_id, source, md5(substring(text, 1, 40)) AS k
       FROM documents),
keep AS (SELECT k, MIN(doc_id) AS kept FROM dk GROUP BY k),
flags AS (
    SELECT dk.doc_id, dk.source,
           CASE WHEN dk.doc_id = keep.kept THEN 0 ELSE 1 END AS is_dup
    FROM dk JOIN keep ON keep.k = dk.k)
SELECT f.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(q.quality_score * 4 AS BIGINT)) AS DOUBLE)
             / (4 * COUNT(*)), 6) AS avg_quality,
       CAST(SUM(q.n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(f.is_dup) AS BIGINT) AS n_dup_docs,
       ROUND(CAST(SUM(f.is_dup) AS DOUBLE) / COUNT(*), 6) AS dup_rate
FROM flags f JOIN q ON q.doc_id = f.doc_id
GROUP BY f.source
"""


@register("source_quality_report", sql=_source_report_sql())
def source_quality_report(spark, sf_dir):
    """Per-source curation report card (volume, mean quality, tokens,
    exact-dup rate)."""
    from pyspark.sql import Window

    from cargo_chat_spark.queries.textstats import quality_score

    d = load_table(spark, sf_dir, "documents")
    q = quality_score(spark, sf_dir).select("doc_id", "quality_score", "n_tokens")
    w_keep = Window.partitionBy(F.md5(F.substring("text", 1, 40)))
    flags = d.select(
        "doc_id",
        "source",
        (F.col("doc_id") != F.min("doc_id").over(w_keep))
        .cast("int")
        .alias("is_dup"),
    )
    return (
        flags.join(q, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum((F.col("quality_score") * 4).cast("bigint")).cast("double")
                / (F.lit(4) * F.count(F.lit(1))),
                6,
            ).alias("avg_quality"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
            F.round(
                F.sum("is_dup").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )


# ---------------------------------------------------- HTML text extraction
# The first stage of every web-crawl pipeline (CommonCrawl WET-style):
# strip comments/script/style/tags, decode the common entities, collapse
# whitespace, and gate on the text-to-markup ratio. The corpus is plain
# text, so (like the PII gate above) a deterministic HTML wrapper is
# built from each document's own fields IN BOTH ENGINES first; the strip
# chain must then recover the visible text exactly — the gate value-hashes
# a prefix, the exact length, and the ratio, so ANY divergence between
# the Java-regex and RE2 interpretations of the shared patterns (the real
# cross-engine risk) is a mismatch. Entities are decoded AFTER tag
# removal — decoding first would manufacture fake tags out of &lt;..&gt;
# (the classic extractor bug). Single scan, codegen'd, no Python.
_HTML_STRIP_STEPS = [
    (r"(?s)<!--.*?-->", " "),
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"<[^>]+>", " "),
    (r"&amp;", "&"),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&nbsp;", " "),
    (r"\s+", " "),
]
_HTML_RATIO_KEEP = 0.72


def _html_wrap_sql(dialect: str) -> str:
    """The deterministic wrapper, identical text in both engines (only
    the string-cast type name differs by dialect)."""
    t = "STRING" if dialect == "spark" else "VARCHAR"
    return (
        "'<html><head><title>' || lang || '</title>"
        f"<script type=\"x\">var v=' || CAST(doc_id AS {t}) || ';</script>"
        "<style>p { color: red; }</style></head><body><h1>' || source || "
        "'</h1><p>' || text || '</p>"
        "<div>&amp;x &lt;y&gt; &quot;z&quot; &#39;w&#39;&nbsp;!</div>"
        f"<!-- trailer ' || CAST(doc_id AS {t}) || ' --></body></html>'"
    )


_HTML_EXTRACT_SQL = (
    "WITH raw AS (SELECT doc_id, "
    + _html_wrap_sql("duckdb")
    + " AS html FROM documents), stripped AS (SELECT doc_id, html, trim("
    + "".join([])  # built below
)
# DuckDB needs the 'g' flag per step; build the nested call chain
_acc = "html"
for _pat, _rep in _HTML_STRIP_STEPS:
    _rpat = _pat.replace("'", "''")
    _rrep = _rep.replace("'", "''")
    _acc = f"regexp_replace({_acc}, '{_rpat}', '{_rrep}', 'g')"
_HTML_EXTRACT_SQL = f"""
WITH raw AS (
    SELECT doc_id, {_html_wrap_sql("duckdb")} AS html FROM documents
),
stripped AS (
    SELECT doc_id, html, trim({_acc}) AS clean FROM raw
)
SELECT doc_id,
    substring(clean, 1, 64) AS clean_prefix,
    CAST(length(clean) AS BIGINT) AS clean_len,
    CAST(length(clean) AS DOUBLE) / CAST(length(html) AS DOUBLE) AS text_ratio,
    (CAST(length(clean) AS DOUBLE) / CAST(length(html) AS DOUBLE))
        >= {_HTML_RATIO_KEEP} AS kept
FROM stripped
"""


@register("html_text_extract", sql=_HTML_EXTRACT_SQL)
def html_text_extract(spark, sf_dir):
    """Strip a deterministic HTML wrapper back to visible text and gate
    on the text-to-markup ratio (see the module note above)."""
    docs = load_table(spark, sf_dir, "documents")
    wrap = F.expr(_html_wrap_sql("spark"))
    clean = wrap
    for pat, rep in _HTML_STRIP_STEPS:
        clean = F.regexp_replace(clean, pat, rep)
    clean = F.trim(clean)
    out = docs.select(
        "doc_id", wrap.alias("html"), clean.alias("clean")
    ).select(
        "doc_id",
        F.substring("clean", 1, 64).alias("clean_prefix"),
        F.length("clean").cast("bigint").alias("clean_len"),
        (
            F.length("clean").cast("double") / F.length("html").cast("double")
        ).alias("text_ratio"),
        (
            (F.length("clean").cast("double") / F.length("html").cast("double"))
            >= F.lit(_HTML_RATIO_KEEP)
        ).alias("kept"),
    )
    return out
