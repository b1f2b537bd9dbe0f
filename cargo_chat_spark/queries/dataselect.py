"""DSIR-style data selection: hashed n-gram importance resampling.

The canonical pretraining data-selection method (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"): score
every raw document by how much more likely its hashed n-gram features
are under a TARGET distribution (a trusted/in-domain subset) than under
the RAW distribution, then keep the top-weighted documents. The
reference has no analog (its corpus is one repo); this extends the
curation family (queries/curation.py) with the importance-weighting
member a 100 TB pipeline runs between quality filtering and mixing.

Formulation (the paper's bag-of-hashed-ngrams estimator):

- features: word unigrams + bigrams (the dedup family's whitespace
  tokens / 2-shingles, operators/dedup.py:54), hashed into
  ``N_BUCKETS`` buckets via the shared h32 (functions/hashing.py) —
  fixed-size feature space regardless of corpus size;
- bucket distributions with add-1 smoothing:
  p(b) = (count(b) + 1) / (total + N_BUCKETS), target fit on the
  ``lang = 'en'`` subset (the in-domain proxy this corpus offers), raw
  fit on everything;
- per-document weight = Σ over the doc's feature OCCURRENCES of
  log p_target(bucket) − log p_raw(bucket) (the log importance ratio
  of the doc under the two bag models).

Scale shape: two B-sized aggregates fit the models (one pass over the
token stream, map-side combinable); the B-row log-ratio table
BROADCASTS onto the exploded gram stream and per-doc weights reduce
with partial aggregation — one shuffle on doc_id, no all-pairs, no
driver-side model state beyond B rows. Selection is a global top-k
(TakeOrderedAndProject: O(partitions × k), never a full sort).

Determinism / oracle: counts are exact integers; the only floats are
the log-ratio terms, identical IEEE doubles up to libm ulps — the
emitted weight is rounded to 4 d.p. (inside the harness' 6 d.p.
canonicalization) and the selection ranks by (rounded weight, doc_id)
in BOTH engines so equal-text duplicates tie-break identically.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.functions import hashing
from cargo_chat_spark.operators import dedup as D
from cargo_chat_spark.queries._topk import global_topk_ranked
from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table, load_table_spread

N_BUCKETS = 4096
TARGET_LANG = "en"
TOP_K = 200

# grams = unigrams ++ bigrams over the shared whitespace tokenization;
# the SQL twin mirrors operators/dedup.shingles_all_sql exactly
_GRAMS_SQL = f"""
list_concat(
    regexp_split_to_array(trim(text), '\\s+'),
    {D.shingles_all_sql('text', 2)}
)
"""

_FEAT_CTE = f"""
feat AS (
    SELECT doc_id, lang, source,
           ({hashing.h32_sql('g')}) % {N_BUCKETS} AS b
    FROM (
        SELECT doc_id, lang, source, unnest({_GRAMS_SQL}) AS g
        FROM documents
    )
),
tcnt AS (
    SELECT b, count(*) AS c FROM feat WHERE lang = '{TARGET_LANG}' GROUP BY b
),
scnt AS (SELECT b, count(*) AS c FROM feat GROUP BY b),
tot AS (
    SELECT
        (SELECT count(*) FROM feat WHERE lang = '{TARGET_LANG}') AS ct,
        (SELECT count(*) FROM feat) AS cs
),
ratio AS (
    SELECT s.b,
        ln(CAST(COALESCE(t.c, 0) + 1 AS DOUBLE)
           / ((SELECT ct FROM tot) + {N_BUCKETS}))
      - ln(CAST(s.c + 1 AS DOUBLE)
           / ((SELECT cs FROM tot) + {N_BUCKETS})) AS lr
    FROM scnt s LEFT JOIN tcnt t USING (b)
),
w AS (
    SELECT f.doc_id, round(SUM(r.lr), 4) AS weight
    FROM feat f JOIN ratio r USING (b)
    GROUP BY f.doc_id
)
"""

_WEIGHTS_SQL = f"""
WITH {_FEAT_CTE}
SELECT d.doc_id, d.lang, d.source, w.weight
FROM documents d JOIN w USING (doc_id)
"""

_TOPK_SQL = f"""
WITH {_FEAT_CTE},
ranked AS (
    SELECT d.doc_id, d.lang, d.source, w.weight,
        CAST(row_number() OVER (ORDER BY w.weight DESC, d.doc_id)
             AS INT) AS "rank"
    FROM documents d JOIN w USING (doc_id)
)
SELECT doc_id, lang, source, weight, "rank" FROM ranked
WHERE "rank" <= {TOP_K}
"""


def _doc_weights(spark, sf_dir):
    """(doc_id, lang, source, weight): the per-document DSIR log
    importance ratio, weight rounded to 4 d.p.

    Shape (optimization guide §2.3 aggregate-before-shuffle, §2.6): the
    exploded gram stream is collapsed ONCE into per-(doc, bucket)
    multiplicities — one map-side-combinable aggregate over the only
    corpus-sized pass. Both bag models are then sums over that
    doc×bucket frame (totals fold from the B-row model, not a rescan),
    and the per-doc weight is Σ n_b·lr_b — the same rational as the
    per-occurrence fold, one multiply per distinct (doc, bucket) instead
    of one add per occurrence. The doc scan is spread when the parquet
    layout under-splits it (the tokenizer+explode otherwise runs on one
    core)."""
    docs = load_table_spread(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", "lang", "source", "text"
    )
    toks = docs.select(
        "doc_id", "lang", "source", D.tokens(F.col("text")).alias("tk")
    )
    grams = toks.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.concat(
                F.col("tk"), D.shingles_all_from_tokens(F.col("tk"), 2)
            )
        ).alias("g"),
    )
    feat = grams.select(
        "doc_id", "lang", "source",
        (hashing.h32(F.col("g")) % N_BUCKETS).alias("b"),
    )
    # the ONE pass over gram occurrences: per-(doc, bucket) counts
    # (lang/source are doc-constant, carried through the same shuffle so
    # the output needs no second documents scan). Materialized once —
    # the model aggregate and the weight join both consume it.
    occ = (
        feat.groupBy("doc_id", "lang", "source", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # both bag models from the doc×bucket frame; corpus totals fold from
    # the B-row model frame instead of re-scanning the gram stream
    cnt = occ.groupBy("b").agg(
        F.sum("n").alias("sc"),
        F.sum(
            F.when(F.col("lang") == TARGET_LANG, F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("tc"),
    )
    totals = cnt.agg(
        F.sum("tc").alias("ct"), F.sum("sc").alias("cs")
    )
    ratio = cnt.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log(
                (F.col("tc") + 1).cast("double") / (F.col("ct") + N_BUCKETS)
            )
            - F.log(
                (F.col("sc") + 1).cast("double") / (F.col("cs") + N_BUCKETS)
            )
        ).alias("lr"),
    )
    return (
        occ.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.round(F.sum(F.col("lr") * F.col("n")), 4).alias("weight")
        )
        .select("doc_id", "lang", "source", "weight")
    )


@register("dsir_logratio_weights", sql=_WEIGHTS_SQL)
def dsir_logratio_weights(spark, sf_dir):
    """Per-document DSIR importance weight over the full corpus — the
    artifact a selection pipeline materializes per corpus version (then
    samples against). Every count integer-exact; the weight is the only
    float and is rounded to 4 d.p. in both engines."""
    return _doc_weights(spark, sf_dir)


def _doc_weights_memo(spark, sf_dir):
    """The weight frame as the once-per-corpus-version ARTIFACT the
    selection cards consume (VERDICT r14 item 9, guide §2.4): a
    production pipeline materializes the DSIR weights once and then
    samples/selects against them; `dsir_logratio_weights` is the build
    gate that keeps paying the pipeline in full (the `_bands_df` /
    `minhash_lsh_pairs` precedent), the selection cards are phased
    consumers."""
    from cargo_chat_spark.caching import memo_persist

    return memo_persist(
        spark, ("dsir_doc_weights", sf_dir),
        lambda: _doc_weights(spark, sf_dir),
    )


@register("dsir_topk_selection", sql=_TOPK_SQL)
def dsir_topk_selection(spark, sf_dir):
    """The selection itself: top-200 documents by DSIR weight
    (rounded-weight DESC, doc_id tie-break — identical in both engines
    so equal-text duplicates rank deterministically). Global top-k via
    window-rank over the weight frame; dsir_gumbel_resample below
    samples from the same frame instead of cutting it."""
    w = _doc_weights_memo(spark, sf_dir)
    # TakeOrderedAndProject + k-row rank window (global_topk_ranked):
    # no corpus-wide single-partition sort, same rows and ranks
    return global_topk_ranked(
        w, [F.desc("weight"), F.asc("doc_id")], TOP_K, "rank"
    ).select("doc_id", "lang", "source", "weight", "rank")


# ---------------------------------------------- Gumbel top-k resampling
# The DSIR paper's actual sampling step: instead of a hard top-k on the
# weights (dsir_topk_selection), draw WITHOUT replacement from the
# softmax of weight/T via the Gumbel-top-k trick — perturb each key
# with independent Gumbel noise and take the k largest. Deterministic
# here: the uniform comes from the shared md5 h32 of the doc id (no
# RNG), so both engines derive the identical perturbation; keys are
# rounded to 4 d.p. with a doc_id tie-break, the dsir_topk precedent.
# Temperature smooths the cutoff: T -> 0 recovers the hard top-k,
# larger T admits more of the weight distribution's tail (diversity).
RESAMPLE_T = 2.0

_GUMBEL_SQL_EXPR = (
    "-ln(-ln((({h}) + 1) / (4294967298.0)))".format(
        h=hashing.h32_sql("'gmb|' || CAST(doc_id AS VARCHAR)")
    )
)

_RESAMPLE_SQL = f"""
WITH {_FEAT_CTE},
keyed AS (
    SELECT d.doc_id, d.lang, d.source,
           round(w.weight / {RESAMPLE_T} + {_GUMBEL_SQL_EXPR}, 4) AS skey
    FROM documents d JOIN w USING (doc_id)
),
ranked AS (
    SELECT doc_id, lang, source, skey,
        CAST(row_number() OVER (ORDER BY skey DESC, doc_id) AS INT) AS "rank"
    FROM keyed
)
SELECT doc_id, lang, source, skey, "rank" FROM ranked
WHERE "rank" <= {TOP_K}
"""


@register("dsir_gumbel_resample", sql=_RESAMPLE_SQL)
def dsir_gumbel_resample(spark, sf_dir):
    """Gumbel-top-k resampling over the DSIR weights: 200 documents
    drawn without replacement from softmax(weight / T), T=2.0, with
    md5-derived deterministic Gumbel noise — the stochastic selection a
    training pipeline actually materializes (hard top-k overfits the
    head of the weight distribution; Xie et al. sample). Plan: the
    weight frame plus one hash projection and a global top-k."""
    w = _doc_weights_memo(spark, sf_dir)
    u = (hashing.h32(F.concat(F.lit("gmb|"), F.col("doc_id").cast("string")))
         + 1) / F.lit(4294967298.0)
    skey = F.round(
        F.col("weight") / RESAMPLE_T + (-F.log(-F.log(u))), 4
    ).alias("skey")
    return global_topk_ranked(
        w.select("doc_id", "lang", "source", skey),
        [F.desc("skey"), F.asc("doc_id")], TOP_K, "rank",
    )


# ------------------------------------------- CDC-maintained DSIR model
# The selection model's incremental-maintenance member (the
# wordfreq_cdc_dict discipline, queries/bpe_queries.py:360): both DSIR
# bag models are pure count aggregates over the hashed feature stream,
# so they follow a mutating corpus snapshot ADDITIVELY through the
# signed file-diff delta (snap_file_deltas, DV-diff included) — each
# delta row's grams carry its sgn, one fold refreshes the 4096-row
# model, O(changed files + DV-touched files) per corpus version, never
# a rescan. Weights are then a per-doc READ against the refreshed model
# (the broadcast join in _doc_weights), so the whole selection pipeline
# is CDC-current. The gate rides the shared write → MERGE → MoR-delete
# lifecycle fixture and must equal the oracle's from-scratch model over
# the final logical corpus.

_DSIR_CDC_SQL = f"""
WITH final AS (
  SELECT lang,
         CASE WHEN doc_id % 10 = 3 THEN text || ' extrawordx'
              ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 4 AND doc_id % 20 <> 3
  UNION ALL
  SELECT lang, text FROM documents WHERE doc_id % 10 = 7
),
feat AS (
    SELECT lang, ({hashing.h32_sql('g')}) % {N_BUCKETS} AS b
    FROM (SELECT lang, unnest({_GRAMS_SQL}) AS g FROM final)
)
SELECT b,
       CAST(count(*) AS BIGINT) AS sc,
       CAST(SUM(CASE WHEN lang = '{TARGET_LANG}' THEN 1 ELSE 0 END)
            AS BIGINT) AS tc
FROM feat GROUP BY b
"""


def _bucket_counts(df):
    """(b, sc, tc) bucket model over a (lang, text[, sgn]) frame; rows
    weighted by sgn when present (the signed-delta fold)."""
    sgn = F.col("sgn").cast("long") if "sgn" in df.columns else F.lit(1)
    toks = df.select("lang", sgn.alias("w"), D.tokens(F.col("text")).alias("tk"))
    grams = toks.select(
        "lang",
        "w",
        F.explode(
            F.concat(F.col("tk"), D.shingles_all_from_tokens(F.col("tk"), 2))
        ).alias("g"),
    )
    return (
        grams.select(
            (hashing.h32(F.col("g")) % N_BUCKETS).alias("b"),
            "w",
            (F.col("lang") == TARGET_LANG).cast("long").alias("is_t"),
        )
        .groupBy("b")
        .agg(
            F.sum("w").cast("bigint").alias("sc"),
            F.sum(F.col("w") * F.col("is_t")).cast("bigint").alias("tc"),
        )
    )


@register("dsir_cdc_model", sql=_DSIR_CDC_SQL)
def dsir_cdc_model(spark, sf_dir):
    """Maintain the DSIR bucket model across a write → MERGE →
    MoR-delete snapshot lifecycle using ONLY the signed file-diff
    delta; must equal the oracle's from-scratch model over the final
    corpus."""
    from cargo_chat_spark.queries.bpe_queries import _wf_snapshot_fixture
    from cargo_chat_spark.sources.snapshots import snap_file_deltas, snap_read

    path = _wf_snapshot_fixture(spark, sf_dir)
    model0 = _bucket_counts(snap_read(spark, path, 0).select("lang", "text"))
    delta = snap_file_deltas(spark, path, 0, 2).select("lang", "text", "sgn")
    fold = _bucket_counts(delta)
    return (
        model0.unionByName(fold)
        .groupBy("b")
        .agg(
            F.sum("sc").cast("bigint").alias("sc"),
            F.sum("tc").cast("bigint").alias("tc"),
        )
        .where(F.col("sc") > 0)
    )


# bench.py phase split: the snapshot lifecycle is fixture cost; the
# signed-delta fold is the maintenance op this gate measures.
from cargo_chat_spark.queries.registry import register_phase_builder as _rpb


def _dsir_fixture(spark, sf_dir):
    from cargo_chat_spark.queries.bpe_queries import _wf_snapshot_fixture

    return _wf_snapshot_fixture(spark, sf_dir)


_rpb("dsir_cdc_model", _dsir_fixture)


def _weights_builder(spark, sf_dir):
    """Materialize the memoized DSIR weight frame (VERDICT r14 item 9):
    the once-per-corpus-version artifact behind the selection cards;
    `dsir_logratio_weights` stays its unphased build gate."""
    _doc_weights_memo(spark, sf_dir).count()


_rpb("dsir_topk_selection", _weights_builder)
_rpb("dsir_gumbel_resample", _weights_builder)
_rpb("signal_agreement_report", _weights_builder)


# ---------------------------------------- cross-signal agreement card
# Do the two selection signals a curation pipeline runs — DSIR
# importance weights and the heuristic quality score — agree on
# document ordering? Spearman rank correlation with a deterministic
# tie-break (rank by (value DESC, doc_id ASC) — NOT average ranks, so
# both engines produce identical integer ranks), emitted in micro-units
# via positive-operand integer division, plus the top-200 overlap. A
# low rho tells the pipeline the signals select DIFFERENT corpora and
# compose (the DSIR paper's motivation); a high rho says one is
# redundant. The exact global ranks are the correctness anchor (the
# frame is (doc_id, 2 scalars), narrow); at 100 TB ranks come from a
# sampled-cutpoint bucketing (the curriculum_phase_assign machinery)
# and rho from bucket midpoints.
_AGREE_TOP = 200


def _quality_sql_for_agree() -> str:
    from cargo_chat_spark.queries.textstats import _QUALITY_SQL

    return _QUALITY_SQL


_AGREE_SQL = f"""
WITH {_FEAT_CTE},
ra AS (
    SELECT d.doc_id,
        ROW_NUMBER() OVER (ORDER BY w.weight DESC, d.doc_id ASC) AS r1
    FROM documents d JOIN w USING (doc_id)
),
qual AS ({{QUALITY}}),
rb AS (
    SELECT doc_id,
        ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id ASC) AS r2
    FROM qual
),
joined AS (
    SELECT CAST(ra.r1 AS BIGINT) AS r1, CAST(rb.r2 AS BIGINT) AS r2
    FROM ra JOIN rb USING (doc_id)
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM((r1 - r2) * (r1 - r2)) AS BIGINT) AS sd2
    FROM joined
),
ov AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS overlap_at_{_AGREE_TOP}
    FROM joined WHERE r1 <= {_AGREE_TOP} AND r2 <= {_AGREE_TOP}
)
SELECT n, sd2,
    -- rho = (n(n^2-1) - 6*sd2) / n(n^2-1) in micro-units; the numerator
    -- can be negative, and although BOTH engines truncate integer
    -- division toward zero (verified: -7//2 = -3 in DuckDB, -7 DIV 2 =
    -- -3 in Spark), we divide POSITIVE operands only and apply the sign
    -- explicitly so the card stays hash-identical under any engine
    -- version whose // floors instead. Below den = n(n^2-1) < 1e6 the
    -- multiply-first form is exact micro-units (|num| <= den, so
    -- 1e6*|num| < 1e12 — no BIGINT overflow); at den >= 1e6 the
    -- pre-divided form avoids overflow at <= ~1e-6 relative truncation.
    CAST(CASE WHEN (n * (n * n - 1)) < 1000000
        THEN CASE WHEN (n * (n * n - 1) - 6 * sd2) >= 0
            THEN (1000000 * (n * (n * n - 1) - 6 * sd2))
                 // greatest(1, n * (n * n - 1))
            ELSE -((1000000 * (6 * sd2 - n * (n * n - 1)))
                 // greatest(1, n * (n * n - 1)))
            END
        ELSE CASE WHEN (n * (n * n - 1) - 6 * sd2) >= 0
            THEN (n * (n * n - 1) - 6 * sd2)
                 // ((n * (n * n - 1)) // 1000000)
            ELSE -((6 * sd2 - n * (n * n - 1))
                 // ((n * (n * n - 1)) // 1000000))
            END
        END AS BIGINT) AS rho_micro,
    overlap_at_{_AGREE_TOP}
FROM s CROSS JOIN ov
""".replace("{QUALITY}", "%%Q%%")


@register(
    "signal_agreement_report",
    sql=_AGREE_SQL.replace("%%Q%%", _quality_sql_for_agree()),
)
def signal_agreement_report(spark, sf_dir):
    """Spearman rank agreement between the DSIR weight and the quality
    score (deterministic (value DESC, doc_id) ranks, micro-unit rho via
    positive integer division) plus the top-{K} overlap — the
    do-my-signals-compose card."""
    from cargo_chat_spark.queries.textstats import quality_score

    wts = _doc_weights_memo(spark, sf_dir).select("doc_id", "weight")
    ra = wts.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("weight"), F.asc("doc_id")))
        .alias("r1"),
    )
    rb = quality_score(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("quality_score"), F.asc("doc_id")))
        .alias("r2"),
    )
    # rank diffs squared in BIGINT (row_number yields INT32: d^2 at
    # |d| > 46341 would overflow the 32-bit multiply under ANSI — it
    # did at the 10x decade probe). Integer domain of the exact-rank
    # anchor: n(n^2-1) is BIGINT-exact to n ~ 2.1e6 docs; beyond that
    # the scale path is bucketed ranks via the sampled-cutpoint
    # machinery (docstring).
    joined = (
        ra.join(rb, "doc_id")
        .select(
            F.col("r1").cast("bigint").alias("r1"),
            F.col("r2").cast("bigint").alias("r2"),
        )
        # n rows × 2 bigints, but the subtree above it is the DSIR
        # weight pipeline + the quality scorer + two global-rank
        # windows; both the (n, sd2) aggregate and the top-K overlap
        # consume it, and the crossJoin re-executes the whole thing
        # twice (captured plan: 20 parquet scans, 0 ReusedExchange).
        # Materialize the narrow rank pairs once (guide §5).
        .localCheckpoint(eager=True)
    )
    s = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
        .cast("bigint")
        .alias("sd2"),
    )
    ov = joined.where(
        (F.col("r1") <= _AGREE_TOP) & (F.col("r2") <= _AGREE_TOP)
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias(f"overlap_at_{_AGREE_TOP}")
    )
    return s.crossJoin(F.broadcast(ov)).select(
        "n",
        "sd2",
        # mirrors the oracle exactly: multiply-first exact micro-units
        # below den = n(n^2-1) < 1e6, pre-divided form above (overflow
        # guard; <= ~1e-6 relative truncation), positive operands only.
        F.expr(
            "CAST(CASE WHEN (n * (n * n - 1)) < 1000000"
            " THEN CASE WHEN (n * (n * n - 1) - 6 * sd2) >= 0"
            "   THEN (1000000 * (n * (n * n - 1) - 6 * sd2))"
            "        DIV greatest(1, n * (n * n - 1))"
            "   ELSE -((1000000 * (6 * sd2 - n * (n * n - 1)))"
            "        DIV greatest(1, n * (n * n - 1)))"
            "   END"
            " ELSE CASE WHEN (n * (n * n - 1) - 6 * sd2) >= 0"
            "   THEN (n * (n * n - 1) - 6 * sd2)"
            "        DIV ((n * (n * n - 1)) DIV 1000000)"
            "   ELSE -((6 * sd2 - n * (n * n - 1))"
            "        DIV ((n * (n * n - 1)) DIV 1000000))"
            "   END"
            " END AS BIGINT)"
        ).alias("rho_micro"),
        f"overlap_at_{_AGREE_TOP}",
    )
