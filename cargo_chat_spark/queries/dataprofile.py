"""Data-quality profiling queries — the validation pass a 100 TB ingest
runs BEFORE training-data curation (schema drift, null storms, range
shifts, distribution skew all surface here).

Reference parity note: cargo-chat has no profiler (its nearest analog is
the ingest counters, ``indexer.rs`` stats block); this family is part of
the beyond-reference training-pipeline surface the build plan calls for.

Scale posture:

- ``table_profile`` is ONE scan + ONE single-row hash aggregate (every
  stat is an algebraic aggregate with a map-side partial form), then a
  constant-size generate to long format. No expand, no distinct, no
  second pass — the shape you can afford on every 100 TB ingest batch.
  (Exact distinct counts are deliberately excluded: a multi-column
  COUNT(DISTINCT) plans as an Expand that multiplies the scan by the
  column count; the registry's distinct_counts_exact/approx pair gates
  that trade-off separately.)
- ``value_equidepth_histogram`` computes exact quartile cutpoints (one
  sort-based aggregate), broadcasts the 3-double cutpoint row, and bins
  with a codegen'd CASE — the second pass is a plain map-side-combinable
  count. At 100 TB the cutpoint pass switches to percentile_approx (same
  downstream plan), which the *_approx twins already gate.
- ``mad_outliers`` (median / median-absolute-deviation, the robust
  z-score of Iglewicz & Hoaglin's modified method): two grouped exact
  percentiles with the per-type medians broadcast between them, final
  filter is a pure predicate over a broadcast join — events are scanned
  three times but never shuffled (group count is tiny).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table

# ------------------------------------------------------------ table_profile
# Long-format per-column stats over lineitem: nulls, numeric min/max/sum
# (money-like sums routed through DECIMAL(18,2) per FIXTURES.md so the
# value hash can't drift with partial-agg order), lexicographic min/max
# for strings, epoch-microsecond min/max for timestamps.

_NUM_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]
# sums only for the ADDITIVE measures: totals of key columns are
# meaningless, and (measured) a 30+-aggregate mixed decimal buffer pushes
# the HashAggregate past the codegen fallback threshold (6.7 s -> 1.2 s
# at sf0.1 by keeping the buffer narrow)
_SUM_COLS = {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}
_STR_COLS = ["l_returnflag", "l_linestatus"]
_TS_COLS = ["l_shipdate"]


def _profile_sql() -> str:
    parts = []
    for c in _NUM_COLS:
        sum_expr = (
            f"CAST(SUM(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"
            if c in _SUM_COLS
            else "CAST(NULL AS DOUBLE)"
        )
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) - COUNT({c}) AS n_nulls, "
            f"CAST(MIN({c}) AS DOUBLE) AS min_num, CAST(MAX({c}) AS DOUBLE) AS max_num, "
            f"{sum_expr} AS sum_num, "
            f"CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str "
            f"FROM lineitem"
        )
    for c in _STR_COLS:
        parts.append(
            f"SELECT '{c}', COUNT(*) - COUNT({c}), "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), "
            f"MIN({c}), MAX({c}) FROM lineitem"
        )
    for c in _TS_COLS:
        parts.append(
            f"SELECT '{c}', COUNT(*) - COUNT({c}), "
            f"CAST(epoch_us(MIN({c})) AS DOUBLE), CAST(epoch_us(MAX({c})) AS DOUBLE), "
            f"CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) "
            f"FROM lineitem"
        )
    return " UNION ALL ".join(parts)


_PROFILE_SQL = _profile_sql()


@register("table_profile", sql=_PROFILE_SQL)
def table_profile(spark, sf_dir):
    """Single-pass per-column profile of lineitem in long format.

    The oracle is written as a per-column UNION ALL for clarity; the Spark
    plan is the scalable form — one scan, one single-row aggregate (all
    stats partial-aggregate map-side), then a constant-size explode into
    (col_name, n_nulls, min_num, max_num, sum_num, min_str, max_str) rows.
    """
    l = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in _NUM_COLS:
        aggs += [
            F.count(c).alias(f"{c}_cnt"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
        ]
        if c in _SUM_COLS:
            aggs.append(
                F.sum(F.col(c).cast("decimal(18,2)")).alias(f"{c}_sum")
            )
    for c in _TS_COLS:
        # epoch micros without a timezone round-trip: the fixtures load as
        # TIMESTAMP_NTZ, where unix_micros() would inject the session zone
        epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
        aggs += [
            F.count(c).alias(f"{c}_cnt"),
            F.expr(f"timestampdiff(MICROSECOND, {epoch}, MIN({c}))")
            .cast("double")
            .alias(f"{c}_min"),
            F.expr(f"timestampdiff(MICROSECOND, {epoch}, MAX({c}))")
            .cast("double")
            .alias(f"{c}_max"),
        ]
    # string min/max buffers are immutable, which drags the WHOLE
    # aggregate into interpreted SortAggregate if mixed in (measured 6.7 s
    # at sf0.1). Split: the numeric/timestamp pass stays a codegen'd
    # HashAggregate over the full width; the 2-column string pass pays the
    # SortAggregate alone; the two 1-row results cross-join for free.
    str_aggs = []
    for c in _STR_COLS:
        str_aggs += [
            F.count(c).alias(f"{c}_cnt"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
        ]
    one = l.agg(*aggs).crossJoin(
        l.select(*_STR_COLS).agg(*str_aggs)
    )

    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    rows = []
    for c in _NUM_COLS:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("_n") - F.col(f"{c}_cnt")).alias("n_nulls"),
                F.col(f"{c}_min").cast("double").alias("min_num"),
                F.col(f"{c}_max").cast("double").alias("max_num"),
                (
                    F.col(f"{c}_sum").cast("double")
                    if c in _SUM_COLS
                    else null_d
                ).alias("sum_num"),
                null_s.alias("min_str"),
                null_s.alias("max_str"),
            )
        )
    for c in _STR_COLS:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("_n") - F.col(f"{c}_cnt")).alias("n_nulls"),
                null_d.alias("min_num"),
                null_d.alias("max_num"),
                null_d.alias("sum_num"),
                F.col(f"{c}_min").alias("min_str"),
                F.col(f"{c}_max").alias("max_str"),
            )
        )
    for c in _TS_COLS:
        rows.append(
            F.struct(
                F.lit(c).alias("col_name"),
                (F.col("_n") - F.col(f"{c}_cnt")).alias("n_nulls"),
                F.col(f"{c}_min").alias("min_num"),
                F.col(f"{c}_max").alias("max_num"),
                null_d.alias("sum_num"),
                null_s.alias("min_str"),
                null_s.alias("max_str"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


# -------------------------------------------- value_equidepth_histogram
# Equi-depth (quantile-binned) histogram: exact quartile cutpoints, then
# CASE-binning — the profiling complement of value_histogram's fixed-width
# bins and of an NTILE (cutpoints are REUSABLE constants here, where
# NTILE re-sorts every run).

_EQUIDEPTH_SQL = """
WITH q AS (
    SELECT quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.50) AS q2,
           quantile_cont(value, 0.75) AS q3
    FROM events
)
SELECT
    CASE WHEN value <= q1 THEN 0
         WHEN value <= q2 THEN 1
         WHEN value <= q3 THEN 2
         ELSE 3 END AS bucket,
    COUNT(*) AS n,
    MIN(value) AS min_v,
    MAX(value) AS max_v
FROM events, q
GROUP BY 1
"""


@register("value_equidepth_histogram", sql=_EQUIDEPTH_SQL)
def value_equidepth_histogram(spark, sf_dir):
    """Quartile-binned histogram of events.value.

    Exact type-7 cutpoints (Spark ``percentile`` == DuckDB
    ``quantile_cont``), broadcast as a 3-double row; binning is a
    codegen'd CASE over the base scan and the counts combine map-side.
    """
    e = load_table(spark, sf_dir, "events")
    q = e.agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.50)").alias("q2"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    bucket = (
        F.when(F.col("value") <= F.col("q1"), F.lit(0))
        .when(F.col("value") <= F.col("q2"), F.lit(1))
        .when(F.col("value") <= F.col("q3"), F.lit(2))
        .otherwise(F.lit(3))
    )
    return (
        e.crossJoin(F.broadcast(q))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
    )


# ------------------------------------------------------------ mad_outliers
# Robust outliers via the modified z-score 0.6745*(x - med)/MAD (Iglewicz &
# Hoaglin threshold 3.5). Unlike value_zscore_outliers (moment-based, both
# mean and std are dragged by the heavy tail), MAD is breakdown-50% robust
# — the screen a crawl-scale value column actually needs.

_MAD_SQL = """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM events GROUP BY event_type
),
mad AS (
    SELECT e.event_type,
           ANY_VALUE(m.med) AS med,
           quantile_cont(ABS(e.value - m.med), 0.5) AS mad
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       ROUND(0.6745 * (e.value - m.med) / m.mad, 6) AS mad_score
FROM events e JOIN mad m USING (event_type)
WHERE 0.6745 * (e.value - m.med) / m.mad > 3.5
"""


@register("mad_outliers", sql=_MAD_SQL)
def mad_outliers(spark, sf_dir):
    """Per-type robust (median/MAD) outliers, modified z-score > 3.5.

    Three passes over events but ZERO event shuffles: both percentile
    aggregates group on event_type (tiny key space, map-side partials),
    their outputs broadcast back, and the final filter is a pure
    predicate. The score expression is identical double arithmetic in
    both engines over hash-proven-equal percentile inputs, so the
    boundary predicate cannot diverge.
    """
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    score = F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        e.join(F.broadcast(mad), "event_type")
        .where(score > F.lit(3.5))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(score, 6).alias("mad_score"),
        )
    )


# ------------------------------------------------------ constraint audit
# The dbt-test / Great-Expectations analog: declared invariants audited in
# bulk, one row per constraint with its violation count. Families:
# referential integrity (anti-join orphans), uniqueness (count vs
# distinct), domain ranges, and non-null — each a scan + map-side
# combinable aggregate or a broadcast/shuffle anti-join; nothing collects.
# At 100 TB this runs per ingest batch and the counts feed the
# quarantine/alert decision.
_CONSTRAINTS_SQL = """
SELECT 'lineitem_orderkey_fk' AS constraint_name,
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS violations
UNION ALL
SELECT 'orders_custkey_fk',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'event_id_unique',
       (SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM events)
UNION ALL
SELECT 'event_value_nonnegative',
       (SELECT COUNT(*) FROM events WHERE value < 0)
UNION ALL
SELECT 'discount_in_range',
       (SELECT COUNT(*) FROM lineitem
        WHERE l_discount < 0 OR l_discount > 0.1)
UNION ALL
SELECT 'event_type_not_null',
       (SELECT COUNT(*) FROM events WHERE event_type IS NULL)
"""


@register("constraint_violations", sql=_CONSTRAINTS_SQL)
def constraint_violations(spark, sf_dir):
    """Bulk constraint audit: one (constraint_name, violations) row per
    declared invariant."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")

    def one(name, cnt_df):
        return cnt_df.select(
            F.lit(name).alias("constraint_name"),
            F.col("v").cast("bigint").alias("violations"),
        )

    fk1 = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
        F.count(F.lit(1)).alias("v")
    )
    fk2 = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("v")
    )
    uniq = e.agg(
        (F.count("event_id") - F.countDistinct("event_id")).alias("v")
    )
    dom1 = e.agg(F.sum((F.col("value") < 0).cast("long")).alias("v"))
    dom2 = li.agg(
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("long")
        ).alias("v")
    )
    nn = e.agg(F.sum(F.col("event_type").isNull().cast("long")).alias("v"))
    return (
        one("lineitem_orderkey_fk", fk1)
        .unionAll(one("orders_custkey_fk", fk2))
        .unionAll(one("event_id_unique", uniq))
        .unionAll(one("event_value_nonnegative", dom1))
        .unionAll(one("discount_in_range", dom2))
        .unionAll(one("event_type_not_null", nn))
    )


# ------------------------------------------------------- snapshot drift
# Data-diff between two time slices of the same feed (week 1 vs week 4):
# volume, value mass, and distinct-user drift per event type — the
# monitoring query that catches upstream schema/semantic changes before
# they poison a training run. Pure conditional aggregation: one scan, one
# shuffle on the tiny type key.
_DRIFT_SQL = """
WITH w AS (
    SELECT event_type,
           CASE WHEN ts <  TIMESTAMP '2024-01-08 00:00:00' THEN 'w1'
                WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 'w4'
           END AS win,
           value, user_id
    FROM events
    WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
       OR ts >= TIMESTAMP '2024-01-22 00:00:00'
)
SELECT event_type,
       CAST(COUNT(CASE WHEN win = 'w1' THEN 1 END) AS BIGINT) AS n_w1,
       CAST(COUNT(CASE WHEN win = 'w4' THEN 1 END) AS BIGINT) AS n_w4,
       CAST(SUM(CASE WHEN win = 'w1'
                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS value_w1,
       CAST(SUM(CASE WHEN win = 'w4'
                THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS value_w4,
       CAST(COUNT(DISTINCT CASE WHEN win = 'w1' THEN user_id END) AS BIGINT)
           AS users_w1,
       CAST(COUNT(DISTINCT CASE WHEN win = 'w4' THEN user_id END) AS BIGINT)
           AS users_w4
FROM w
WHERE win IS NOT NULL
GROUP BY event_type
"""


@register("events_weekly_drift", sql=_DRIFT_SQL)
def events_weekly_drift(spark, sf_dir):
    """Week-1 vs week-4 drift per event type (volume, exact value mass,
    distinct users)."""
    e = load_table(spark, sf_dir, "events")
    w1 = F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp")
    w4 = F.col("ts") >= F.lit("2024-01-22 00:00:00").cast("timestamp")
    win = F.when(w1, "w1").when(w4, "w4")
    dec = F.col("value").cast("decimal(18,2)")
    return (
        e.where(
            (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp")) | w4
        )
        .select("event_type", win.alias("win"), "value", "user_id")
        .where(F.col("win").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("win") == "w1", 1)).alias("n_w1"),
            F.count(F.when(F.col("win") == "w4", 1)).alias("n_w4"),
            F.sum(F.when(F.col("win") == "w1", dec)).cast("double").alias("value_w1"),
            F.sum(F.when(F.col("win") == "w4", dec)).cast("double").alias("value_w4"),
            F.countDistinct(
                F.when(F.col("win") == "w1", F.col("user_id"))
            ).alias("users_w1"),
            F.countDistinct(
                F.when(F.col("win") == "w4", F.col("user_id"))
            ).alias("users_w4"),
        )
    )


# ----------------------------------- functional-dependency discovery
# The schema-inference member of the data-quality family: for a fixed
# candidate list of (table, determinant → dependent) pairs, does the
# FD hold? (holds ⟺ every determinant value maps to exactly one
# dependent value). Candidates mix true keys, true FDs, and violated
# pairs so the gate discriminates. Each check is ONE map-side-
# combinable aggregate (groupBy determinant, count_distinct
# dependent) — the same pass a 100 TB profiler would run per
# candidate; results union into one card. All counts integer.
_FD_CANDIDATES = [
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_partkey"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("part", "p_partkey", "p_type"),
    ("part", "p_brand", "p_type"),
    ("supplier", "s_nationkey", "s_name"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("nation", "n_regionkey", "n_name"),
]

_FD_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS tbl, '{det}' AS determinant, '{dep}' AS dependent,
    CAST(count(*) AS BIGINT) AS n_groups,
    CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_violating_groups,
    SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {det}, count(DISTINCT {dep}) AS nd FROM {t} GROUP BY {det})"""
    for t, det, dep in _FD_CANDIDATES
)


@register("functional_dependency_report", sql=_FD_SQL)
def functional_dependency_report(spark, sf_dir):
    """Candidate-FD audit card: per (table, determinant → dependent),
    group count, violating-group count, and the holds verdict — one
    aggregate per candidate, unioned."""
    parts = []
    for t, det, dep in _FD_CANDIDATES:
        g = (
            load_table(spark, sf_dir, t)
            .groupBy(det)
            .agg(F.countDistinct(dep).alias("nd"))
        )
        parts.append(
            g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.sum((F.col("nd") > 1).cast("long"))
                .cast("bigint")
                .alias("n_violating_groups"),
            ).select(
                F.lit(t).alias("tbl"),
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_groups",
                "n_violating_groups",
                (F.col("n_violating_groups") == 0).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
