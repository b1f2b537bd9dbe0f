"""Temporal / sequence analytics over the events stream table — the
hypertable-rollup and warehouse-history shapes (OHLC bars, SCD2 validity
intervals, ordered path mining).

Reference parity note: cargo-chat has no time-series surface; these extend
the events family (sessionize / tumbling window / gap-fill LOCF / as-of)
with the remaining canonical temporal shapes.

Scale posture:

- ``events_ohlc_hourly``: ONE map-side-combinable aggregate — open/close
  are lexicographic struct MIN/MAX (the struct arg-min trick applied
  to time), so no window, no
  self-join, no second pass. The canonical continuous-aggregate /
  hypertable rollup: at 100 TB this is exactly the incremental rollup
  maintained per partition.
- ``user_value_scd2``: one shuffle on user_id shared by the sort and the
  LEAD window — the standard changelog -> SCD2 dimension build. State is
  one row lookahead; nothing accumulates.
- ``session_paths_top``: per-(user, day) ordered path assembled with
  sort_array(collect_list(struct))) — deterministic regardless of
  partition arrival order — then a plain count. Path strings are bounded
  by the day's event count; the heavy-hitter tail is a
  TakeOrderedAndProject, not a global sort.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from cargo_chat_spark.queries.registry import register
from cargo_chat_spark.sources.testdata import load_table

# ------------------------------------------------------- events_ohlc_hourly
# open = value at the earliest (ts, event_id) in the bucket, close = at the
# latest; the unique event_id tie-break makes both deterministic. Volume
# routed through DECIMAL(18,2) (exact) per FIXTURES.md.

_OHLC_SQL = """
SELECT
    event_type,
    date_trunc('hour', ts) AS hour_start,
    struct_extract(MIN({'t': ts, 'i': event_id, 'v': value}), 'v') AS open,
    MAX(value) AS high,
    MIN(value) AS low,
    struct_extract(MAX({'t': ts, 'i': event_id, 'v': value}), 'v') AS close,
    COUNT(*) AS n,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
FROM events
GROUP BY 1, 2
"""


@register("events_ohlc_hourly", sql=_OHLC_SQL)
def events_ohlc_hourly(spark, sf_dir):
    """Hourly OHLC bars per event type in a single aggregate pass."""
    e = load_table(spark, sf_dir, "events")
    first_s = F.min(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    last_s = F.max(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    return (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_start"))
        .agg(
            first_s.getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            last_s.getField("value").alias("close"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("volume"),
        )
    )


# ----------------------------------------------------------- user_value_scd2
# Changelog -> slowly-changing-dimension type 2: each purchase opens a
# validity interval closed by the user's next purchase. The open-interval
# sentinel is the conventional 9999-12-31 — but pandas nanosecond timestamps
# cap at 2262-04-11, and the driver's canonicalizer routes results through
# pandas, so a TIMESTAMP sentinel overflows it (CORRECTNESS_r07:
# OutOfBoundsDatetime). valid_to is therefore serialized as a FIXED-FORMAT
# microsecond STRING in BOTH engines; the out-of-range timestamp is never
# constructed. Downstream BETWEEN joins still need no NULL branch (the
# string sort order of this format equals the timestamp order).

_SCD2_SENTINEL = "9999-12-31 00:00:00.000000"

_SCD2_SQL = f"""
SELECT user_id, event_id, value,
       ts AS valid_from,
       COALESCE(
           strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S.%f'),
           '{_SCD2_SENTINEL}') AS valid_to
FROM events
WHERE event_type = 'purchase'
"""


@register("user_value_scd2", sql=_SCD2_SQL)
def user_value_scd2(spark, sf_dir):
    """SCD2 validity intervals from the purchase changelog — one shuffle
    on user_id serving both the per-user sort and the LEAD lookahead."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(w), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            F.lit(_SCD2_SENTINEL),
        ).alias("valid_to"),
    )


# ---------------------------------------------------------- session_paths_top
# Clickstream path mining: the 20 most common full-day event-type journeys.
# The per-group sequence is made deterministic by sorting on (ts, event_id)
# INSIDE the aggregate (sort_array over collected structs), so shuffle
# arrival order can't change the path string.

_PATHS_SQL = """
WITH paths AS (
    SELECT user_id, date_trunc('day', ts) AS day,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM events
    GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_user_days
FROM paths
GROUP BY path
ORDER BY n_user_days DESC, path
LIMIT 20
"""


@register("session_paths_top", sql=_PATHS_SQL)
def session_paths_top(spark, sf_dir):
    """Top-20 per-(user, day) event-type paths by frequency."""
    e = load_table(spark, sf_dir, "events")
    ordered = F.sort_array(
        F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
    )
    path = F.array_join(
        F.transform(ordered, lambda s: s.getField("event_type")), ">"
    )
    return (
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), F.asc("path"))
        .limit(20)
    )
