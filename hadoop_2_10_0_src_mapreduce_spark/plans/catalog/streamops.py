"""Catalog: windowed aggregations (streaming extension, batch-checked).

window()/session_window() are ordinary expressions, so the SAME
operators that run under readStream (streaming/windows.py) run here in
batch against the DuckDB oracle — the strongest check available for
streaming semantics (the reference has none to compare against)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.plans.registry import register
from hadoop_2_10_0_src_mapreduce_spark.sources.readers import load_table
from hadoop_2_10_0_src_mapreduce_spark.streaming.windows import (
    session_window_agg,
    sliding_window_counts,
    tumbling_window_counts,
)

# Tumbling 1-day + sliding 2-day/1-day windows + the rolling-metric
# family over the daily series, in one query (merged to fit the
# driver's 50-checked-query window; each branch is its own window
# aggregate/projection, unioned under a mode column with metric as
# double). Sliding: every event belongs to exactly two windows — the
# one starting at its day-bucket and the one a slide earlier; the
# oracle expands each event into both. The metric branches (lag1 /
# mavg3 / cume / prank — operators.timeseries.rolling_metrics) window
# over the PRE-AGGREGATED daily series (≤ days rows per event_type
# partition — aggregate first, then window; the secondary-sort
# running-aggregate idiom of SURVEY §2.5 made declarative). Counts are
# exact integers in binary64, mavg's division and prank's exact
# rational are one deterministic rounding each, so every branch
# hash-matches the SQL window twin. lag1's NULL series heads are kept
# (both engines emit them).
_TUMBLING_SLIDING_ORACLE = """
WITH daily AS (
    SELECT time_bucket(INTERVAL '1 day', ts) AS d, event_type,
           CAST(COUNT(*) AS DOUBLE) AS n
    FROM events
    GROUP BY d, event_type
)
SELECT mode, window_start, event_type, metric FROM (
    SELECT 'tumbling' AS mode, d AS window_start, event_type, n AS metric
    FROM daily
    UNION ALL
    SELECT 'sliding', wstart, event_type, CAST(COUNT(*) AS DOUBLE)
    FROM (
        SELECT unnest([
                   time_bucket(INTERVAL '1 day', ts),
                   time_bucket(INTERVAL '1 day', ts) - INTERVAL '1 day'
               ]) AS wstart,
               event_type
        FROM events
    )
    GROUP BY wstart, event_type
    UNION ALL
    SELECT 'lag1', d, event_type,
           LAG(n) OVER (PARTITION BY event_type ORDER BY d)
    FROM daily
    UNION ALL
    SELECT 'mavg3', d, event_type,
           round(AVG(n) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
    FROM daily
    UNION ALL
    SELECT 'cume', d, event_type,
           SUM(n) OVER (PARTITION BY event_type ORDER BY d)
    FROM daily
    UNION ALL
    SELECT 'prank', d, event_type,
           round(PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY n), 6)
    FROM daily
)
ORDER BY mode, window_start, event_type
"""


@register("window_tumbling_sliding", _TUMBLING_SLIDING_ORACLE, tags=("streaming", "window"),
          doc="Tumbling 1-day and sliding 2-day/1-day windows per event_type (streaming-capable expressions, batch-checked) plus the rolling-metric family (lag / 3-day moving average / cumulative sum / percent rank) over the daily series, unioned under a mode column.")
def window_tumbling_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_2_10_0_src_mapreduce_spark.operators.timeseries import (
        rolling_metrics,
    )

    ev = load_table(spark, sf_dir, "events")
    # persist: the daily aggregate is tiny (days × event_types rows) at
    # ANY scale but costs a full events scan + shuffle to build, and
    # both the 'tumbling' leg and the rolling-metric family read it —
    # without it the before-plan re-ran the scan+aggregate once per
    # consumer (plans/r12/window_tumbling_sliding_before.txt: 22
    # Exchanges; after: the aggregate materializes once).
    # Module caching contract (same as the dedup/similarity persists):
    # the returned frame is lazy and still reads this cache, so it is
    # NOT unpersisted here — the blocks are evictable, and batch
    # runners clear caches at query boundaries (bench.py does after
    # every query slot).
    daily = tumbling_window_counts(ev).persist()
    metric = F.col("n_events").cast("double").alias("metric")
    tumbling = daily.select(
        F.lit("tumbling").alias("mode"), "window_start", "event_type", metric
    )
    sliding = sliding_window_counts(ev).select(
        F.lit("sliding").alias("mode"), "window_start", "event_type", metric
    )
    rolled = rolling_metrics(
        daily,
        part_col="event_type",
        order_col="window_start",
        value_col="n_events",
    )
    # stack-unpivot instead of four union legs: the legs each re-ran
    # the whole rolling-metrics window subtree (one evaluation per
    # projection of the same frame); stack() emits the identical
    # (mode, metric) row multiset from ONE evaluation
    metric_rows = rolled.selectExpr(
        "window_start",
        "event_type",
        "stack(4, 'lag1', lag1, 'mavg3', mavg3, 'cume', cume, "
        "'prank', prank) AS (mode, metric)",
    ).select("mode", "window_start", "event_type", "metric")
    return (
        tumbling.unionByName(sliding)
        .unionByName(metric_rows)
        .orderBy("mode", "window_start", "event_type")
    )


# session_window(gap 12h) ≡ the sessionize_reduce oracle's gap logic;
# session_start = MIN(ts) of the session.
_SESSION_ORACLE = """
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM (
    SELECT user_id, ts,
           SUM(CASE WHEN prev_ts IS NULL
                      OR ts - prev_ts > INTERVAL 720 MINUTE
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts) AS session_no
    FROM (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
    )
)
GROUP BY user_id, session_no
ORDER BY user_id, session_start
"""


@register("window_session", _SESSION_ORACLE, tags=("streaming", "window"),
          doc="Built-in session_window (12h gap) per user — declarative twin of the applyInPandas sessionizer, same oracle.")
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return session_window_agg(ev).orderBy("user_id", "session_start")
