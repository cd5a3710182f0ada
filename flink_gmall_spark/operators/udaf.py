"""Custom grouped aggregation — the ``groupBy().applyInPandas`` surface.

The engine's UDAF escape hatch, demonstrated on a computation that SQL
expresses only through the gaps-and-islands idiom: per-user longest
streak of consecutive active days. The reference has no UDAFs (SURVEY
§2.10); this rounds out the API family next to the scalar/UDTF surface
(functions.tokenize), the Arrow map stages (operators.multimodal,
ann.block_topk) and the stateful pandas ops (streaming.state).

Scale shape: one shuffle on the grouping key, then per-group numpy in
Arrow batches. Group state is a unique-day vector — bounded by the date
range, independent of event volume, so a hot user cannot blow a task.
All math is int64 day numbers; emissions are order-independent — the
result is oracle-exact (the DuckDB side is the classic
``day - row_number()`` island trick).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_gmall_spark.sources import load

STREAK_SCHEMA = "user_id bigint, active_days bigint, longest_streak bigint"


def _streaks(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    d = np.sort(pdf["day_nr"].to_numpy(dtype=np.int64))
    runs = np.split(d, np.where(np.diff(d) != 1)[0] + 1)
    return pd.DataFrame(
        {
            "user_id": [key[0]],
            "active_days": [len(d)],
            "longest_streak": [max(len(r) for r in runs)],
        }
    )


def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity span: distinct active days and the longest run of
    consecutive calendar days with at least one event. Days are deduped
    declaratively first (partial-aggregated distinct — the big shrink
    happens map-side), so the pandas stage sees one row per (user, day)."""
    ev = load(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day_nr"),
    ).distinct()
    return days.groupBy("user_id").applyInPandas(_streaks, schema=STREAK_SCHEMA)


ORACLE_ACTIVITY_STREAKS = """
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
grp AS (
    SELECT user_id, d,
           d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS g
    FROM days
),
streaks AS (
    SELECT user_id, g, count(*) AS len FROM grp GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS active_days,
       CAST(max(len) AS BIGINT) AS longest_streak
FROM streaks
GROUP BY user_id
"""
