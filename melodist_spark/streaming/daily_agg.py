"""Structured Streaming variants of the batch aggregations.

The reference is batch-only (SURVEY.md §1.4); these operators let the
same daily aggregation semantics run incrementally over an unbounded
observation stream — watermarked event-time windows, so late
observations within the watermark still update their day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from melodist_spark.operators.aggregations import daily_aggs


def _tz_timestamp(stream: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP; cast a TIMESTAMP_NTZ event-time
    column through the session zone (pinned UTC in the entry points)."""
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def streaming_daily_from_hourly(
    stream: DataFrame,
    watermark: str = "2 days",
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Incremental ``daily_from_hourly`` (`util/util.py:374-414`).

    Groups by a 1-day event-time window + station; the watermark
    bounds state so a 100 TB/day stream doesn't accumulate unbounded
    per-day state. Use ``.writeStream.outputMode("append")`` with the
    watermark, or ``update`` for live dashboards.
    """
    keys = list(keys)
    stream = _tz_timestamp(stream, ts_col)
    aggs = daily_aggs(stream.columns)

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.window(ts_col, "1 day").alias("win"))
        .agg(*aggs)
        .withColumn("date", F.to_date(F.col("win.start")))
        .drop("win")
    )


def streaming_gap_monitor(
    stream: DataFrame,
    timestep_seconds: int = 3600,
    watermark: str = "1 day",
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Continuous data-quality monitor: per station and day, observed
    row count vs the expected cadence (`util/util.py:249-297` as a
    stream). Days with count < expected have gaps."""
    keys = list(keys)
    stream = _tz_timestamp(stream, ts_col)
    expected = 86400 // timestep_seconds
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.window(ts_col, "1 day").alias("win"))
        .agg(F.count("*").alias("n_obs"))
        .withColumn("date", F.to_date(F.col("win.start")))
        .withColumn("n_missing", F.lit(expected) - F.col("n_obs"))
        .drop("win")
    )


def streaming_sessions(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    keys: list[str] = ("station_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked session aggregation over an unbounded event stream:
    Spark's native ``session_window`` merges events of a key whose
    gaps stay below ``gap`` and finalizes a session once the watermark
    passes its close. State is per-open-session and expires with the
    watermark — the streaming counterpart of ``util.gaps.sessionize``.

    Returns (keys..., session_start, session_end, n_events).
    """
    keys = list(keys)
    stream = _tz_timestamp(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.session_window(F.col(ts_col), gap).alias("__sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            *keys,
            F.col("__sw.start").alias("session_start"),
            F.col("__sw.end").alias("session_end"),
            "n_events",
        )
    )
