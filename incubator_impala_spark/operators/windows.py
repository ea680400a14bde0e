"""Event-time window operators: tumbling, sliding and session windows.

The reference has no window-over-time operators (SURVEY.md §2.10 — its
only "streaming" term is the partial pre-aggregation node,
`be/src/exec/streaming-aggregation-node.h:46`). These are plain
DataFrame plans over Spark's `window`/`session_window`, verified
against DuckDB by the event-time corpus (`queries/streaming_batch.py`).

Scale notes:
- tumbling/sliding aggregation shuffles once on (window, keys) with
  partial aggregation before the shuffle — the reference's pre-agg →
  final-agg split.
- session windows require a shuffle on the session keys; Spark merges
  adjacent sessions within partitions (no global sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# value is DOUBLE in the source; aggregate it exactly as DECIMAL(14,2)
# so engine and oracle sums are identical regardless of add order.
_DEC = "decimal(14,2)"


def money_sum(col: str) -> Column:
    return F.sum(F.col(col).cast(_DEC)).cast("decimal(38,2)")


def tumbling_agg(df: DataFrame, ts_col: str = "ts", duration: str = "1 hour",
                 keys: list[str] | None = None) -> DataFrame:
    """Fixed, non-overlapping event-time windows: count + exact sum."""
    keys = keys or []
    w = F.window(F.col(ts_col), duration)
    return (
        df.groupBy(w, *keys)
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("wstart"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(df: DataFrame, ts_col: str = "ts", duration: str = "2 hours",
                slide: str = "1 hour", keys: list[str] | None = None) -> DataFrame:
    """Overlapping windows — each event lands in duration/slide windows."""
    keys = keys or []
    w = F.window(F.col(ts_col), duration, slide)
    return (
        df.groupBy(w, *keys)
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("sum_value"))
        .select(F.col("window.start").alias("wstart"), *keys, "n_events", "sum_value")
    )


def session_agg(df: DataFrame, ts_col: str = "ts", gap: str = "6 hours",
                keys: list[str] | None = None) -> DataFrame:
    """Gap-based session windows: a session closes after `gap` of
    inactivity; window end = last event + gap (Spark semantics)."""
    keys = keys or ["user_id"]
    w = F.session_window(F.col(ts_col), gap)
    return (
        df.groupBy(w, *keys)
        .agg(F.count("*").alias("n_events"), money_sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "n_events",
            "sum_value",
        )
    )
