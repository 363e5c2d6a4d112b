"""Windowed pipeline-funnel monitoring over the events table.

``operators.aggregates.funnel_counts`` gives the one-scan cumulative
stage-survival table for a corpus; an ingest pipeline wants the same
table PER TIME WINDOW ("did the english-filter suddenly start eating
everything this hour?").  The funnel is pure conditional aggregation,
so the windowed form is ``funnel_counts`` with the epoch bucket as the
group column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import funnel_counts
from .events import ts_event_micros_sql


def windowed_funnel_batch(
    events: DataFrame,
    stages: "list[tuple[str, object]]",
    window_seconds: int = 3600,
) -> DataFrame:
    """Integer epoch bucket (timezone/encoding-proof, same
    rule as :func:`tumbling_event_agg`) × the funnel stages."""
    window_us = int(window_seconds) * 1_000_000
    bucket = F.expr(f"{ts_event_micros_sql(events)} div {window_us}")
    return funnel_counts(
        events.withColumn("bucket", bucket), stages, group_cols=["bucket"]
    )
