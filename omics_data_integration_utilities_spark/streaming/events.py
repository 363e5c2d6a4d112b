"""Event-time windowed aggregation over the events table.

The reference is strictly batch (SURVEY §2.10), and so is this module:
tumbling, session, hopping and multi-resolution windows, each a batch
DataFrame the registry checks against a DuckDB oracle.

Timestamp handling: the events parquet has shipped ``ts`` both as
TIMESTAMP(NANOS) (read as int64 nanoseconds under
``spark.sql.legacy.parquet.nanosAsLong``) and as TIMESTAMP(MICROS)
(read as TIMESTAMP_NTZ).  ``ts_event_micros`` normalizes every
representation to int64 epoch microseconds with integer/wall-clock
arithmetic only — never a session-timezone-dependent cast and never a
double (nanos exceed 2^53), so bucket edges are exact and identical
under any driver session timezone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ts_event_micros(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-microseconds column for ``col``, dispatching on its dtype.

    - ``bigint``: legacy ``nanosAsLong`` read of TIMESTAMP(NANOS) parquet
      → integer-divide to micros.
    - ``timestamp_ntz``: TIMESTAMP(MICROS) parquet → wall-clock diff from
      the NTZ epoch (``timestampdiff`` is pure calendar arithmetic, so the
      result is independent of ``spark.sql.session.timeZone``; a cast to
      TIMESTAMP would not be).
    - ``timestamp``: instant type → ``unix_micros`` directly.
    """
    return F.expr(ts_event_micros_sql(df, col))


def ts_event_micros_sql(df: DataFrame, col: str = "ts") -> str:
    """SQL-expression form of :func:`ts_event_micros` — for call sites that
    need further *integer* arithmetic (``div``) on the micros value, which
    the Column API only offers through ``F.expr``."""
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"column {col!r} not in {df.columns}")
    if dtype == "bigint":
        return f"({col} div 1000)"
    if dtype.startswith("timestamp_ntz"):
        return (
            f"timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', {col})"
        )
    if dtype.startswith("timestamp"):
        return f"unix_micros({col})"
    raise TypeError(f"unsupported event-time dtype {dtype!r} for column {col!r}")


def _event_time(df: DataFrame, col: str = "ts") -> Column:
    """TIMESTAMP event-time column from any supported ``ts`` encoding.

    ``timestamp_micros`` builds the instant from epoch micros, and
    ``F.window`` / ``F.session_window`` align buckets on the internal
    epoch-micros value — so windows are epoch-aligned and timezone-proof.
    """
    return F.timestamp_micros(ts_event_micros(df, col))


def tumbling_event_agg(events: DataFrame, window_seconds: int = 3600) -> DataFrame:
    """Batch-form tumbling aggregation: integer epoch bucket (timezone-proof
    — identical in Spark and DuckDB) × event_type → count + value sum.

    The bucket is integer division of epoch micros — exact for any input
    encoding (see module docstring); ``div`` keeps it out of double space.
    """
    window_us = int(window_seconds) * 1_000_000
    bucket = F.expr(f"{ts_event_micros_sql(events)} div {window_us}")
    return (
        events.groupBy(bucket.alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def session_window_agg(events: DataFrame, gap_seconds: int = 21600) -> DataFrame:
    """Batch-form session windows via the built-in ``F.session_window``:
    per user, events closer than ``gap_seconds`` merge into one session
    ([start, last_event + gap) ranges merge while they overlap — an event
    exactly ``gap`` after the previous one starts a NEW session).

    Value sums go through DECIMAL so both engines agree exactly.

    Returns (user_id, session_start_us, session_end_us, n, sum_value).
    """
    return (
        events.withColumn("__event_time", _event_time(events))
        .groupBy(
            F.session_window("__event_time", f"{int(gap_seconds)} seconds"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n",
            "sum_value",
        )
    )


def hopping_window_agg(
    events: DataFrame, window_seconds: int = 3600, slide_seconds: int = 900
) -> DataFrame:
    """Batch-form hopping (sliding) windows via the built-in ``F.window``
    with a slide: each event lands in ``window/slide`` overlapping
    buckets.  DECIMAL value sums for cross-engine exactness.

    Returns (window_start_us, window_end_us, event_type, n, sum_value).
    """
    return (
        events.withColumn("__event_time", _event_time(events))
        .groupBy(
            F.window(
                "__event_time",
                f"{int(window_seconds)} seconds",
                f"{int(slide_seconds)} seconds",
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            F.unix_micros(F.col("window.end")).alias("window_end_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def multires_rollup(
    events: DataFrame, resolutions: "tuple[int, ...]" = (60, 3600, 86400)
) -> DataFrame:
    """Hypertable-style multi-resolution rollup: the events feed
    pre-aggregated at each resolution, with every COARSER level derived
    from the next FINER aggregate rather than the raw table — the
    continuous-aggregate maintenance shape (Timescale cagg / druid
    rollup): at 100 TB the 1-day level aggregates the 1-hour level's
    ~24 rows per (bucket, type), not 86 400 seconds of raw events, so
    refresh cost is proportional to the finer AGGREGATE, not the feed.

    Sound because the aggregates are decomposable and EXACT: counts sum;
    value sums run in DECIMAL(18,4) (associative — a double sum would
    drift with grouping order and break rollup(rollup(x)) == rollup(x))
    and emerge as rounded doubles only in the final projection.

    ``resolutions`` must be non-empty, positive and ascending, with each
    coarser level an integer multiple of the previous (the bucket arithmetic is integer division
    on the finer bucket id).  Returns
    (resolution_s, bucket, event_type, n, sum_value) stacked across
    levels; ``bucket`` is epoch-micros // (resolution·1e6).
    """
    res = [int(r) for r in resolutions]
    if not res or res[0] <= 0:
        raise ValueError(f"resolutions must be non-empty and positive: {res}")
    if sorted(res) != res or len(set(res)) != len(res):
        raise ValueError("resolutions must be strictly ascending")
    for fine, coarse in zip(res, res[1:]):
        if coarse % fine != 0:
            raise ValueError(
                f"each resolution must divide the next: {coarse} % {fine} != 0"
            )
    # integer `div`, never double division: epoch micros sit near 2^50,
    # where a double quotient can round across the floor boundary
    level = (
        events.groupBy(
            F.expr(
                f"({ts_event_micros_sql(events)}) div {res[0] * 1_000_000}"
            ).alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("__sv"),
        )
    )

    def _emit(lvl: DataFrame, r: int) -> DataFrame:
        return lvl.select(
            F.lit(r).cast("long").alias("resolution_s"),
            "bucket",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("__sv").cast("double"), 4).alias("sum_value"),
        )

    out = _emit(level, res[0])
    for fine, coarse in zip(res, res[1:]):
        level = (
            level.groupBy(
                F.expr(f"bucket div {coarse // fine}").alias("bucket"),
                "event_type",
            )
            .agg(F.sum("n").alias("n"), F.sum("__sv").alias("__sv"))
        )
        out = out.unionByName(_emit(level, coarse))
    return out
