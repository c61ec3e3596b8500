"""Event-stream analytics operators: sessionization (the classic
log-pipeline stateful operator) and rolling-window spike detection
(:func:`rolling_anomaly` — the alerting aggregate; see its docstring).

Sessionization assigns each event a per-user session sequence number,
where a gap > ``gap_minutes`` between consecutive events starts a new
session. It is window functions (lag + running sum over (user, ts)) —
pure Catalyst, ANSI-SQL expressible, so the DuckDB oracle verifies it
value-for-value. The shuffle is hash(user) — the partitioning
sessionization inherently needs; within a partition it's one sort.

No reference analogue (the reference is stateless per event); this is a
§2.4 north-star pipeline operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_MINUTES = 30


def sessionize(
    df: DataFrame, gap_minutes: int = DEFAULT_GAP_MINUTES
) -> DataFrame:
    """(event_id, user_id, session_seq) over the events table's
    ``(event_id, user_id, ts)`` columns, with session_seq starting at 1
    per user. Orders by (ts, event_id) — the id tiebreak makes the output
    deterministic under timestamp ties, which the oracle comparison
    requires."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts")).over(w)
    # ts may be TIMESTAMP_NTZ (no direct cast to long under ANSI): go via
    # timestamp — session tz is UTC (session.py), so the epoch is stable
    def _epoch(c):
        return c.cast("timestamp").cast("long")

    new_session = (
        prev_ts.isNull()
        | (_epoch(F.col("ts")) - _epoch(prev_ts) > gap_minutes * 60)
    ).cast("long")
    seq = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select("event_id", "user_id", seq.alias("session_seq"))


def rolling_anomaly(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    *,
    trail: int = 3,
    threshold_pct: int = 200,
) -> DataFrame:
    """Rolling-window spike detection — the alerting aggregate of a log
    pipeline: bucket events per key into ``date_trunc('hour')`` windows,
    then flag a bucket whose count exceeds ``threshold_pct`` percent of
    its TRAILING ``trail``-bucket average for that key. The comparison is
    the cross-multiplied integer test
    ``cnt * trail_buckets * 100 > trail_cnt * threshold_pct`` — no float
    average, engines/reruns agree exactly (house convention). Buckets
    with no trailing history never flag (cold start is not a spike).

    Frame semantics: the trailing window is over OBSERVED buckets
    (``ROWS BETWEEN trail PRECEDING AND 1 PRECEDING``), not wall-clock
    intervals — a key silent for a day compares against its last
    ``trail`` active buckets. That is the behavior an alerting pipeline
    usually wants for sparse keys; a wall-clock variant is the same plan
    with a RANGE interval frame.

    Returns ``(key, bucket, cnt, trail_cnt, trail_buckets, is_spike)``.

    Plan at 100 TB: the event stream collapses FIRST — one exchange keyed
    (key, bucket) carrying map-side partial counts — and the window
    function runs over the AGGREGATED frame: a second exchange keyed on
    the key alone, but carrying only (keys x active buckets) rows (for a
    year of hourly buckets, <9k rows per key), never events. WindowExec
    sorts within each key partition; no per-event work after the first
    aggregate.
    """
    if int(trail) < 1:
        raise ValueError("trail must be >= 1")
    reserved = {"bucket", "cnt", "trail_cnt", "trail_buckets", "is_spike"}
    if key_col in reserved:
        raise ValueError(
            f"key_col {key_col!r} collides with a rolling_anomaly output "
            f"column; rename the key column first (reserved: "
            f"{sorted(reserved)})"
        )
    counts = df.groupBy(
        F.col(key_col), F.date_trunc("hour", F.col(ts_col)).alias("bucket")
    ).agg(F.count("*").alias("cnt"))
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(-int(trail), -1)
    )
    trail_cnt = F.coalesce(F.sum("cnt").over(w), F.lit(0))
    trail_buckets = F.count("cnt").over(w)
    spike = (trail_buckets > 0) & (
        F.col("cnt") * trail_buckets * F.lit(100)
        > trail_cnt * F.lit(int(threshold_pct))
    )
    return counts.select(
        F.col(key_col),
        "bucket",
        "cnt",
        trail_cnt.alias("trail_cnt"),
        trail_buckets.alias("trail_buckets"),
        spike.alias("is_spike"),
    )
