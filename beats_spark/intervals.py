"""Range (interval) join: match point events to the intervals that cover
them — maintenance windows, sessions, incident spans.

Spark executes a raw `ts BETWEEN lo AND hi` join as a
BroadcastNestedLoopJoin (small side) or falls off a cliff at scale; there
is no native interval join. The scalable formulation used here is
bucketization:

1. pick a bucket width B (seconds) on the order of the typical interval
   length;
2. each interval explodes into the buckets it touches
   (`sequence(floor(lo/B), floor(hi/B))` — an interval of length L lands
   in ceil(L/B)+1 buckets, so the blow-up is bounded and chosen);
3. each event computes its single bucket `floor(ts/B)`;
4. a plain shuffled EQUI-join on (key…, bucket) finds every candidate
   pair exactly once (an event's bucket is touched by every interval
   covering it, and by no interval twice), and the residual
   `lo <= ts <= hi` filter runs post-join, codegen.

The plan is Exchange + SortMergeJoin/shuffled-hash on bare
(key, bucket) — never a nested loop — and both sides prune columns to the
scan. Same family as the banded LSH joins in dedup.py: turn a range
predicate into an equality on a derived coarse key, verify exactly after.

No analogue in mjwolf/beats (stateless per-event processors); this is the
log-analytics range primitive (cf. Structured Streaming's interval join
and DuckDB's ASOF/range joins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType


def _epoch(df: DataFrame, col: str) -> Column:
    """Column as epoch seconds: timestamps via unix_timestamp (ANSI mode
    forbids a direct timestamp→bigint cast), numerics via cast."""
    if isinstance(
        df.schema[col].dataType, (TimestampType, TimestampNTZType, DateType)
    ):
        return F.unix_timestamp(F.col(col))
    return F.col(col).cast("long")


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    events_ts: str = "ts",
    lo: str = "lo",
    hi: str = "hi",
    on: list[str] | str | None = None,
    bucket: int = 3600,
    closed: str = "both",
) -> DataFrame:
    """Inner join of point `events` to every `intervals` row covering them:
    same `on` key (optional) and the ts within [lo, hi].

    `closed` picks the hi-bound convention:
    - "both" (default): ``lo <= ts <= hi`` inclusive; null-hi rows are
      dropped (an inclusive bound has no open-ended reading);
    - "left": half-open ``lo <= ts < hi``, and a NULL hi means the span is
      still open (matches every ts >= lo). This is the mode that composes
      with `validity_intervals` — SCD2 spans tile half-open, so "both"
      would double-match points sitting exactly on a span boundary and
      lose lookups into each key's current (null-hi) span.

    Timestamp/bound columns may be TimestampType (cast to epoch seconds
    internally) or already-numeric. Every interval column that is not a
    key or bound is carried; names must not collide with event columns. Each matching (event, interval) pair is emitted exactly once.
    `bucket` is the bucketization width in seconds — choose it near the
    typical interval length (too small explodes long intervals into many
    buckets, too large inflates the candidate join).

    Scale note on open spans: a null hi cannot be bucketized, so in "left"
    mode open spans are capped at max(event ts) — one map-side-combined
    aggregate over the bare ts column, broadcast back as a single row.
    That extra pass only runs when open spans exist in the plan."""
    if closed not in ("both", "left"):
        raise ValueError(f"closed must be 'both' or 'left', got {closed!r}")
    keys = [] if on is None else ([on] if isinstance(on, str) else list(on))
    values = [c for c in intervals.columns if c not in (*keys, lo, hi)]
    collide = set(values) & set(events.columns)
    if collide:
        raise ValueError(
            f"interval value columns collide with event columns: {collide}"
        )

    b = F.lit(int(bucket))
    ev = events.withColumn("_ets", _epoch(events, events_ts)).withColumn(
        "_bkt", F.floor(F.col("_ets") / b)
    )
    ihi = _epoch(intervals, hi)
    if closed == "left":
        # open (null-hi) spans: cap at max event ts so they bucketize.
        # exclusive-hi residual below still applies only to REAL bounds.
        cap = ev.agg(F.max("_ets").alias("_cap"))
        intervals = intervals.crossJoin(F.broadcast(cap))
        ihi_eff = F.coalesce(ihi, F.col("_cap") + 1)
    else:
        ihi_eff = ihi
    ivl = intervals.select(
        *keys,
        _epoch(intervals, lo).alias("_ilo"),
        ihi_eff.alias("_ihi"),
        ihi.isNull().alias("_iopen"),
        *values,
    ).where(F.col("_ilo") <= F.col("_ihi"))
    ivl = ivl.withColumn(
        "_bkt",
        F.explode(
            F.sequence(F.floor(F.col("_ilo") / b), F.floor(F.col("_ihi") / b))
        ),
    )
    hi_ok = (
        (F.col("_ets") <= F.col("_ihi"))
        if closed == "both"
        else (F.col("_iopen") | (F.col("_ets") < F.col("_ihi")))
    )
    out = ev.join(ivl, [*keys, "_bkt"]).where(
        (F.col("_ilo") <= F.col("_ets")) & hi_ok
    )
    return out.drop("_bkt", "_ets", "_ilo", "_ihi", "_iopen")


def validity_intervals(
    states: DataFrame,
    on: list[str] | str,
    ts: str = "ts",
) -> DataFrame:
    """Change-log → SCD2 validity spans: each state row becomes valid from
    its own timestamp until the key's NEXT state (exclusive; null = still
    current). The inverse of `asof_join` — materialize the spans once with
    one lead() window per key and every point lookup afterwards is a plain
    ``interval_join(..., closed="left")``, instead of re-running the as-of
    window per query. The half-open mode matters: spans tile as
    [valid_from, valid_to) with one null-valid_to (open) span per key, so
    the default inclusive interval_join would double-match points sitting
    exactly on valid_to and drop lookups into the open span.

    One shuffle on the key; rows and columns pass through with
    `valid_from`/`valid_to` appended (same type as `ts`)."""
    keys = [on] if isinstance(on, str) else list(on)
    w = Window.partitionBy(*keys).orderBy(F.col(ts).asc())
    return states.withColumn("valid_from", F.col(ts)).withColumn(
        "valid_to", F.lead(ts).over(w)
    )
