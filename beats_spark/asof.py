"""As-of (point-in-time) join: enrich each event with the most recent
state row at or before its timestamp.

Spark has no native as-of join; the naive formulations are a range
non-equi join (O(n·m) per key, a BroadcastNestedLoop or cartesian at
scale) or a per-row subquery. The scalable shape — and the one used here
— is the union + ordered-window pass:

1. union the state stream and the event stream by name (missing columns
   null), tagging state rows 0 and event rows 1;
2. one shuffle on the join key, one in-partition sort on (ts, tag):
   states sort BEFORE events at equal timestamps, so an event sees a
   state stamped at its own instant (the `>=` as-of convention, matching
   DuckDB's ASOF JOIN and pandas merge_asof backward);
3. `last(value, ignorenulls=True)` over the running window carries each
   key's latest state forward;
4. keep only event rows.

Cost at 10^12 rows: exactly one exchange of (key, ts, payload) — the same
conv_id grain every other pipeline stage shuffles on — and a per-key sort
the window was already paying. No join node at all in the plan.

The reference has no as-of operator (Beats processors are stateless per
event); this is a training-pipeline / log-analytics addition in the same
family as translate-with-TTL (beats_spark/operators/enrich.py cache) —
"what was the config/session state when this turn happened".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TAG = "_asof_tag"


def asof_join(
    events: DataFrame,
    states: DataFrame,
    on: list[str] | str,
    values: list[str] | None = None,
    tolerance: Column | None = None,
) -> DataFrame:
    """Left as-of join: every `events` row gains the `values` columns from
    the latest `states` row with the same `on` key and
    ``states.ts <= events.ts`` (null when no prior state exists).

    `values` defaults to every `states` column that is neither a key nor
    its timestamp; value names must not collide with `events` columns.
    `tolerance` (optional, a Column interval/seconds expression) nulls the
    carried values when the matched state is older than
    ``events.ts - tolerance`` — pandas merge_asof semantics.

    Ties: states sort before events at equal timestamps (>= convention).
    The window orders only on (ts, tag), so if `states` holds SEVERAL rows
    per (key, ts) the carried one is whichever the sort happened to place
    last — nondeterministic across runs. Pre-deduplicate states to one row
    per (key, ts) for a deterministic pick.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if values is None:
        values = [
            c for c in states.columns if c not in (*keys, "ts")
        ]
    collide = set(values) & set(events.columns)
    if collide:
        raise ValueError(
            f"as-of value columns collide with event columns: {collide}"
        )

    s = states.select(
        *keys,
        F.col("ts").alias("_asof_ts"),
        F.col("ts").alias("_asof_state_ts"),
        *values,
        F.lit(0).alias(_TAG),
    )
    e = events.select(
        "*",
        F.col("ts").alias("_asof_ts"),
        F.lit(None).cast(s.schema["_asof_state_ts"].dataType)
        .alias("_asof_state_ts"),
        *[
            F.lit(None).cast(s.schema[v].dataType).alias(v)
            for v in values
        ],
        F.lit(1).alias(_TAG),
    )
    both = e.unionByName(s, allowMissingColumns=True)

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_asof_ts").asc(), F.col(_TAG).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(v, ignorenulls=True).over(w).alias(v) for v in values
    ]
    matched_ts = F.last("_asof_state_ts", ignorenulls=True).over(w)

    out = both.select(
        *[c for c in both.columns if c not in (*values, "_asof_state_ts")],
        matched_ts.alias("_asof_state_ts"),
        *carried,
    ).where(F.col(_TAG) == 1)

    if tolerance is not None:
        stale = F.col("_asof_state_ts") < (F.col("_asof_ts") - tolerance)
        out = out.select(
            *[c for c in out.columns if c not in values],
            *[F.when(~stale, F.col(v)).alias(v) for v in values],
        )
    return out.drop(_TAG, "_asof_ts", "_asof_state_ts")
