"""Custom stateful streaming operators via applyInPandasWithState.

The exact token-bucket rate limiter (reference:
/root/reference/libbeat/processors/ratelimit/token_bucket.go:90-100 —
continuous refill, per-key bucket) is inherently sequential per key; the
batch engine approximates it with windowed top-N (operators/filter.py). In
streaming, per-key sequential state is exactly what
applyInPandasWithState provides, so here the semantics are faithful:
state = (tokens, last_refill_ts) per key, rows processed in event-time
order, bucket refilled continuously at `rate_per_sec` up to `burst`.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def token_bucket_limit(
    tdf: DataFrame,
    key_cols: list[str],
    rate_per_sec: float,
    burst: int,
):
    """Streaming rate limit: emits only rows that acquire a token.

    Output schema = input schema. State per key survives micro-batches via
    the state store (checkpointed — resumable like every stage here).
    """
    schema = tdf.schema
    state_schema = "tokens double, last_ts double"

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tokens, last_ts = state.get
        else:
            tokens, last_ts = float(burst), float("-inf")
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            keep = []
            for t in pdf["ts"]:
                now = t.timestamp()
                if last_ts != float("-inf") and now > last_ts:
                    tokens = min(float(burst), tokens + (now - last_ts) * rate_per_sec)
                last_ts = max(last_ts, now)
                if tokens >= 1.0:
                    tokens -= 1.0
                    keep.append(True)
                else:
                    keep.append(False)
            out.append(pdf[pd.Series(keep, index=pdf.index)])
        state.update((tokens, last_ts))
        yield pd.concat(out) if out else pd.DataFrame(columns=[f.name for f in schema])

    return (
        tdf.groupBy(*key_cols)
        .applyInPandasWithState(
            fn,
            outputStructType=schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
