"""Custom stateful streaming operators via applyInPandasWithState
(beyond-reference; the Spark-4 home for operators the built-in streaming
aggregates can't express — SURVEY.md §7 extension surface).

First use case: streaming first-seen dedup — emit each key the first time
it appears across the stream's lifetime, suppress every later occurrence.
State is one row per key (its first event id), partitioned by the grouping
key, so state size grows with distinct keys, never with events — the shape
that scales to unbounded streams with watermark-based state TTL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, first_event_id long"
STATE_SCHEMA = "first_event_id long"


def first_seen_per_user(stream: DataFrame) -> DataFrame:
    """Streaming dedup: one output row per user, carrying the smallest
    event_id of their first batch. With an availableNow drain over a static
    fixture this equals the batch `groupBy(user_id).min(event_id)` — which
    is exactly what the DuckDB oracle checks.

    The state function is a self-contained closure (local imports, no
    module globals): executor Python workers deserialize it by value, so
    this package does NOT need to be importable on the workers — the
    driver's sys.path / cwd don't matter.
    """

    def first_seen_fn(key, pdfs, state):
        import pandas as pd

        batch_min = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["event_id"].min())
                batch_min = m if batch_min is None else min(batch_min, m)
        if batch_min is None:
            return
        if state.exists:
            return  # key already emitted in an earlier batch — suppress
        state.update((batch_min,))
        yield pd.DataFrame({"user_id": [key[0]], "first_event_id": [batch_min]})

    return stream.select("user_id", "event_id").groupBy("user_id").applyInPandasWithState(
        first_seen_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_event_totals(stream: DataFrame) -> DataFrame:
    """Per-user running totals via applyInPandasWithState: emits
    (user_id, n_events, sum_value_e4) with the RUNNING totals re-emitted
    each batch the key appears in (update semantics); over an
    availableNow drain of a static fixture the last emission per key
    equals the batch `groupBy(user_id).agg(count, sum)`.

    State per key: (n, s) — two longs, batch-count independent.
    sum_value_e4 integerizes PER ROW (floor(v*1e4 + 0.5) == SQL ROUND for
    the fixture's non-negative values) before summing: exact integer
    totals in any batch/partition order — the proven cross-engine recipe."""

    def totals_fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        n, s = 0, 0
        for pdf in pdfs:
            n += len(pdf)
            s += int(
                np.floor(pdf["value"].to_numpy(dtype="float64") * 10000.0 + 0.5)
                .astype("int64")
                .sum()
            )
        if n == 0:
            return
        if state.exists:
            prev_n, prev_s = state.get
            n, s = n + prev_n, s + prev_s
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_e4": [s]}
        )

    return stream.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        totals_fn,
        outputStructType="user_id long, n_events long, sum_value_e4 long",
        stateStructType="n long, s long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
