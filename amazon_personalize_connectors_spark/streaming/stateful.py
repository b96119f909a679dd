"""Arbitrary stateful streaming on ``applyInPandasWithState``.

Operator: running per-user engagement stats. Each micro-batch updates
a per-user group state (event count, first/last event time — all
integers, so batch-equivalence is exact) and emits the user's updated
running totals (Update semantics).

Batch equivalence (pinned in tests/test_stateful.py and oracle-checked
by q:stream_running_stats): draining the whole events table through
AvailableNow and keeping each user's LAST emit equals the plain batch
groupBy — the law that makes the streaming operator trustworthy.

The second operator, a two-sided clamped running balance, is the one
that needs per-key sequential state (see the note above
``CAPPED_BALANCE_SCHEMA``).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

USER_STATS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("first_ts_us", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)

_STATE_SCHEMA = "n BIGINT, first_us BIGINT, last_us BIGINT"


def _stats_group(key, pdfs, state):
    (user_id,) = key
    if state.exists:
        n, first_us, last_us = state.get
    else:
        n, first_us, last_us = 0, None, None
    for pdf in pdfs:
        ts = pdf["ts_us"]
        if len(pdf) == 0:
            continue
        n += len(pdf)
        lo, hi = int(ts.min()), int(ts.max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    state.update((n, first_us, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "first_ts_us": [first_us],
            "last_ts_us": [last_us],
        }
    )


def running_user_stats_pandas(events: DataFrame) -> DataFrame:
    """Per-user running (count, first, last) on the
    ``applyInPandasWithState`` surface — one updated row per (user,
    micro-batch), Update semantics. Drain-and-keep-last equals the
    batch groupBy (count, min ts, max ts): the law q:
    stream_running_stats oracle-checks against plain SQL."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.selectExpr("user_id", "ts_us")
        .groupBy("user_id")
        .applyInPandasWithState(
            _stats_group,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Two-sided clamped running balance — the op that PROVES the stateful
# surface is necessary: floor-only clamping is window-expressible via
# the Lindley reflection identity (operators/analytics.py:
# floor_running_balance), but the two-sided recursion
# ``b_t = min(cap, max(floor, b_{t-1} + x_t))`` has NO prefix-sum
# closed form (the clamp at either wall erases history), so it is
# genuinely sequential per key. That makes it exactly the shape
# applyInPandasWithState exists for: per-key state carries the
# balance across micro-batches; within a batch the fold sorts by
# event time and replays the recursion (a bounded per-group Python
# loop — the same sanctioned boundary as the sessionizer's state
# machine; batch size ≤ the key's per-batch event count).
#
# ORDERING CONTRACT: the fold is correct iff micro-batch boundaries
# respect event-time order per key (batch k's events precede batch
# k+1's). q:stream_capped_balance establishes that by landing the
# stream as time-sliced files with strictly increasing mtimes and
# maxFilesPerTrigger=1; production streams get it from ordered
# ingestion (e.g. Kafka per-key order within a partition).
# ---------------------------------------------------------------------------

CAPPED_BALANCE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_seen", LongType()),
        StructField("balance", LongType()),
    ]
)

_BALANCE_STATE_SCHEMA = "n BIGINT, bal BIGINT"


def _capped_balance_group(key, pdfs, state, floor_v: int, cap_v: int):
    (user_id,) = key
    if state.exists:
        n, bal = state.get
    else:
        n, bal = 0, 0
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True)
        # mergesort = stable; (ts_us, event_id) is a total order
        pdf = pdf.sort_values(
            ["ts_us", "event_id"], kind="mergesort", ignore_index=True
        )
        for d in pdf["delta"].astype("int64").tolist():
            bal = bal + int(d)
            if bal < floor_v:
                bal = floor_v
            elif bal > cap_v:
                bal = cap_v
        n += len(pdf)
    state.update((int(n), int(bal)))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_seen": [n], "balance": [bal]}
    )


def capped_running_balance_pandas(
    events: DataFrame,
    floor_v: int = 0,
    cap_v: int = 25_000,
    delta_col: str = "delta",
) -> DataFrame:
    """Per-user two-sided clamped running balance over a stream
    (prepaid wallet with a credit ceiling, inventory with shelf
    capacity): Update-mode emits of (user_id, n_seen, balance) after
    each micro-batch; the LAST emit per user (max ``n_seen``) is the
    final balance, which q:stream_capped_balance checks against a
    DuckDB WITH RECURSIVE replay of the recursion over the whole
    history — the stream==batch law, with the state hop across
    micro-batch boundaries doing the real work."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.selectExpr(
            "user_id", "ts_us", "event_id", f"{delta_col} as delta"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            lambda key, pdfs, state: _capped_balance_group(
                key, pdfs, state, floor_v, cap_v
            ),
            outputStructType=CAPPED_BALANCE_SCHEMA,
            stateStructType=_BALANCE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
