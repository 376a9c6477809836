"""Streaming sequence detection (CEP-lite): the incremental twin of the
batch funnel Q(events_funnel).

Detects, per user, the ordered pattern view -> click -> purchase with
the batch query's stage windows (click within 2 h of the first view,
purchase within 24 h of that click) and emits one completion row per
user at the purchase that closes the pattern.  Because each stage binds
to the MINIMUM qualifying timestamp, processing events in event-time
order makes "first qualifying" ≡ "minimum" — so the per-user state is
three timestamps and a done flag, O(1) regardless of activity (the
100 TB shape; Flink-CEP-style disorder buffering would instead hold the
watermark horizon per user).

Ordering contract: rows are sorted within each micro-batch; ACROSS
batches the source must deliver per-user event-time-ordered chunks
(true for time-partitioned drains, e.g. hourly file drops).  A
late-arriving earlier view could in general rebind the whole match —
that is inherent to min-binding patterns, and the batch query is the
reconciliation path, same division of labor as sessionize/matview.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

MATCH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("view_ts", TimestampType()),
        StructField("click_ts", TimestampType()),
        StructField("purchase_ts", TimestampType()),
    ]
)

# (v_us, c_us, done) — 0 encodes "unset"
STATE_SCHEMA = StructType(
    [
        StructField("v_us", LongType()),
        StructField("c_us", LongType()),
        StructField("done", LongType()),
    ]
)

CLICK_WINDOW_US = 2 * 3600 * 1_000_000
PURCHASE_WINDOW_US = 24 * 3600 * 1_000_000


def detect_funnel_stream(events: DataFrame, watermark_delay: str = "0 seconds") -> DataFrame:
    """events stream (ts, event_id, user_id, event_type) → one row per
    user completing view→click→purchase inside the stage windows."""

    def step(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:  # nothing buffered; state is only a cursor
            state.remove()
            return

        # On timestamp ties, process stages in funnel order (view before
        # click before purchase): the batch funnel binds with ts >=
        # view_ts, so a click sharing the view's exact timestamp must
        # bind regardless of how event_ids happen to sort (same-tick
        # events are a real clickstream case).
        rows = pd.concat(list(pdfs))
        rows["_stage"] = rows["event_type"].map(
            {"view": 0, "click": 1, "purchase": 2}
        ).fillna(3)
        rows = rows.sort_values(["ts", "_stage", "event_id"])
        v_us, c_us, done = state.get if state.exists else (0, 0, 0)
        out = []
        for ts, etype in zip(rows["ts"], rows["event_type"]):
            if done:
                break
            ts_us = ts.value // 1000
            if etype == "view" and v_us == 0:
                v_us = ts_us
            elif (
                etype == "click"
                and v_us != 0
                and c_us == 0
                and v_us <= ts_us <= v_us + CLICK_WINDOW_US
            ):
                c_us = ts_us
            elif (
                etype == "purchase"
                and c_us != 0
                and c_us <= ts_us <= c_us + PURCHASE_WINDOW_US
            ):
                done = 1
                out.append((v_us, c_us, ts_us))
        state.update((v_us, c_us, done))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "view_ts": [pd.Timestamp(v, unit="us") for v, _, _ in out],
                    "click_ts": [pd.Timestamp(c, unit="us") for _, c, _ in out],
                    "purchase_ts": [pd.Timestamp(p, unit="us") for _, _, p in out],
                }
            )

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            step,
            outputStructType=MATCH_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
