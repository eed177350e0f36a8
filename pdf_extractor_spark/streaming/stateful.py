"""Custom stateful streaming operator: sessionization via
``applyInPandasWithState``.

The reference has NO streaming surface (its ``extract_streaming`` is an
explicit placeholder, reference src/extractor.py:138-159), so the batch
engine is the primary path (SURVEY.md §2.9). This module supplies the
stateful-streaming operator a training-data pipeline needs when the same
sessionization/dedup semantics must run over an unbounded feed: per-key
state (the open session) kept in the state store, closed sessions emitted
either when an in-stream inactivity gap is observed or when the event-time
watermark passes the session's timeout.

Semantics match the batch ``s_sessionize`` query (lag + running-sum gap
sessionizer in queries.py) exactly for every session that closes; the
equivalence is asserted in tests/test_streaming_stateful.py across
micro-batch boundaries (state survives via the checkpoint).

Scale notes: state is one small tuple per key (not per event) — memory is
O(active keys); the shuffle key is the session key, which cannot be salted
(a session must see every event of its key), so a hot key costs shuffle
bandwidth only; the RocksDB state store backend handles key counts beyond
executor memory.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_US_PER_S = 1_000_000


def _epoch_us(ts: pd.Series) -> pd.Series:
    # normalize ns/us datetime64 units to epoch microseconds
    return pd.to_datetime(ts).astype("datetime64[ns]").astype("int64") // 1000


def _round2(x: float) -> float:
    """Half-up to 2 decimals, matching Spark's F.round (which rounds the
    double's shortest decimal repr HALF_UP) — Python's round() is
    banker's/half-even and diverges on sums ending in .xx5."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def sessionize_stream(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionizer (inactivity gap) with per-key state.

    Emits one row per CLOSED session: ``(key, session_start, session_end,
    n_events, session_value)``. A session closes when a later event of the
    same key arrives more than ``gap_minutes`` after it (same rule as the
    batch lag+sum sessionizer), or when the event-time watermark passes
    ``session_end + gap`` (timeout path — emits sessions whose key went
    quiet). The still-open session per key lives in the state store and
    survives micro-batch and restart boundaries via the checkpoint.
    """
    key_field = df.schema[key_col]
    key_ddl = f"{key_col} {key_field.dataType.simpleString()}"
    out_schema = (
        f"{key_ddl}, session_start timestamp, session_end timestamp, "
        "n_events bigint, session_value double"
    )
    state_schema = "start_us bigint, last_us bigint, n_events bigint, value_sum double"
    gap_us = gap_minutes * 60 * _US_PER_S

    def _emit(key_val, sessions: list[tuple]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                key_col: [key_val] * len(sessions),
                "session_start": [pd.to_datetime(s[0], unit="us") for s in sessions],
                "session_end": [pd.to_datetime(s[1], unit="us") for s in sessions],
                "n_events": [s[2] for s in sessions],
                "session_value": [_round2(s[3]) for s in sessions],
            }
        )

    def fn(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        key_val = key[0]
        if state.hasTimedOut:
            start_us, last_us, n, vsum = state.get
            state.remove()
            yield _emit(key_val, [(start_us, last_us, n, vsum)])
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows) == 0:
            return
        rows = rows.assign(_us=_epoch_us(rows[ts_col])).sort_values(
            ["_us"], kind="mergesort"
        )

        if state.exists:
            cur = list(state.get)
        else:
            cur = None
        closed: list[tuple] = []
        events = list(zip(rows["_us"], rows[value_col].astype("float64")))
        # within-watermark late events may precede the carried session's
        # START. Batch semantics: events more than gap before session_start
        # form their OWN earlier session(s); events within gap of the start
        # merge in (widen). Sessionize the pre-start run separately, then
        # merge its tail into the open session iff it closes the gap.
        # (Inherent streaming divergence, documented: a late event cannot
        # merge with a session that was already emitted in a prior batch.)
        if cur is not None:
            pre = [(t, v) for t, v in events if t < cur[0]]
            events = [(t, v) for t, v in events if t >= cur[0]]
            acc: list | None = None
            for ts_us, val in pre:
                if acc is None:
                    acc = [ts_us, ts_us, 1, val]
                elif ts_us - acc[1] > gap_us:
                    closed.append(tuple(acc))
                    acc = [ts_us, ts_us, 1, val]
                else:
                    acc[1] = ts_us
                    acc[2] += 1
                    acc[3] += val
            if acc is not None:
                if cur[0] - acc[1] <= gap_us:
                    cur[0] = acc[0]
                    cur[2] += acc[2]
                    cur[3] += acc[3]
                else:
                    closed.append(tuple(acc))
        for ts_us, val in events:
            if cur is None:
                cur = [ts_us, ts_us, 1, val]
                continue
            if ts_us - cur[1] > gap_us:
                closed.append(tuple(cur))
                cur = [ts_us, ts_us, 1, val]
                continue
            # mid-session stragglers (cur_start <= ts <= cur_last) just
            # accumulate; later events extend the end
            cur[1] = max(cur[1], ts_us)
            cur[2] += 1
            cur[3] += val
        state.update(tuple(cur))
        # event-time timeout: fire once the watermark passes last_ts + gap.
        # must be strictly later than the current watermark or Spark rejects it.
        timeout_ms = max(
            state.getCurrentWatermarkMs() + 1, (cur[1] + gap_us) // 1000
        )
        state.setTimeoutTimestamp(timeout_ms)
        if closed:
            yield _emit(key_val, closed)

    return (
        df.withWatermark(ts_col, watermark_delay)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
