"""Custom stateful streaming operator (north-star extension):
per-key sessionization via ``applyInPandasWithState``.

The built-in ``F.session_window`` covers gap-sessionization declaratively
(stream/windows.py). This module re-implements it as an explicit
arbitrary-state operator — the pattern any custom stateful logic
(cusum alerts, per-entity small models, dedup-within-horizon) follows:

- state per key = the single open session (start, last-event, count, sum);
- each micro-batch folds new rows into the open session, EMITS every
  session closed by a gap inside the batch, and re-arms an event-time
  timeout at ``last_event + gap``;
- when the watermark passes the timeout, the open session is emitted and
  the key's state removed — so output is append-mode and exactly-once.

Scale notes: state is O(keys), not O(events) — one ~40-byte row per
live user, partitioned by the groupBy key across executors and kept in
the state store (RocksDB-backed in production). The per-batch work is
Arrow-batched pandas on each key's new rows only. Money sums use integer
cents so streamed and batch results match bit-for-bit.

Parity contract (tests/test_streaming.py): the streamed output equals
``stream.windows.session_stats`` (the ``F.session_window`` batch result)
on the same data, column for column.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_MINUTES = 30

# emitted sessions — mirrors windows.session_stats output (string
# timestamps, 2-decimal sum) so parity is a plain set-compare
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.StringType()),
        T.StructField("session_end", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

# open-session state: epoch-micros bounds + integer-cents running sum
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)

_US = 1_000_000


def _fmt_us(us: int) -> str:
    return pd.Timestamp(us, unit="us").strftime("%Y-%m-%d %H:%M:%S")


def _emit(user_id: int, s: tuple[int, int, int, int], gap_us: int) -> dict[str, Any]:
    start_us, last_us, n, cents = s
    return {
        "user_id": user_id,
        "session_start": _fmt_us(start_us),
        # session_window's end = last event + gap
        "session_end": _fmt_us(last_us + gap_us),
        "n_events": n,
        "sum_value": cents / 100.0,
    }


def _fold_spans(
    items: list[tuple[int, int, int, int]], gap_us: int
) -> tuple[list[tuple[int, int, int, int]], tuple[int, int, int, int]]:
    """Start-ordered span merge: union spans whose gap <= gap_us, close
    the earlier span otherwise. Returns (closed spans, open span). An
    event is a width-zero span, the stored open session a wide one, so
    late and out-of-order arrivals need no special cases."""
    items = sorted(items, key=lambda it: (it[0], it[1]))
    closed: list[tuple[int, int, int, int]] = []
    open_s = items[0]
    for it in items[1:]:
        if it[0] - open_s[1] > gap_us:
            closed.append(open_s)
            open_s = it
        else:
            open_s = (
                open_s[0],
                max(open_s[1], it[1]),
                open_s[2] + it[2],
                open_s[3] + it[3],
            )
    return closed, open_s


def _sessionize_key(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
    gap_us: int,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key

    if state.hasTimedOut:
        # watermark passed last_event + gap: the open session is final
        if state.exists:
            out = [_emit(user_id, tuple(state.get), gap_us)]
            state.remove()
            yield pd.DataFrame(out)
        return

    rows = pd.concat(list(pdfs), ignore_index=True)
    # event-time order within the batch; ties keep arrival order
    rows = rows.sort_values("ts", kind="stable")
    ts_us = rows["ts"].to_numpy(dtype="datetime64[us]").astype("int64")
    # floor (not int-truncate): matches F.floor(value*100 + 0.5) for
    # negative values too
    cents = np.floor(rows["value"].to_numpy() * 100 + 0.5).astype("int64")

    # Fold spans, not events-onto-a-point: the stored open session is a
    # SPAN (start..last), and a late-but-within-watermark event may land
    # anywhere relative to it — before start (extend start backwards or
    # split off an earlier session), inside (count it, bounds unchanged),
    # or after last (extend / split forwards). Treating the state as one
    # more span item in the start-ordered fold handles every case with
    # the same merge rule: overlap-within-gap -> union the spans; else
    # the earlier span is closed by the gap. (The round-1 fold compared
    # each event only against `last` and OVERWROTE last with the event's
    # time, so an out-of-order event moved last BACKWARDS, shrinking
    # session_end and arming a too-early timeout.)
    items: list[tuple[int, int, int, int]] = [
        (int(t), int(t), 1, int(c)) for t, c in zip(ts_us, cents)
    ]
    if state.exists:
        s = tuple(state.get)
        items.append((int(s[0]), int(s[1]), int(s[2]), int(s[3])))

    closed_spans, open_s = _fold_spans(items, gap_us)
    closed = [_emit(user_id, sp, gap_us) for sp in closed_spans]

    state.update(open_s)
    # fire when the watermark proves no event can extend the session
    state.setTimeoutTimestamp((open_s[1] + gap_us) // 1000)
    if closed:
        yield pd.DataFrame(closed)


def stateful_sessionize(
    ev: DataFrame, gap_minutes: int = GAP_MINUTES
) -> DataFrame:
    """Sessionize a watermarked event stream with explicit state.

    ``ev`` must be a streaming DataFrame with columns
    (user_id, ts timestamp, value double) and ``withWatermark("ts", ...)``
    already applied — the watermark drives the event-time timeouts.
    """
    gap_us = gap_minutes * 60 * _US

    def fn(key, pdfs, state):
        yield from _sessionize_key(key, pdfs, state, gap_us)

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
