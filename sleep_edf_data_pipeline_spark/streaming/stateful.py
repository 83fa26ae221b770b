"""Custom stateful streaming operator: gap-based episode detection.

The reference computes episodes in batch SQL via gaps-and-islands
(SURVEY R7-R9, `/root/reference/models/intermediate/sleep_metrics.sql:84-118`):
a run of activity ends when a gap of >= ``gap`` elapses.  Native
``session_window`` gives the same *windows*, but cannot carry custom
per-episode accumulators or emit arbitrary shapes.  This operator
re-states episode detection as an ``applyInPandasWithState`` stateful
map — the Structured Streaming escape hatch for operators the built-in
windows can't express.

Semantics: per user, events (sorted by event time within and across
micro-batches of one key's data) extend the open episode while the gap
to the previous event is < ``gap``; a larger gap **closes** the open
episode (emitted downstream) and opens a new one.  The open episode
rides in the group state across micro-batches — arbitrarily long
episodes spanning any number of batches cost O(1) state per user.

Scale: state is one fixed-width row per user, sharded across executors
by the ``groupBy`` key exactly like any shuffle; 10^9 users ≈ 32 GB of
state cluster-wide (RocksDB state store spills it off-heap).  The
per-batch work is vectorized pandas on Arrow batches.

Caveat (documented, inherent to single-pass streaming): events must
arrive per-user in non-decreasing event-time order across micro-batches
(within a batch they are sorted here).  Out-of-order arrivals across
batches would need a watermark-delayed buffer in state — the
batch/oracle twin (`queries/event_windows.py: session_window_agg`)
is the order-insensitive reference.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Emitted for every CLOSED episode.
EPISODE_SCHEMA = (
    "user_id bigint, episode_start timestamp, episode_end timestamp, "
    "n_events bigint, total_value double"
)

#: Open-episode accumulator carried across micro-batches
#: (timestamps as int64 epoch-micros: pandas/Arrow-stable).
STATE_SCHEMA = "start_us long, last_us long, n_events long, total_value double"


def _fold_episodes(
    user_id: int,
    batches: Iterator[pd.DataFrame],
    prior: tuple | None,
    gap_us: int,
) -> tuple[list[tuple], tuple]:
    """Fold one user's batches onto the open episode.

    Returns (closed rows, new open-episode state); ``prior`` is the
    state carried from earlier micro-batches (None for a new user).
    """
    if prior is not None:
        start_us, last_us, n_events, total_value = prior
    else:
        start_us, last_us, n_events, total_value = None, None, 0, 0.0

    closed: list[tuple[int, int, int, int, float]] = []
    for pdf in batches:
        pdf = pdf.sort_values("ts")
        ts_us = pdf["ts"].astype("int64") // 1000  # ns → µs
        vals = pdf["value"].to_numpy()
        for t, v in zip(ts_us.to_numpy(), vals):
            if last_us is not None and t - last_us >= gap_us:
                closed.append((user_id, start_us, last_us, n_events, total_value))
                start_us, n_events, total_value = None, 0, 0.0
            if start_us is None:
                start_us = int(t)
            last_us = int(t)
            n_events += 1
            total_value += float(v)
    return closed, (start_us, last_us, n_events, total_value)


def _closed_to_pdf(closed: list[tuple]) -> pd.DataFrame:
    out = pd.DataFrame(
        closed,
        columns=[
            "user_id",
            "episode_start",
            "episode_end",
            "n_events",
            "total_value",
        ],
    )
    out["episode_start"] = pd.to_datetime(out["episode_start"], unit="us")
    out["episode_end"] = pd.to_datetime(out["episode_end"], unit="us")
    return out


def _episode_fn(gap_us: int):
    def fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        prior = state.get if state.exists else None
        closed, new_state = _fold_episodes(user_id, batches, prior, gap_us)
        state.update(new_state)
        if closed:
            yield _closed_to_pdf(closed)

    return fn


def streaming_episodes(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user episode detection over a stream of (user_id, ts, value).

    Emits one row per closed episode; the open episode stays in state.
    """
    gap_us = _parse_gap_us(gap)
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _episode_fn(gap_us),
            outputStructType=EPISODE_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _parse_gap_us(gap: str) -> int:
    amount, unit = gap.split()
    per_unit = {"seconds": 1, "second": 1, "minutes": 60, "minute": 60,
                "hours": 3600, "hour": 3600}[unit]
    return int(amount) * per_unit * 1_000_000
