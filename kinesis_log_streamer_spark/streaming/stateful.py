"""Custom stateful streaming operators.

The reference keeps only operational state (partial-line carry,
linestreamer.go:18,71,83; the 5-record buffer, basestreamer.go:20) and
has no semantic keyed state.  These operators supply the stateful
query surface a log-analytics engine needs on top of that ingest
(SURVEY.md §2.2 "Stateful streaming ops"):

* :func:`dedup_stream` — exactly-once-per-key records inside a
  watermark horizon (``dropDuplicatesWithinWatermark``): the streaming
  twin of exact dedup; state is bounded by the watermark, so it holds
  at 100 TB/day ingest where an unbounded ``dropDuplicates`` would OOM.
* :func:`stream_stream_join` — watermarked stream-stream equi-join
  with a time-bound condition; both sides' state is purged as the
  watermark advances.
* :func:`sessionize_with_state` — ``applyInPandasWithState`` custom
  sessionizer with explicit gap-timeout semantics, for session shapes
  ``session_window`` can't express (e.g. emitting per-session
  first/last event types).  Python-side, Arrow-batched; keyed state
  lives in the state store and is keyed by user, so it scales
  horizontally with executors.
* :func:`running_totals_with_state` — ``applyInPandasWithState``
  per-key running (count, sum) whose state survives query restarts,
  with an optional TTL-on-read that bounds state by age.
"""

from __future__ import annotations

import time
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def _round_away(x: float, nd: int = 2) -> float:
    """Half-away-from-zero rounding — the semantics DuckDB's round()
    (the oracle side of st16/st19) uses.  Python's builtin round is
    half-even, so an exactly-representable .xx5 running sum would
    hash-diverge (ADVICE r8 low #4; same ulp class s19 fixed with its
    own _round_away, plans/queries.py)."""
    import math  # noqa: PLC0415

    m = 10.0**nd
    return math.copysign(math.floor(abs(x) * m + 0.5), x) / m


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, first_type string, last_type string"
)
_STATE_SCHEMA = "start long, end long, n long, first_type string, last_type string"


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate events by key within the watermark horizon.

    State size is bounded: a key's fingerprint is dropped once the
    watermark passes it (unlike plain ``dropDuplicates``, whose state
    grows forever on an unbounded stream).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "10 minutes",
    max_delay: str = "5 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each left event with
    right events for the same user that happen within ``max_delay``
    after it.  The time-bound condition lets Spark purge both sides'
    state as the watermark advances — mandatory for unbounded joins.
    """
    lhs = left.select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
    ).withWatermark("l_ts", watermark)
    rhs = right.select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
    ).withWatermark("r_ts", watermark)
    return lhs.join(
        rhs,
        F.expr(
            f"""
            l_user = r_user AND
            r_ts > l_ts AND
            r_ts <= l_ts + interval {max_delay}
            """
        ),
    )


def stream_stream_left_join(
    left: DataFrame,
    right: DataFrame,
    watermark: str = "10 minutes",
    max_delay: str = "5 minutes",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the semantics
    inner joins can't give: a left event with NO same-user follower
    within ``max_delay`` still emits (null right side), but only
    once the WATERMARK has passed its match horizon and Spark can
    prove no future right row qualifies.  State on both sides is
    purged at the same horizon, so this is bounded at 100 TB/day
    like the inner form.  Draining bounded therefore needs a
    watermark-advancing sentinel past the last real event
    (`plans/queries.py:_events_stream_with_flush`) — without it,
    every trailing unmatched row stays parked in the state store.
    """
    lhs = left.select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
        F.col("event_type").alias("l_type"),
    ).withWatermark("l_ts", watermark)
    rhs = right.select(
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
        F.col("event_type").alias("r_type"),
    ).withWatermark("r_ts", watermark)
    return lhs.join(
        rhs,
        F.expr(
            f"""
            l_user = r_user AND
            r_ts > l_ts AND
            r_ts <= l_ts + interval {max_delay}
            """
        ),
        "leftOuter",
    )


def _sessionize_fn(
    key: tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    idle_timeout_ms: int = 30_000,
) -> Iterator[pd.DataFrame]:
    """Per-user session accumulator.

    Keeps (start, end, count, first/last event type) in the state
    store; a processing-time timeout closes and emits the session when
    the user goes quiet.  Timestamps are tracked as epoch-micros longs
    inside the state tuple (state schemas are columnar primitives).
    """
    (user_id,) = key
    if state.hasTimedOut:
        start, end, n, first_type, last_type = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(end, unit="us")],
                "n_events": [n],
                "first_type": [first_type],
                "last_type": [last_type],
            }
        )
        return

    rows = pd.concat(list(pdf_iter)).sort_values("ts")
    ts_us = rows["ts"].astype("int64") // 1000  # ns -> us
    if state.exists:
        start, end, n, first_type, last_type = state.get
        start = min(start, int(ts_us.iloc[0]))
        end = max(end, int(ts_us.iloc[-1]))
        n += len(rows)
        last_type = str(rows["event_type"].iloc[-1])
    else:
        start, end = int(ts_us.iloc[0]), int(ts_us.iloc[-1])
        n = len(rows)
        first_type = str(rows["event_type"].iloc[0])
        last_type = str(rows["event_type"].iloc[-1])
    state.update((start, end, n, first_type, last_type))
    state.setTimeoutDuration(idle_timeout_ms)  # close session on idle
    return
    yield  # pragma: no cover — make this a generator


def _event_sessionize_fn(
    key: tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    gap_ms: int,
) -> Iterator[pd.DataFrame]:
    """Per-user EVENT-TIME sessionizer.

    Sessions split on an event-time gap ``>= gap_ms`` (the same
    contract as the q25 gaps-and-islands oracle), so results are a pure
    function of the data — unlike the processing-time variant, this is
    oracle-checkable.  Sessions that close *inside* a batch (a later
    event arrives past the gap) are emitted immediately; the trailing
    open session is parked in the state store with an event-time
    timeout at ``session_end + gap``, emitted when the watermark passes
    it.
    """
    (user_id,) = key

    def session_row(start, end, n, first_type, last_type):
        return {
            "user_id": user_id,
            "session_start": pd.Timestamp(start, unit="us"),
            "session_end": pd.Timestamp(end, unit="us"),
            "n_events": n,
            "first_type": first_type,
            "last_type": last_type,
        }

    if state.hasTimedOut:
        start, end, n, first_type, last_type = state.get
        state.remove()
        yield pd.DataFrame([session_row(start, end, n, first_type, last_type)])
        return

    frames = [p for p in pdf_iter if len(p)]
    if not frames:  # invoked with no data: keep state + timeout as-is
        if state.exists:
            state.setTimeoutTimestamp(state.get[1] // 1000 + gap_ms)
        return
    rows = pd.concat(frames).sort_values("ts", kind="mergesort")
    ts_us = (rows["ts"].astype("int64") // 1000).tolist()  # ns -> us
    types = rows["event_type"].astype(str).tolist()

    cur = list(state.get) if state.exists else None
    closed: list[dict] = []
    for t_us, etype in zip(ts_us, types):
        if cur is None:
            cur = [t_us, t_us, 1, etype, etype]
        elif t_us - cur[1] >= gap_ms * 1000:
            closed.append(session_row(*cur))
            cur = [t_us, t_us, 1, etype, etype]
        else:
            cur[1] = max(cur[1], t_us)
            cur[2] += 1
            cur[4] = etype
    state.update(tuple(cur))
    # Event-time timeout: fires once the watermark passes end + gap.
    state.setTimeoutTimestamp(cur[1] // 1000 + gap_ms)
    if closed:
        yield pd.DataFrame(closed)


def sessionize_by_event_time(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "0 seconds"
) -> DataFrame:
    """Custom sessionization via ``applyInPandasWithState`` with
    EVENT-TIME timeout semantics.

    The processing-time variant (:func:`sessionize_with_state`) closes
    sessions on wall-clock idleness, so its output depends on run
    timing and cannot be oracle-gated; this variant is deterministic:
    sessions are exactly the gaps-and-islands partitioning of each
    user's event times.  Requires a watermark (event-time timeouts are
    measured against it).
    """
    gap_ms = _duration_to_ms(gap)

    def fn(key, pdf_iter, state):
        return _event_sessionize_fn(key, pdf_iter, state, gap_ms)

    return (
        events.select("user_id", "ts", "event_type")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _duration_to_ms(s: str) -> int:
    """'30 minutes' → 1_800_000 (the handful of units tests use)."""
    n, unit = s.split()
    factor = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[unit.rstrip("s")]
    return int(n) * factor


def sessionize_with_state(
    events: DataFrame, idle_timeout_ms: int = 30_000
) -> DataFrame:
    """Custom sessionization via ``applyInPandasWithState``.

    Emits one row per closed session with first/last event types —
    state ``session_window`` cannot carry.  Requires update output
    mode; drive with a file source + processing-time trigger in tests.
    ``idle_timeout_ms`` is the processing-time gap that closes a
    session.
    """

    def fn(key, pdf_iter, state):
        return _sessionize_fn(key, pdf_iter, state, idle_timeout_ms)

    return (
        events.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Per-key running totals with state that survives query restarts
# ---------------------------------------------------------------------------


def running_totals_with_state(
    df: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """Per-key running (count, sum) via ``applyInPandasWithState``.

    Each micro-batch folds into (n, s) GroupState and emits the
    post-batch prefix totals tagged with the batch's max phase.  The
    state store checkpoints, so the totals keep accumulating across
    query RESTARTS (st15, st16, st19 assert exactly that).

    ``ttl_ms`` bounds state by age: a key whose state was not updated
    within ``ttl_ms`` of processing time reads as ABSENT on its next
    batch and its totals restart from zero — the hygiene that keeps an
    unbounded key space (IPs, session ids) from growing the state
    store forever.  The state carries its last-update time for this;
    applyInPandasWithState's own timeouts fire only for keys WITHOUT
    new input, which is eviction, not TTL-on-read.  ``None`` (the
    default) never expires."""

    def fn(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        n = 0
        s = 0.0
        phase = -1
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            phase = max(phase, int(pdf["phase"].max()))
        now_ms = int(time.time() * 1000)
        pn, ps = 0, 0.0
        if state.exists:
            last_n, last_s, last_ms = state.get
            if ttl_ms is None or now_ms - last_ms <= ttl_ms:
                pn, ps = last_n, last_s
        n_run, s_run = pn + n, ps + s
        state.update((n_run, s_run, now_ms))
        yield pd.DataFrame(
            {
                "key": [int(key[0])],
                "phase": [phase],
                "running_n": [n_run],
                "running_sum": [_round_away(s_run, 2)],
            }
        )

    return df.groupBy("key").applyInPandasWithState(
        fn,
        "key int, phase int, running_n long, running_sum double",
        "n long, s double, last_ms long",
        "update",
        GroupStateTimeout.NoTimeout,
    )
