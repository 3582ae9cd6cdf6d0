"""Custom stateful streaming operators (applyInPandasWithState).

session_window / dropDuplicates cover the declarative cases; this module is
the escape hatch for operators that need an explicit per-key state machine
(SURVEY §2.11 / north-star "custom stateful operators"). State lives in the
state store (checkpointed, partitioned by key) — NOT in Python globals — so
the operator scales horizontally and survives restarts like any built-in
stateful op.

``sessionize_with_state`` deliberately reimplements gap sessionization so
its output can be cross-checked against both session_window (streaming) and
q42_sessions (batch oracle) — a custom stateful operator whose semantics
are pinned by two independent implementations.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = "user_id bigint, s_start timestamp, s_end timestamp, cnt bigint"
# open-session state: first/last event epoch-microseconds + event count
STATE_SCHEMA = "start bigint, last bigint, cnt bigint"


def sessionize_with_state(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-user gap sessionization as an explicit state machine.

    Per key and micro-batch: merge the batch's timestamps (sorted) into the
    open session carried in state; whenever a gap >= gap_seconds closes a
    session, emit (user_id, s_start, s_end=last+gap, cnt). The open session
    stays in state with an event-time timeout at last+gap; when the
    watermark passes it, the timeout path emits it. Emission is therefore
    exactly-once per session and append-mode safe.

    Scale: state is one (start, last, cnt) triple per active user —
    bounded, keyed, evicted on timeout; the pandas batches only ever hold
    one micro-batch x one key's events.
    """
    gap_us = gap_seconds * 1_000_000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start, last, cnt = state.get
            state.remove()
            yield _emit(user_id, [(start, last, cnt)])
            return

        ts_us = sorted(
            int(t.value) // 1000  # pandas Timestamp ns -> us
            for pdf in pdfs
            for t in pd.to_datetime(pdf["ts"])
        )
        if state.exists:
            start, last, cnt = state.get
        else:
            start, last, cnt = ts_us[0], ts_us[0], 0
        closed: list[tuple[int, int, int]] = []
        for t in ts_us:
            if cnt and t - last >= gap_us:
                closed.append((start, last, cnt))
                start, cnt = t, 0
            last, cnt = t, cnt + 1
        state.update((start, last, cnt))
        state.setTimeoutTimestamp((last + gap_us) // 1000)  # ms for the API
        if closed:
            yield _emit(user_id, closed)

    def _emit(user_id: int, sessions: list[tuple[int, int, int]]) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [user_id] * len(sessions),
                "s_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                "s_end": [pd.Timestamp(l + gap_us, unit="us") for _, l, _ in sessions],
                "cnt": [c for _, _, c in sessions],
            }
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, OUT_SCHEMA, STATE_SCHEMA, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


# ---------------------------------------------------------------------------
# transformWithState: per-user value budget (Spark 4's arbitrary-state API)
# ---------------------------------------------------------------------------

QUOTA_OUT_SCHEMA = (
    "user_id bigint, event_id bigint, ts timestamp, value double, spent double"
)


def value_quota_batch(events: DataFrame, cap: float) -> DataFrame:
    """Batch form of the budget cutoff: keep each user's events while the
    running total of `value` (in (ts, event_id) order — ALL events count
    against the budget line, admitted or not) stays <= cap. One window
    cumsum, partitioned by user."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        events.withColumn("spent", F.sum("value").over(w))
        .filter(F.col("spent") <= cap)
        .select("user_id", "event_id", "ts", "value", "spent")
    )


def value_quota_stream(events: DataFrame, cap: float) -> DataFrame:
    """The budget cutoff as a custom stateful streaming operator
    (applyInPandasWithState): per user, the state carries one cumulative
    `value` double across micro-batches; each batch sorts its rows by
    (ts, event_id), advances the total, and emits the rows still under
    the cap with their running total.

    Scale: state is ONE double per user — bounded and keyed; the replay
    harness's time-ranged chunks deliver each user's events in ts order
    across micro-batches, so the streaming totals equal the batch window
    cumsum (pinned replay==batch in tests)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        spent = state.get[0] if state.exists else 0.0
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        out = []
        for r in pdf.itertuples():
            spent += float(r.value)
            if spent <= cap:
                out.append((user_id, int(r.event_id), r.ts, float(r.value), spent))
        state.update((float(spent),))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "event_id", "ts", "value", "spent"]
            )

    return (
        events.select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=QUOTA_OUT_SCHEMA,
            stateStructType="spent double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def value_quota_stream_tws(events: DataFrame, cap: float) -> DataFrame:
    """The same operator on transformWithStateInPandas — Spark 4's
    arbitrary-state successor API (ValueState handle, RocksDB-backed
    state store). Availability-gated: the API's Python driver worker
    needs google.protobuf, which this container does not ship, so the
    call raises NotImplementedError here and runs as written on a
    cluster with protobuf installed (set
    spark.sql.streaming.stateStore.providerClass to
    ...state.RocksDBStateStoreProvider before starting)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as ex:
        raise NotImplementedError(
            "transformWithStateInPandas needs the google.protobuf python "
            "package (state serialization), not installed in this "
            "environment; use value_quota_stream (applyInPandasWithState) "
            "— identical semantics"
        ) from ex
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _Quota(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._spent = handle.getValueState("spent", "spent double")

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            (user_id,) = key
            spent = self._spent.get()[0] if self._spent.exists() else 0.0
            pdf = pd.concat(list(rows), ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            out = []
            for r in pdf.itertuples():
                spent += float(r.value)
                if spent <= cap:
                    out.append((user_id, int(r.event_id), r.ts, float(r.value), spent))
            self._spent.update((spent,))
            if out:
                yield pd.DataFrame(
                    out, columns=["user_id", "event_id", "ts", "value", "spent"]
                )

        def close(self) -> None:
            pass

    from pyspark.sql import types as T_

    out_t = T_.StructType(
        [
            T_.StructField("user_id", T_.LongType()),
            T_.StructField("event_id", T_.LongType()),
            T_.StructField("ts", T_.TimestampType()),
            T_.StructField("value", T_.DoubleType()),
            T_.StructField("spent", T_.DoubleType()),
        ]
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Quota(),
        outputStructType=out_t,
        outputMode="Append",
        timeMode="None",
    )


def funnel_with_state(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Streaming ordered-funnel depth per user (round 7): the
    applyInPandasWithState form of operators/timeseries.funnel_depth.

    State per user = the first-touch anchor timestamp of each completed
    step (epoch micros, -1 for not-reached). Each micro-batch folds its
    events in timestamp order into the anchor chain: step k's anchor is
    the earliest event of type steps[k] strictly after the step k-1
    anchor. Emits (user_id, depth) whenever a batch advances a user's
    depth (update-mode semantics: the latest row per user wins).

    Parity contract (test-pinned): on a per-user time-ordered replay the
    final depths equal the batch funnel_depth exactly. With
    out-of-order arrival this is the standard OBSERVED-ORDER streaming
    funnel — an anchor never retracts when an earlier-timestamped
    qualifying event arrives late (a watermark+retraction variant would
    need the full event log in state; the batch form is the reprocessing
    path, the lakehouse-standard fix).

    Scale: state is len(steps) longs per user — bounded, keyed,
    store-checkpointed; each pandas batch holds one micro-batch x one
    user's events."""
    n = len(steps)
    out_schema = "user_id bigint, depth int"
    state_schema = ", ".join(f"a{k} bigint" for k in range(n))
    step_idx = {s: k for k, s in enumerate(steps)}

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        anchors = list(state.get) if state.exists else [-1] * n
        depth0 = sum(1 for a in anchors if a >= 0)
        rows = sorted(
            (int(t.value) // 1000, step_idx[ty])
            for pdf in pdfs
            for t, ty in zip(pd.to_datetime(pdf["ts"]), pdf["event_type"])
            if ty in step_idx
        )
        for ts_us, k in rows:
            if anchors[k] >= 0:
                continue  # first-touch: anchor never moves
            if k == 0 or (anchors[k - 1] >= 0 and ts_us > anchors[k - 1]):
                anchors[k] = ts_us
        depth = sum(1 for a in anchors if a >= 0)
        if depth != depth0 or not state.exists:
            state.update(tuple(anchors))
            yield pd.DataFrame(
                {"user_id": [user_id], "depth": [depth]}
            )
        else:
            state.update(tuple(anchors))

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DECAY_OUT_SCHEMA = "event_type string, n_events bigint, decayed double, asof_us bigint"
DECAY_STATE_SCHEMA = "cnt bigint, dec double, last_us bigint"


def decayed_counts_stream(
    events: DataFrame, halflife_s: float = 3600.0
) -> DataFrame:
    """Streaming half-life-decayed counts per event_type (the
    operators/timeseries.decayed_counts batch form, incrementalized).

    State per key is (n_events, decayed_at_last, last_us) — O(1) per
    key regardless of stream length, the whole point: the decayed sum
    telescopes, so folding each micro-batch against its own max
    timestamp and then re-basing the carried state by
    2^(-(T_new - T_old)/hl) reproduces the batch sum exactly (up to
    float associativity). Emits the updated running row per key per
    micro-batch (update semantics); the latest asof_us row per key is
    the live readout."""
    hl_us = halflife_s * 1e6

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.hasTimedOut:  # no timeouts configured; defensive
            return
        ts_us = [
            int(t.value) // 1000
            for pdf in pdfs
            for t in pd.to_datetime(pdf["ts"])
        ]
        if not ts_us:
            return
        t_new = max(ts_us)
        batch_dec = sum(0.5 ** ((t_new - t) / hl_us) for t in ts_us)
        if state.exists:
            cnt, dec, last_us = state.get
            if last_us > t_new:
                # late batch: re-base the BATCH onto the carried asof
                batch_dec *= 0.5 ** ((last_us - t_new) / hl_us)
                t_new = last_us
            else:
                dec *= 0.5 ** ((t_new - last_us) / hl_us)
        else:
            cnt, dec = 0, 0.0
        cnt += len(ts_us)
        dec += batch_dec
        state.update((cnt, dec, t_new))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_events": [cnt],
                "decayed": [dec],
                "asof_us": [t_new],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        fn,
        DECAY_OUT_SCHEMA,
        DECAY_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
