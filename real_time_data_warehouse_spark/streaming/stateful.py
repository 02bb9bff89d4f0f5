"""Custom stateful streaming operators via ``applyInPandasWithState`` —
the two reference operators whose semantics genuinely need keyed state
(SURVEY.md §7.3): ST5 returning-user (8-day gap) and ST3 visitor-flag
repair. Everything else stateful maps onto watermarked dropDuplicates /
window aggregates.

Arrow-batched (grouped pandas), keyed by user — state per key is one date
string, so 100 TB-scale cardinality (~billions of keys) costs tens of GB
across the cluster's state stores. Both operators accept an opt-in
idle-state TTL (processing-time timeout): a key with no activity for that
long has its state dropped (the reference's ST5 keeps state forever —
DwsUserUserLoginWindow.java:80-124). TTL is off by default because
registered timeouts keep availableNow replays alive; long-lived production
queries pass idle_ttl_ms and pair with the RocksDB state store.

Within a micro-batch, events are processed in event-time order (sorted in
the pandas function); across micro-batches the source must be
roughly time-ordered — the same assumption the reference's keyed streams
make.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Idle-state TTL (opt-in): keys silent this long get their state evicted
# (processing-time timeout — the StateTtlConfig analog). OFF by default:
# registered timeouts keep an availableNow query alive to service them, so
# bounded replays/tests run without TTL and long-lived production queries
# opt in via the `idle_ttl_ms` parameter.
DEFAULT_IDLE_TTL_MS = 90 * 24 * 3600 * 1000

RETURNING_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("cur_date", StringType()),
        StructField("is_uu", IntegerType()),
        StructField("is_back", IntegerType()),
    ]
)
_RETURNING_STATE = StructType([StructField("last_login_date", StringType())])


def _make_returning_user_fn(idle_ttl_ms: int | None):
    """Build the state function with the TTL captured in the closure (a
    module global would not survive pickling to the Python workers)."""

    def _returning_user_fn(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Per-user: emit one row per new login date; is_back=1 when the
        gap since the previous login date ≥ 8 days
        (DwsUserUserLoginWindow.java:80-124)."""
        if state.hasTimedOut:
            state.remove()  # idle key: drop the per-user date state
            yield pd.DataFrame(columns=["user_id", "cur_date", "is_uu", "is_back"])
            return
        (user_id,) = key
        last = state.get[0] if state.exists else None
        out: list[tuple[int, str, int, int]] = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            for d in pdf["ts"].dt.strftime("%Y-%m-%d"):
                # skip same-day AND late older-day events: regressing state
                # to an earlier date would re-emit already-counted dates
                # with is_uu=1 on the next batch (double-counted UU)
                if last is not None and d <= last:
                    continue
                is_back = 0
                if last is not None:
                    gap = (pd.Timestamp(d) - pd.Timestamp(last)).days
                    if gap >= 8:
                        is_back = 1
                out.append((user_id, d, 1, is_back))
                last = d
        state.update((last,))
        if idle_ttl_ms:
            state.setTimeoutDuration(idle_ttl_ms)
        yield pd.DataFrame(out, columns=["user_id", "cur_date", "is_uu", "is_back"])

    return _returning_user_fn


def returning_user(logins: DataFrame, idle_ttl_ms: int | None = None) -> DataFrame:
    """ST5 streaming form: logins (user_id, ts) → per-(user, date) rows
    with uu/back flags. Works on a streaming DataFrame (update mode).
    Pass ``idle_ttl_ms`` (e.g. DEFAULT_IDLE_TTL_MS) on long-lived
    production queries to bound state; leave None for bounded replays —
    registered timeouts keep an availableNow query alive."""
    return (
        logins.groupBy("user_id")
        .applyInPandasWithState(
            _make_returning_user_fn(idle_ttl_ms),
            outputStructType=RETURNING_OUTPUT,
            stateStructType=_RETURNING_STATE,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_ttl_ms
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


VISITOR_OUTPUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("visit_date", StringType()),
        StructField("is_new", IntegerType()),
    ]
)
_VISITOR_STATE = StructType([StructField("first_visit_date", StringType())])


def _make_visitor_fix_fn(
    idle_ttl_ms: int | None, neutral: str | None, passthrough: list[str]
):
    cols = [*VISITOR_OUTPUT.fieldNames(), *passthrough]

    def _visitor_fix_fn(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """ST3 (DwdBaseLog.java:121-188): is_new stays 1 only on the
        first-ever visit date of the mid; later dates are repaired to 0.
        Rows flagged by the *neutral* column never touch the state and
        carry is_new NULL."""
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=cols)
            return
        first = state.get[0] if state.exists else None
        outs = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            dates = pdf["ts"].dt.strftime("%Y-%m-%d")
            skip = pdf[neutral] if neutral else [0] * len(pdf)
            is_new: list[int | None] = []
            for d, n in zip(dates, skip):
                if n:
                    is_new.append(None)
                    continue
                if first is None:
                    first = d
                is_new.append(1 if d == first else 0)
            outs.append(
                pdf.assign(
                    visit_date=dates,
                    is_new=pd.Series(is_new, index=pdf.index, dtype="object"),
                )[cols]
            )
        if first is not None:
            state.update((first,))
        if idle_ttl_ms:
            state.setTimeoutDuration(idle_ttl_ms)
        yield pd.concat(outs) if outs else pd.DataFrame(columns=cols)

    return _visitor_fix_fn


def visitor_fix(
    events: DataFrame,
    idle_ttl_ms: int | None = None,
    neutral: str | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """ST3 streaming form: events (event_id, user_id, ts, ...) → one
    ``VISITOR_OUTPUT`` row per event, then the *passthrough* columns.
    Rows whose *neutral* column is non-zero pass through state-neutral
    with is_new NULL (app5s's dirty rows: the one-query form of the
    reference's pre-keyBy side output)."""
    passthrough = list(passthrough or [])
    out = StructType(
        VISITOR_OUTPUT.fields + [events.schema[c] for c in passthrough]
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _make_visitor_fix_fn(idle_ttl_ms, neutral, passthrough),
            outputStructType=out,
            stateStructType=_VISITOR_STATE,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if idle_ttl_ms
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


# --- st11 streaming twin: ordered conversion funnel ----------------------

FUNNEL_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("step", StringType()),
    ]
)
_FUNNEL_STATE = StructType(
    [
        StructField("t1", StringType()),  # ISO micros; None = not reached
        StructField("t2", StringType()),
        StructField("t3", StringType()),
    ]
)
_FUNNEL_FMT = "%Y-%m-%d %H:%M:%S.%f"


def _make_funnel_fn(window_hours: int):
    def _funnel_fn(
        key: tuple[Any, ...],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """st11's greedy chain as keyed state: t1 = first view, t2 =
        first click in (t1, t1+W], t3 = first purchase in (t2, t2+W].
        Emits one row per stage TRANSITION (append mode); state carries
        the chain timestamps as ISO strings so a restart resumes
        exactly. Within a batch events process in (ts, event_id) order;
        across batches the source must be time-ordered (the module's
        standing assumption)."""
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=["user_id", "step"])
            return
        (user_id,) = key
        t1s, t2s, t3s = state.get if state.exists else (None, None, None)
        t1 = pd.Timestamp(t1s) if t1s else None
        t2 = pd.Timestamp(t2s) if t2s else None
        t3 = pd.Timestamp(t3s) if t3s else None
        w = pd.Timedelta(hours=window_hours)
        out: list[tuple[int, str]] = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                if t1 is None:
                    if et == "view":
                        t1 = ts
                        out.append((user_id, "view"))
                elif t2 is None:
                    if et == "click" and t1 < ts <= t1 + w:
                        t2 = ts
                        out.append((user_id, "view>click"))
                elif t3 is None:
                    if et == "purchase" and t2 < ts <= t2 + w:
                        t3 = ts
                        out.append((user_id, "view>click>purchase"))
        state.update(
            tuple(
                t.strftime(_FUNNEL_FMT) if t is not None else None
                for t in (t1, t2, t3)
            )
        )
        yield pd.DataFrame(out, columns=["user_id", "step"])

    return _funnel_fn


def funnel_stream(events: DataFrame, window_hours: int = 12) -> DataFrame:
    """st11's streaming twin: per-user funnel chain as keyed state,
    emitting a row at each stage transition. Batch ≡ stream: on a
    time-ordered source the concatenated per-key order equals the batch
    fold's sorted scan, so per-user transitions are identical —
    tests/test_streaming.py replays the fixture and compares counts
    against the registered st11 query."""
    return events.select(
        "user_id", "ts", "event_id", "event_type"
    ).groupBy("user_id").applyInPandasWithState(
        _make_funnel_fn(window_hours),
        outputStructType=FUNNEL_OUTPUT,
        stateStructType=_FUNNEL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
