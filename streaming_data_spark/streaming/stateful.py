"""Custom stateful streaming operators (SURVEY.md §2.9 T6).

The reference's streaming path (Logstash) is stateless per event; state
only enters through windowed aggregation. This module adds the one
genuinely custom stateful operator a training-data event pipeline
needs — gap-based sessionization — as an ``applyInPandasWithState``
operator, the Spark-idiomatic escape hatch when ``window()`` can't
express the semantics (session length is data-dependent, not fixed).

Scale notes: state is per-key and O(1) per key (one open session
tuple); the shuffle is the groupBy on the session key, identical to
what any keyed stateful op pays (into the P state partitions of the
stateful-section note in ``streaming.pipeline``). Arrow moves each
key-batch into pandas, so per-event Python overhead is amortized per
batch, not paid per row.
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING, Any, Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("session_value", DoubleType()),
    ]
)

# open-session state: (start_us, end_us, n_events, value_sum)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("value_sum", DoubleType()),
    ]
)


def sessionize_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_minutes: int = 30,
    timeout: bool = False,
) -> DataFrame:
    """Split each key's event stream into sessions separated by more
    than ``gap_minutes`` of inactivity; emit a session row the moment a
    later event (possibly in a later micro-batch) proves it closed.

    The open session per key lives in Spark state across micro-batches.
    With ``timeout=True`` an open session is flushed once processing
    time exceeds the gap with no new events; otherwise open sessions
    close only when a late-enough event arrives (matching the batch
    form in queries_ext3.q_sessionization, which sees all data).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def _fn(
        key: Tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def emit(rows: list[tuple[int, int, int, float]]) -> "pd.DataFrame":
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(rows),
                    "session_start": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "session_end": pd.to_datetime([r[1] for r in rows], unit="us"),
                    "n_events": [r[2] for r in rows],
                    "session_value": [r[3] for r in rows],
                }
            )

        if state.hasTimedOut:
            start_us, end_us, n, total = state.get
            state.remove()
            yield emit([(start_us, end_us, n, total)])
            return

        batch = pd.concat(list(pdfs)).sort_values(ts_col)
        ts_us = batch[ts_col].astype("int64") // 1000
        values = batch[value_col].astype("float64")

        open_sess = list(state.get) if state.exists else None
        closed: list[tuple[int, int, int, float]] = []
        for t, v in zip(ts_us, values):
            if open_sess is None:
                open_sess = [t, t, 1, float(v)]
            elif t - open_sess[1] > gap_us:
                closed.append(tuple(open_sess))
                open_sess = [t, t, 1, float(v)]
            else:
                # late events inside the gap extend, never shrink
                open_sess[1] = max(open_sess[1], t)
                open_sess[2] += 1
                open_sess[3] += float(v)
        state.update(tuple(open_sess))
        if timeout:
            state.setTimeoutDuration(gap_minutes * 60 * 1000)
        if closed:
            yield emit(closed)

    conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=conf,
    )


# ---------------------------------------------------------------------------
# Per-key change alerts — one detection kernel, two stateful-API bindings
# ---------------------------------------------------------------------------

ALERT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("prev_value", DoubleType()),
        StructField("change_pct", DoubleType()),
    ]
)

# cross-batch state: the key's last-seen event. ``seq`` is the
# deterministic tiebreak for same-timestamp events (an event id when
# the caller names one via ``seq_col``; constant 0 otherwise, which
# degrades to the plain ts-only comparison).
_LAST_SCHEMA = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
    ]
)
# State-schema v1 — the (ts_us, value) layout from before the seq
# tiebreak hardening. Spark validates the DECLARED state schema
# against what the checkpoint stored, so a v2 (3-field) query cannot
# open a v1 checkpoint (and Spark offers no in-place state
# migration). ``change_alert_stream(state_schema_version=1)`` is the
# operational escape hatch: it declares THIS schema, keeps old
# checkpoints restartable, and runs the same kernel with seq=0
# (arrival-order tie resolution — exactly the old behavior).
# Upgrading to v2 for the deterministic tiebreak requires a fresh
# checkpoint (see COVERAGE.md "State-schema versions").
_LAST_SCHEMA_V1 = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("value", DoubleType()),
    ]
)
CHANGE_ALERT_STATE_VERSION = 2  # current default; suffix checkpoints with it


def _round6_half_up(x: float) -> float:
    """HALF-UP (away from zero) 6-decimal rounding, matching Spark's
    round() rather than Python's banker's rounding. ONE copy on
    purpose: every stream==batch contract in this module leans on this
    exact rule, so all kernels must share it."""
    import math

    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _detect_changes(prev, ts_us, values, pct, seqs=None):
    """Shared kernel: scan one key's batch (sorted by (ts, seq)) against
    the carried (ts_us, seq, value) state; return (alert rows, new
    state). Out-of-order stragglers older than the carried state never
    alert and never regress the state (same late-data stance as
    sessionize_stream: state moves forward only); "older" is the
    LEXICOGRAPHIC (ts, seq) order, so two same-ts events resolve the
    same way on every replay instead of by arrival order. A ZERO
    baseline never alerts — relative change against 0 is undefined,
    and the engine-side twin (lag + double division) yields NULL there,
    so emitting ±inf would diverge stream from batch. Rounding is
    HALF-UP (away from zero), matching Spark's round(), not Python's
    banker's rounding (see _round6_half_up — the shared kernel)."""
    import itertools

    _round6 = _round6_half_up
    if seqs is None:
        seqs = itertools.repeat(0)
    out: list[tuple[int, float, float, float]] = []
    for t, s, v in zip(ts_us, seqs, values):
        if prev is not None:
            p_ts, p_seq, p_val = prev
            if (
                (t, s) >= (p_ts, p_seq)
                and p_val != 0
                and abs(v - p_val) > pct * abs(p_val)
            ):
                out.append(
                    (int(t), float(v), float(p_val), _round6((v - p_val) / p_val))
                )
        if prev is None or (t, s) >= (prev[0], prev[1]):
            prev = (int(t), int(s), float(v))
    return out, prev


def _alerts_frame(key, rows):
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [key] * len(rows),
            "ts": pd.to_datetime([r[0] for r in rows], unit="us"),
            "value": [r[1] for r in rows],
            "prev_value": [r[2] for r in rows],
            "change_pct": [r[3] for r in rows],
        }
    )


def has_transform_with_state_runtime() -> bool:
    """transformWithState's state-server protocol is protobuf-based;
    the PySpark side needs the ``protobuf`` package at PYTHON-WORKER
    runtime (pyspark/sql/streaming/proto/StateMessage_pb2.py imports
    google.protobuf). Absent → the query crashes at state-schema
    validation, so bind the fallback API instead.

    Caveat: this probes the DRIVER interpreter — correct in local
    mode (driver and workers share one environment), best-effort on a
    cluster whose executor images differ from the driver's. For
    heterogeneous deployments pass ``api="apply"``/``api="tws"``
    explicitly instead of trusting ``auto``."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def change_alert_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    pct: float = 0.5,
    api: str = "auto",
    state_ttl_ms: int | None = None,
    seq_col: str | None = None,
    state_schema_version: int = 2,
) -> DataFrame:
    """Per-key change detection across micro-batches: emit an alert row
    whenever a key's value moves more than ``pct`` (relative) against
    that key's PREVIOUS event — even when the two events arrive in
    different micro-batches. The streaming twin of the batch change
    classifier (a5 / operators.aggregates) and the engine-side version
    of the reference's poll-and-alert monitor loop (monitor_errors.py
    greps logs on a timer; here state lives in the engine and alerting
    is event-driven).

    ``api`` selects the stateful binding, both over the SAME kernel:

    - ``"tws"`` — Spark 4 ``transformWithStateInPandas`` (SPARK-46815):
      named/typed per-variable state, native TTL (``state_ttl_ms`` —
      state hygiene at 100 TB key cardinality without hand-rolled
      timers), RocksDB state store (spills to disk instead of growing
      the heap with key count). Requires the ``protobuf`` package at
      worker runtime.
    - ``"apply"`` — ``applyInPandasWithState``, the 3.4+ API; no
      runtime deps beyond Arrow. TTL is not supported here (ignored).
    - ``"auto"`` (default) — tws when its runtime is present, else
      apply. Either way per-key state is ONE (ts, seq, value) tuple —
      O(keys) total, the minimum any cross-batch comparator holds.

    ``seq_col`` names a monotone-per-key column (an event id) used as
    the tiebreak for same-timestamp events; without it two same-ts
    events for one key resolve by arrival order, which can differ
    between replays (and from the batch lag() twin). Pass it whenever
    the source has a stable id.

    ``state_schema_version`` selects the stored per-key state layout:
    2 (default) is the current (ts_us, seq, value) tuple; 1 is the
    pre-seq (ts_us, value) layout — pass 1 to RESTART a checkpoint
    written before the tiebreak hardening (Spark rejects a schema
    change against a live checkpoint and cannot migrate state
    in-place). v1 runs the same kernel with seq pinned to 0 and is
    incompatible with ``seq_col``.
    """
    if api == "auto":
        api = "tws" if has_transform_with_state_runtime() else "apply"
    if state_schema_version not in (1, 2):
        raise ValueError(f"state_schema_version must be 1 or 2, got {state_schema_version}")
    if state_schema_version == 1 and seq_col is not None:
        raise ValueError(
            "state_schema_version=1 (ts_us, value) cannot store the seq tiebreak; "
            "drop seq_col or start a fresh v2 checkpoint"
        )
    state_schema = _LAST_SCHEMA if state_schema_version == 2 else _LAST_SCHEMA_V1

    def _load(stored):
        """Stored state tuple -> kernel (ts_us, seq, value)."""
        if stored is None:
            return None
        if state_schema_version == 2:
            return stored
        return (stored[0], 0, stored[1])

    def _store(prev):
        """Kernel (ts_us, seq, value) -> stored state tuple."""
        if state_schema_version == 2:
            return prev
        return (prev[0], prev[2])

    sort_cols = [ts_col] if seq_col is None else [ts_col, seq_col]

    def _seqs(batch):
        return None if seq_col is None else batch[seq_col].astype("int64")

    if api == "tws":
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class _ChangeDetector(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._last = handle.getValueState(
                    "last", state_schema, state_ttl_ms
                )

            def handleInputRows(self, key, rows, timerValues):
                import pandas as pd

                batch = pd.concat(list(rows)).sort_values(sort_cols)
                prev = _load(self._last.get() if self._last.exists() else None)
                out, prev = _detect_changes(
                    prev,
                    batch[ts_col].astype("int64") // 1000,
                    batch[value_col].astype("float64"),
                    pct,
                    seqs=_seqs(batch),
                )
                self._last.update(_store(prev))
                if out:
                    yield _alerts_frame(key[0], out)

            def close(self) -> None:
                pass

        return events.groupBy(key_col).transformWithStateInPandas(
            statefulProcessor=_ChangeDetector(),
            outputStructType=ALERT_SCHEMA,
            outputMode="append",
            # TTL state is only legal under processing-time semantics
            # (Spark raises STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_
            # ASSIGN_TTL otherwise), so the mode follows the TTL ask.
            timeMode="processingTime" if state_ttl_ms else "none",
        )

    if api != "apply":
        raise ValueError(f"unknown api {api!r}; one of auto/tws/apply")

    def _fn(
        key: Tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values(sort_cols)
        prev = _load(tuple(state.get) if state.exists else None)
        out, prev = _detect_changes(
            prev,
            batch[ts_col].astype("int64") // 1000,
            batch[value_col].astype("float64"),
            pct,
            seqs=_seqs(batch),
        )
        state.update(tuple(_store(prev)))
        if out:
            yield _alerts_frame(key[0], out)

    return events.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=ALERT_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming SMA crossover — golden/death-cross alerts over a candle stream
# ---------------------------------------------------------------------------

CROSS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", TimestampType()),
        StructField("close", DoubleType()),
        StructField("sma_s", DoubleType()),
        StructField("sma_l", DoubleType()),
        # None on warmed days without a cross — emitted anyway so the
        # stream is row-equal to the batch form, not just alert-equal
        StructField("signal", StringType()),
    ]
)

# cross-batch state: the trailing `long` closes (day-ordered) plus
# whether the PREVIOUS emitted day had a fully-warmed long window and
# its rounded SMAs — everything the crossover rule needs, O(long) per
# key no matter how many batches pass.
_CROSS_STATE = StructType(
    [
        StructField("days_us", ArrayType(LongType())),
        StructField("closes", ArrayType(DoubleType())),
        StructField("prev_full", LongType()),  # 0/1 (state structs: no bool)
        StructField("p_sma_s", DoubleType()),
        StructField("p_sma_l", DoubleType()),
    ]
)


def _advance_cross(state, days_us, closes, short, long):
    """Shared kernel: fold one key's day-ordered batch into the
    trailing-window state; return (emitted rows, new state). Rows
    emit only when the long window is full on BOTH the current and
    previous day — the same warm rule as the batch operator
    (operators/indicators.sma_crossover), so stream == batch row-for-
    row. SMAs sum the window in day order (the order Spark's window
    avg accumulates) and round half-up like Spark's round(). Late
    days (≤ the newest seen) are dropped: state moves forward only,
    the same stance as the other stateful kernels here."""
    hist_d, hist_c, prev_full, p_s, p_l = state or ([], [], 0, None, None)
    hist_d, hist_c = list(hist_d), list(hist_c)
    out = []
    for d, c in zip(days_us, closes):
        if hist_d and d <= hist_d[-1]:
            continue
        hist_d.append(int(d))
        hist_c.append(float(c))
        del hist_d[:-long], hist_c[:-long]
        if len(hist_c) < long:
            continue
        sma_s = _round6_half_up(sum(hist_c[-short:]) / short)
        sma_l = _round6_half_up(sum(hist_c) / long)
        if prev_full:
            if sma_s > sma_l and p_s <= p_l:
                sig = "GOLDEN"
            elif sma_s < sma_l and p_s >= p_l:
                sig = "DEATH"
            else:
                sig = None
            out.append((int(d), float(c), sma_s, sma_l, sig))
        prev_full, p_s, p_l = 1, sma_s, sma_l
    return out, (hist_d, hist_c, prev_full, p_s, p_l)


def sma_cross_stream(
    daily: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    close_col: str = "close",
    short: int = 5,
    long: int = 20,
) -> DataFrame:
    """Streaming golden/death-cross detection over a per-key daily
    close stream (the candle cadence the reference's daily DAG
    materializes) — the streaming twin of
    operators/indicators.sma_crossover. Each key carries its trailing
    ``long`` closes across micro-batches, so a cross whose two sides
    arrive in different batches still fires; state is O(long) per key
    regardless of stream length, and keys shard across executors on
    the groupBy — the same scaling shape as every stateful op here.

    The output key column is named ``key_col`` and typed from the
    input schema (CROSS_SCHEMA documents the default user_id shape) —
    a non-default key must not silently come back renamed."""
    out_schema = StructType(
        [
            StructField(key_col, daily.schema[key_col].dataType),
            *CROSS_SCHEMA.fields[1:],
        ]
    )

    def _fn(
        key: Tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values(day_col)
        prev = tuple(state.get) if state.exists else None
        rows, new_state = _advance_cross(
            prev,
            batch[day_col].astype("int64") // 1000,
            batch[close_col].astype("float64"),
            short,
            long,
        )
        state.update(tuple(new_state))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "day": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "close": [r[1] for r in rows],
                    "sma_s": [r[2] for r in rows],
                    "sma_l": [r[3] for r in rows],
                    "signal": [r[4] for r in rows],
                }
            )

    return daily.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_CROSS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming Bollinger bands / EWMA — the remaining indicator twins
# (VERDICT r6 item 8: extend the sma_cross_stream O(window)-state
# kernel pattern so the whole indicator panel has a streaming tier)
# ---------------------------------------------------------------------------

# cross-batch state: the trailing `periods` (day, close) pairs —
# O(periods) per key no matter how many batches pass.
_BOLL_STATE = StructType(
    [
        StructField("days_us", ArrayType(LongType())),
        StructField("closes", ArrayType(DoubleType())),
    ]
)


def _advance_bollinger(state, days_us, closes, periods, n_std):
    """Fold one key's day-ordered batch into the trailing-window state;
    return (emitted rows, new state). Emits only fully-warmed windows
    (the batch operator's w_n == periods rule, so stream == batch
    row-for-row). The mean is the in-order sum/n (Spark's Average
    fold) and the sample stddev is the in-order Welford fold (Spark's
    CentralMomentAgg) — the SAME IEEE op sequence Spark's window
    aggregate runs, so the rounded bands agree bit-for-bit. Late days
    (≤ newest seen) drop: state moves forward only."""
    hist_d, hist_c = state or ([], [])
    hist_d, hist_c = list(hist_d), list(hist_c)
    out = []
    for d, c in zip(days_us, closes):
        if hist_d and d <= hist_d[-1]:
            continue
        hist_d.append(int(d))
        hist_c.append(float(c))
        del hist_d[:-periods], hist_c[:-periods]
        if len(hist_c) < periods:
            continue
        mean_raw = sum(hist_c) / periods
        # Spark CentralMomentAgg fold, frame order, EXACT op sequence:
        # delta = x - mean; deltaN = delta/n; mean += deltaN;
        # m2 += delta * (delta - deltaN). (delta - deltaN) is NOT the
        # same rounding as (x - updated_mean) — using the latter can
        # drift an ulp and flip a band at a 0.5e-6 boundary.
        n = 0
        mean = 0.0
        m2 = 0.0
        for x in hist_c:
            n += 1
            delta = x - mean
            delta_n = delta / n
            mean += delta_n
            m2 += delta * (delta - delta_n)
        sd = math.sqrt(m2 / (n - 1))  # Math.sqrt is correctly rounded; x**0.5 may not be
        upper = _round6_half_up(mean_raw + n_std * sd)
        lower = _round6_half_up(mean_raw - n_std * sd)
        close = hist_c[-1]
        position = "ABOVE" if close > upper else ("BELOW" if close < lower else "IN")
        out.append(
            (int(d), close, _round6_half_up(mean_raw), upper, lower, position)
        )
    return out, (hist_d, hist_c)


def bollinger_stream(
    daily: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    close_col: str = "close",
    periods: int = 20,
    n_std: float = 2.0,
) -> DataFrame:
    """Streaming Bollinger bands over a per-key daily close stream —
    the streaming twin of operators/indicators.bollinger_bands: same
    warm rule, same rounded bands, same ABOVE/IN/BELOW classification,
    with the trailing window carried across micro-batches. State is
    O(periods) per key; keys shard across executors on the groupBy."""
    out_schema = StructType(
        [
            StructField(key_col, daily.schema[key_col].dataType),
            StructField("day", TimestampType()),
            StructField("close", DoubleType()),
            StructField("mid", DoubleType()),
            StructField("upper", DoubleType()),
            StructField("lower", DoubleType()),
            StructField("position", StringType()),
        ]
    )

    def _fn(
        key: Tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values(day_col)
        prev = tuple(state.get) if state.exists else None
        rows, new_state = _advance_bollinger(
            prev,
            batch[day_col].astype("int64") // 1000,
            batch[close_col].astype("float64"),
            periods,
            n_std,
        )
        state.update(tuple(new_state))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "day": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "close": [r[1] for r in rows],
                    "mid": [r[2] for r in rows],
                    "upper": [r[3] for r in rows],
                    "lower": [r[4] for r in rows],
                    "position": [r[5] for r in rows],
                }
            )

    return daily.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_BOLL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# cross-batch state: ONE (last day, running value) pair per key — the
# minimum any exponential recursion can carry.
_EWMA_STATE = StructType(
    [
        StructField("last_day_us", LongType()),
        StructField("y", DoubleType()),
    ]
)


def _advance_ewma(state, days_us, closes, alpha):
    """Fold one key's day-ordered batch through y = a·x + (1-a)·y —
    EXACTLY the batch operator's op order (indicators.ewma), so the
    streamed values are bit-identical to the batch fold. Every row
    emits (the recursion starts at y_1 = x_1, no warmup); late days
    drop, state moves forward only."""
    last_d, y = state or (None, None)
    out = []
    for d, c in zip(days_us, closes):
        if last_d is not None and d <= last_d:
            continue
        x = float(c)
        y = x if y is None else alpha * x + (1.0 - alpha) * y
        last_d = int(d)
        out.append((last_d, x, y))
    return out, (last_d, y)


def ewma_stream(
    daily: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    close_col: str = "close",
    alpha: float = 0.2,
) -> DataFrame:
    """Streaming EWMA over a per-key daily close stream — the
    streaming twin of operators/indicators.ewma (the mapInPandas
    partition fold): same recursion, same IEEE op order, values carry
    across micro-batches through O(1) state per key."""
    out_schema = StructType(
        [
            StructField(key_col, daily.schema[key_col].dataType),
            StructField("day", TimestampType()),
            StructField("close", DoubleType()),
            StructField("ewma", DoubleType()),
        ]
    )
    a = float(alpha)

    def _fn(
        key: Tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values(day_col)
        prev = tuple(state.get) if state.exists else None
        rows, new_state = _advance_ewma(
            prev,
            batch[day_col].astype("int64") // 1000,
            batch[close_col].astype("float64"),
            a,
        )
        state.update(tuple(new_state))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "day": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "close": [r[1] for r in rows],
                    "ewma": [r[2] for r in rows],
                }
            )

    return daily.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_EWMA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# cross-batch state for the Wilder RSI recursion: O(1) per key
# (seed accumulators until `periods` deltas, then the running avgs).
_RSI_STATE = StructType(
    [
        StructField("last_day_us", LongType()),
        StructField("n_deltas", LongType()),
        StructField("gsum", DoubleType()),
        StructField("lsum", DoubleType()),
        StructField("ag", DoubleType()),
        StructField("al", DoubleType()),
        StructField("prev_close", DoubleType()),
    ]
)


def _advance_rsi(state, days_us, closes, periods):
    """Fold one key's day-ordered batch through Wilder's recursion —
    EXACTLY the batch fold's op order (indicators.rsi), so streamed
    values equal the batch ones bit-for-bit before rounding. Late
    days drop; state moves forward only."""
    p = float(periods)
    last_d, n, gsum, lsum, ag, al, prev = state or (
        None, 0, 0.0, 0.0, None, None, None,
    )
    out = []
    for d, c in zip(days_us, closes):
        if last_d is not None and d <= last_d:
            continue
        x = float(c)
        last_d = int(d)
        if prev is None:
            prev = x
            continue
        delta = x - prev
        prev = x
        gain = delta if delta > 0 else 0.0
        loss = -delta if delta < 0 else 0.0
        n += 1
        if n < periods:
            gsum += gain
            lsum += loss
            continue
        if n == periods:
            gsum += gain
            lsum += loss
            ag = gsum / p
            al = lsum / p
        else:
            ag = (ag * (p - 1.0) + gain) / p
            al = (al * (p - 1.0) + loss) / p
        r = 100.0 if al == 0.0 else 100.0 - 100.0 / (1.0 + ag / al)
        out.append((last_d, x, _round6_half_up(r)))
    return out, (last_d, n, gsum, lsum, ag, al, prev)


def rsi_stream(
    daily: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    close_col: str = "close",
    periods: int = 14,
) -> DataFrame:
    """Streaming Wilder RSI — twin of operators/indicators.rsi: same
    seed + recursion through O(1) state per key."""
    out_schema = StructType(
        [
            StructField(key_col, daily.schema[key_col].dataType),
            StructField("day", TimestampType()),
            StructField("close", DoubleType()),
            StructField("rsi", DoubleType()),
        ]
    )

    def _fn(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values(day_col)
        prev = tuple(state.get) if state.exists else None
        rows, new_state = _advance_rsi(
            prev,
            batch[day_col].astype("int64") // 1000,
            batch[close_col].astype("float64"),
            periods,
        )
        state.update(tuple(new_state))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "day": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "close": [r[1] for r in rows],
                    "rsi": [r[2] for r in rows],
                }
            )

    return daily.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_RSI_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# trailing (day, tr) window + prev close: O(periods) per key
_ATR_STATE = StructType(
    [
        StructField("days_us", ArrayType(LongType())),
        StructField("trs", ArrayType(DoubleType())),
        StructField("prev_close", DoubleType()),
    ]
)


def _advance_atr(state, days_us, highs, lows, closes, periods):
    """True-range fold matching indicators.atr: TR from (high, low,
    prev close) — first day high-low — and the SMA over the trailing
    ``periods`` TRs summed in day order (Spark's window Average)."""
    hist_d, hist_tr, prev = state or ([], [], None)
    hist_d, hist_tr = list(hist_d), list(hist_tr)
    out = []
    for d, h, lo, c in zip(days_us, highs, lows, closes):
        if hist_d and d <= hist_d[-1]:
            continue
        h, lo, c = float(h), float(lo), float(c)
        if prev is None:
            tr = h - lo
        else:
            tr = max(h - lo, abs(h - prev), abs(lo - prev))
        prev = c
        hist_d.append(int(d))
        hist_tr.append(tr)
        del hist_d[:-periods], hist_tr[:-periods]
        if len(hist_tr) == periods:
            atr = _round6_half_up(sum(hist_tr) / periods)
            out.append((int(d), _round6_half_up(tr), atr))
    return out, (hist_d, hist_tr, prev)


def atr_stream(
    ohlcv_daily: DataFrame,
    key_col: str = "user_id",
    periods: int = 14,
) -> DataFrame:
    """Streaming ATR — twin of operators/indicators.atr over a daily
    OHLC stream; O(periods) state per key."""
    out_schema = StructType(
        [
            StructField(key_col, ohlcv_daily.schema[key_col].dataType),
            StructField("day", TimestampType()),
            StructField("tr", DoubleType()),
            StructField("atr", DoubleType()),
        ]
    )

    def _fn(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values("day")
        prev = tuple(state.get) if state.exists else None
        rows, new_state = _advance_atr(
            prev,
            batch["day"].astype("int64") // 1000,
            batch["high"].astype("float64"),
            batch["low"].astype("float64"),
            batch["close"].astype("float64"),
            periods,
        )
        state.update(tuple(new_state))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "day": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "tr": [r[1] for r in rows],
                    "atr": [r[2] for r in rows],
                }
            )

    return ohlcv_daily.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_ATR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# trailing (high, low) window + %K history + warm counter
_STOCH_STATE = StructType(
    [
        StructField("days_us", ArrayType(LongType())),
        StructField("highs", ArrayType(DoubleType())),
        StructField("lows", ArrayType(DoubleType())),
        StructField("ks", ArrayType(DoubleType())),  # NULLs kept (zero-range)
        StructField("n_full", LongType()),
    ]
)


def _advance_stoch(state, days_us, highs, lows, closes, periods, smooth):
    """Stochastic fold matching indicators.stochastic: %K over the
    trailing (high, low) window (None on zero range), %D = mean of
    the last ``smooth`` %Ks among fully-warmed rows (None skipped,
    like both engines' avg)."""
    hist_d, hist_h, hist_l, ks, n_full = state or ([], [], [], [], 0)
    hist_d, hist_h, hist_l, ks = list(hist_d), list(hist_h), list(hist_l), list(ks)
    out = []
    for d, h, lo, c in zip(days_us, highs, lows, closes):
        if hist_d and d <= hist_d[-1]:
            continue
        h, lo, c = float(h), float(lo), float(c)
        hist_d.append(int(d))
        hist_h.append(h)
        hist_l.append(lo)
        del hist_d[:-periods], hist_h[:-periods], hist_l[:-periods]
        if len(hist_h) < periods:
            continue
        n_full += 1
        hi, loo = max(hist_h), min(hist_l)
        k = None if hi == loo else _round6_half_up(100.0 * (c - loo) / (hi - loo))
        ks.append(k)
        del ks[:-smooth]
        if n_full >= smooth:
            vals = [v for v in ks if v is not None]
            d_val = _round6_half_up(sum(vals) / len(vals)) if vals else None
            out.append((int(d), c, k, d_val))
    return out, (hist_d, hist_h, hist_l, ks, n_full)


def stochastic_stream(
    ohlcv_daily: DataFrame,
    key_col: str = "user_id",
    periods: int = 14,
    smooth: int = 3,
) -> DataFrame:
    """Streaming stochastic oscillator — twin of
    operators/indicators.stochastic; O(periods) state per key."""
    out_schema = StructType(
        [
            StructField(key_col, ohlcv_daily.schema[key_col].dataType),
            StructField("day", TimestampType()),
            StructField("close", DoubleType()),
            StructField("pct_k", DoubleType()),
            StructField("pct_d", DoubleType()),
        ]
    )

    def _fn(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values("day")
        prev = tuple(state.get) if state.exists else None
        rows, new_state = _advance_stoch(
            prev,
            batch["day"].astype("int64") // 1000,
            batch["high"].astype("float64"),
            batch["low"].astype("float64"),
            batch["close"].astype("float64"),
            periods,
            smooth,
        )
        state.update(tuple(new_state))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "day": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "close": [r[1] for r in rows],
                    "pct_k": [r[2] for r in rows],
                    "pct_d": [r[3] for r in rows],
                }
            )

    return ohlcv_daily.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_STOCH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# O(1) per key: last day, previous close, running OBV total
_OBV_STATE = StructType(
    [
        StructField("last_day_us", LongType()),
        StructField("prev_close", DoubleType()),
        StructField("total", LongType()),
    ]
)


def _advance_obv(state, days_us, closes, volumes):
    """On-balance-volume fold matching indicators.obv — integer-exact
    running total, so stream == batch without a rounding contract."""
    last_d, prev, total = state or (None, None, 0)
    out = []
    for d, c, v in zip(days_us, closes, volumes):
        if last_d is not None and d <= last_d:
            continue
        c = float(c)
        v = int(v)
        if prev is None or c == prev:
            pass
        elif c > prev:
            total += v
        else:
            total -= v
        prev = c
        last_d = int(d)
        out.append((last_d, c, total))
    return out, (last_d, prev, total)


def obv_stream(
    ohlcv_daily: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Streaming OBV — twin of operators/indicators.obv; O(1) state."""
    out_schema = StructType(
        [
            StructField(key_col, ohlcv_daily.schema[key_col].dataType),
            StructField("day", TimestampType()),
            StructField("close", DoubleType()),
            StructField("obv", LongType()),
        ]
    )

    def _fn(key, pdfs, state: GroupState):
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values("day")
        prev = tuple(state.get) if state.exists else None
        rows, new_state = _advance_obv(
            prev,
            batch["day"].astype("int64") // 1000,
            batch["close"].astype("float64"),
            batch["n_trades"].astype("int64"),
        )
        state.update(tuple(new_state))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "day": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "close": [r[1] for r in rows],
                    "obv": [r[2] for r in rows],
                }
            )

    return ohlcv_daily.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_OBV_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# cross-batch state for Holt's linear-trend recursion: O(1) per key.
_HOLT_STATE = StructType(
    [
        StructField("last_day_us", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
    ]
)


def _advance_holt(state, days_us, closes, alpha, beta):
    """Fold one key's day-ordered batch through Holt's double-state
    recursion — EXACTLY the batch fold's op order (indicators.holt,
    including the precomputed (1−α)/(1−β)), so streamed values are
    bit-identical to the batch ones. Late days drop; state moves
    forward only."""
    a, bb = float(alpha), float(beta)
    oma, omb = 1.0 - a, 1.0 - bb
    last_d, lvl, trd = state or (None, None, None)
    out = []
    for d, c in zip(days_us, closes):
        if last_d is not None and d <= last_d:
            continue
        x = float(c)
        if lvl is None:
            lvl, trd = x, 0.0
        else:
            prev = lvl
            lvl = a * x + oma * (lvl + trd)
            trd = bb * (lvl - prev) + omb * trd
        last_d = int(d)
        out.append((last_d, x, lvl, trd, lvl + trd))
    return out, (last_d, lvl, trd)


def holt_stream(
    daily: DataFrame,
    key_col: str = "user_id",
    day_col: str = "day",
    close_col: str = "close",
    alpha: float = 0.2,
    beta: float = 0.1,
) -> DataFrame:
    """Streaming Holt linear-trend smoothing + one-step-ahead forecast
    — the streaming twin of operators/indicators.holt; level/trend
    carry across micro-batches through O(1) state per key."""
    out_schema = StructType(
        [
            StructField(key_col, daily.schema[key_col].dataType),
            StructField("day", TimestampType()),
            StructField("close", DoubleType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("fc_next", DoubleType()),
        ]
    )

    def _fn(
        key: Tuple[Any, ...],
        pdfs: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        batch = pd.concat(list(pdfs)).sort_values(day_col)
        prev = tuple(state.get) if state.exists else None
        rows, new_state = _advance_holt(
            prev,
            batch[day_col].astype("int64") // 1000,
            batch[close_col].astype("float64"),
            alpha,
            beta,
        )
        state.update(tuple(new_state))
        if rows:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(rows),
                    "day": pd.to_datetime([r[0] for r in rows], unit="us"),
                    "close": [r[1] for r in rows],
                    "level": [r[2] for r in rows],
                    "trend": [r[3] for r in rows],
                    "fc_next": [r[4] for r in rows],
                }
            )

    return daily.groupBy(key_col).applyInPandasWithState(
        _fn,
        outputStructType=out_schema,
        stateStructType=_HOLT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
