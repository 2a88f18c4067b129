"""Stateful streaming trackers on applyInPandasWithState (SURVEY.md §2:
"stateful agg" / the reference-roadmap flow-reassembly case,
re-expressed Spark-native).

Every tracker here except `running_user_totals` — and the flowlet and
QUIC VN-downgrade trackers in pcap_stream.py — is a FOLD on one
harness (`_fold_update` builds the update function, `_apply_fold` makes
the groupBy + applyInPandasWithState call). A tracker supplies its
source projection, its state's initial tuple and a fold step
`(key, state, rows) -> (state, output rows)`; the harness restores and
writes back the state and builds the output frame. It guarantees two
things the folds rely on:

- chunk-order independence: a group's Arrow chunks are joined once and
  sorted once by the tracker's order columns, so how a micro-batch was
  split into chunks never reaches an order-dependent fold;
- the day-ordered watermark of the eight daily-fold trackers (holt,
  cusum, acf, granger, kendall, trend-duo, page-hinkley, ewma-chart):
  the harness owns their `last_day` state field, and a day at or before
  it fails the stream before any state is written.

`running_user_totals` keeps one state row per user (event count, value
cents) across micro-batches — the skeleton of packet flow reassembly
(state key = flow 4-tuple instead of user_id) and of any large-scale
streaming feature extractor. It keeps its own wiring because it is the
one tracker with a processing-time timeout: idle keys are evicted and
emitted with `expired=true`.

STATE-SCHEMA COMPATIBILITY (r14, ADVICE r13): the r13 day-ordered
contract appended a `last_day` StringType field to EIGHT tracker state
schemas (holt, cusum, acf, granger, kendall, trend-duo, page-hinkley,
ewma-chart). Spark's state store validates the declared stateStructType
against the checkpoint BEFORE any user code runs, so restarting one of
these trackers from a pre-r13 checkpoint fails the query with a
state-schema-incompatibility error — a tuple-width shim inside the
update function (the `_distinct_update` legacy-CSV approach) can never
execute for a schema-level change. The supported upgrade path is a NEW
checkpoint directory: every affected tracker folds CLOSED daily totals,
so replaying the daily source rebuilds state exactly (and the last_day
watermark then enforces the replay arrives in order). In-place state
migration would need the offline state-store rewrite tooling
(state data source / StateStore APIs), deliberately out of scope here.
"""

from __future__ import annotations

import decimal
import json
import math
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, LongType, StringType, StructField,
    StructType,
)


def _round_half_up(x: float, places: int) -> float:
    """Spark F.round parity: BigDecimal.valueOf(double) sees the shortest
    round-trip decimal string (== Python repr), then rounds HALF_UP.
    Non-finite inputs pass through unchanged (Spark's round(NaN/inf)
    stays NaN/inf; Decimal.quantize would raise InvalidOperation)."""
    if not math.isfinite(x):
        return x
    q = decimal.Decimal(1).scaleb(-places)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _cents_series(values: pd.Series) -> pd.Series:
    """Spark-parity per-event integer cents for one chunk (r12 review).

    Each event's value*100 is the IEEE double product rounded HALF_UP at
    0 places — exactly registry.cents() / the batch twins'
    CAST(ROUND(value*100, 0) AS BIGINT). The previous per-chunk
    ``(series * 100).round()`` / ``round(series.sum() * 100)`` idioms
    diverged two ways: pandas rounds HALF_TO_EVEN (0.125 -> 12 vs
    Spark's 13), and rounding a CHUNK SUM made the output depend on how
    rows happened to split across Arrow chunks. Non-finite entries (SQL
    NULL) become <NA> instead of crashing the int64 cast (the Benford
    ADVICE-r10 defect class); callers pick the twin's NULL rule —
    ``.fillna(0)`` where the batch SUM skips NULLs but the row still
    counts (totals, sessions), notna-filtering where the batch window
    excludes the value entirely (the anomaly/EWMA deques)."""
    vals = pd.to_numeric(values, errors="coerce").astype("float64")
    return pd.Series(
        [
            int(_round_half_up(float(v) * 100, 0))
            if math.isfinite(v) else None
            for v in vals
        ],
        index=values.index,
        dtype="Int64",
    )


def _day_str(v) -> str:
    """Canonical 'YYYY-MM-DD' for a day cell however Arrow delivered it
    (datetime.date object column, datetime64 column, or the ISO string
    the holt source casts to). Used by the day-ordered-contract guards
    so the state's last_day comparison is type-stable across batches."""
    if isinstance(v, str):
        return v[:10]
    return pd.Timestamp(v).date().isoformat()


def _check_day_order(tracker: str, day: str, last_day: str) -> None:
    """The loud day-ordered contract (ADVICE r10, made consistent in
    r13): a CLOSED daily total arriving at-or-before the day already
    folded into state would permanently corrupt the recurrence — the
    worst failure mode an always-on drift monitor can have — so fail
    the stream instead of silently folding it. Matches the diagnostic
    kendall_tracker/_trend_duo_update raise on a week regression."""
    if last_day and day <= last_day:
        raise ValueError(
            f"{tracker}: day {day} arrived after day {last_day} was "
            f"already folded — closed daily rows must be day-ordered "
            "and delivered exactly once (late/replayed/out-of-order "
            "upstream data)")


def _fold_update(fold, state_schema: StructType, output_schema: StructType,
                 init: tuple, mode: str = "update", *, order=(),
                 dropna: str | None = None, prep=None,
                 daily: str | None = None):
    """Build a tracker's applyInPandasWithState update function
    `(key, batches, state) -> Iterator[DataFrame]` from its fold step
    `fold(key, st, pdf) -> (st, rows)`. The fold gets the state tuple and
    ALL of the group's rows in this micro-batch as one frame (zero rows
    when every chunk is empty), and returns the new state tuple plus its
    output rows as tuples in output-schema order.

    The wrapper restores the state (or starts from `init`), joins the
    non-empty Arrow chunks once — a group larger than the Arrow batch
    size arrives as several chunks in arbitrary order — applies `prep`,
    drops rows whose `dropna` column is null, and sorts once by the
    `order` columns the frame carries (lateness lists arrival_ord, which
    only some sources have). With `daily` (the tracker name for the
    diagnostic) it also owns the state's `last_day` field: the fold
    neither sees nor returns it, every `d` reaches the fold as its
    canonical 'YYYY-MM-DD' string, and a day at or before the watermark
    raises before any state is written. Module globals the fold reads
    (HH_CAPACITY) are looked up per call."""
    names = output_schema.fieldNames()
    wm = state_schema.fieldNames().index("last_day") if daily else None

    def update(key, batches, state):
        st = tuple(state.get) if state.exists else init
        chunks = list(batches)
        chunks = [c for c in chunks if len(c)] or chunks[:1]
        pdf = pd.concat(chunks, ignore_index=True)
        if prep is not None:
            pdf = prep(pdf)
        if dropna:
            pdf = pdf[pdf[dropna].notna()]
        by = [c for c in order if c in pdf.columns]
        if by:
            pdf = pdf.sort_values(by)
        if daily:
            last_day, st = st[wm] or "", st[:wm] + st[wm + 1:]
            days = [_day_str(v) for v in pdf["d"]]
            for day in days:
                _check_day_order(daily, day, last_day)
                last_day = day
            pdf = pdf.assign(d=days)
        st, rows = fold(key, st, pdf)
        if daily:
            st = st[:wm] + (last_day,) + st[wm:]
        state.update(st)
        yield pd.DataFrame(rows, columns=names)

    update.__name__ = update.__qualname__ = fold.__name__.replace(
        "_fold", "_update")
    update.__module__ = fold.__module__
    update.state_schema, update.output_schema = state_schema, output_schema
    update.mode = mode
    return update


def _apply_fold(src: DataFrame, update, *keys: str) -> DataFrame:
    """The one groupBy + applyInPandasWithState call of every fold
    tracker (NoTimeout: state lives until the query's checkpoint does)."""
    return src.groupBy(*keys).applyInPandasWithState(
        update,
        outputStructType=update.output_schema,
        stateStructType=update.state_schema,
        outputMode=update.mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_cents", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_cents", LongType()),
        StructField("expired", BooleanType()),
    ]
)


def make_update_fn(idle_timeout_ms: int | None):
    """Build the per-group update function, optionally arming an idle
    processing-time timeout that evicts + emits `expired=true`."""

    def update_user_totals(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            n, cents = state.get if state.exists else (0, 0)
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "n_events": [n], "sum_cents": [cents],
                 "expired": [True]}
            )
            return
        n, cents = state.get if state.exists else (0, 0)
        for pdf in batches:
            n += len(pdf)  # COUNT(*) counts NULL-value rows too
            cents += int(_cents_series(pdf["value"]).fillna(0).sum())
        state.update((n, cents))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_cents": [cents],
             "expired": [False]}
        )

    return update_user_totals


def running_user_totals(
    events: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """events (streaming) -> one running-total row per user per batch.

    idle_timeout_ms arms per-key processing-time eviction — pass it ONLY
    under a continuous trigger (processingTime): with availableNow, Spark
    stops scheduling micro-batches once the source drains, so registered
    timeouts can never fire and the query NEVER terminates (diagnosed
    round 2: availableNow + ProcessingTimeTimeout = live-lock; NoTimeout
    completes in seconds). State stays bounded either way for finite
    inputs; long-running deployments should set a timeout and use a
    processing-time trigger.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_update_fn(idle_timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming funnel state machine (round 3)
# ---------------------------------------------------------------------------

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
    ]
)

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", LongType()),
    ]
)

_NONE = -1  # state sentinel: stage not yet seen


def _funnel_fold(key, st, pdf):
    """NaT ts rows are dropped by the harness: NaT casts to INT64_MIN,
    which would win every min-merge and permanently inflate the user's
    stage (r12 review); the batch twin's MIN(CASE ...) ignores NULL ts."""
    tv, tc, tp = st

    def merge(cur: int, seen) -> int:
        if len(seen) == 0:
            return cur
        m = int(seen.min())
        return m if cur == _NONE else min(cur, m)

    us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
    et = pdf["event_type"].values
    tv = merge(tv, us[et == "view"])
    tc = merge(tc, us[et == "click"])
    tp = merge(tp, us[et == "purchase"])
    # strict ordering, identical to the batch event_funnel_ordered query
    stage = 0
    if tv != _NONE:
        stage = 1
        if tc != _NONE and tc > tv:
            stage = 2
            if tp != _NONE and tp > tc:
                stage = 3
    return (tv, tc, tp), [(key[0], stage)]


_funnel_update = _fold_update(
    _funnel_fold, FUNNEL_STATE_SCHEMA, FUNNEL_OUTPUT_SCHEMA,
    (_NONE, _NONE, _NONE), dropna="ts")


def funnel_stage_tracker(events: DataFrame) -> DataFrame:
    """Streaming view→click→purchase funnel: one state row per user
    holding the first-seen timestamp of each stage, the per-batch output
    is the user's current funnel stage (0-3, strict ordering — the exact
    semantics of the batch `event_funnel_ordered` query, which is the
    ground truth in tests).

    Because the state is a per-stage MIN, the operator is insensitive to
    event order across micro-batches — late or reordered events converge
    to the same final stage as the batch computation, which is what makes
    the stream/batch equivalence testable (and what makes min/max/count
    the right state shapes for streaming feature extractors generally).
    State is 3 ints per user — bounded by the user population, not the
    event volume.
    """
    return _apply_fold(events, _funnel_update, "user_id")


# ---------------------------------------------------------------------------
# Streaming trailing z-score anomaly tracker (round 3)
# ---------------------------------------------------------------------------

ANOMALY_STATE_SCHEMA = StructType(
    [StructField("hist", StringType())]  # comma-joined last-20 cents deque
)

ANOMALY_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("x", LongType()),
        StructField("n_history", LongType()),
    ]
)


def _anomaly_fold(key, st, pdf):
    """Per-user trailing-20 deque; flags events via the same integer-exact
    inequality as the batch anomaly_zscore_trailing query:
    (n*x - S)^2 > 9*(n*Q - S^2), all in int64 cents (population sigma).
    The deque walks event-time order (the harness sorts by ts, event_id)."""
    (packed,) = st
    hist = [int(v) for v in packed.split(",")] if packed else []
    out = []
    cents_s = _cents_series(pdf["value"])
    keep = cents_s.notna()  # NULL cents never enter the deque
    for eid, x in zip(pdf.loc[keep, "event_id"].astype("int64"),
                      cents_s[keep]):
        n = len(hist)
        if n >= 5:
            s = sum(hist)
            q = sum(v * v for v in hist)
            dev = n * int(x) - s
            if dev * dev > 9 * (n * q - s * s):
                out.append((int(eid), key[0], int(x), n))
        hist.append(int(x))
        if len(hist) > 20:
            hist.pop(0)
    return (",".join(str(v) for v in hist),), out


_anomaly_update = _fold_update(
    _anomaly_fold, ANOMALY_STATE_SCHEMA, ANOMALY_OUTPUT_SCHEMA, ("",),
    "append", order=("ts", "event_id"))


def anomaly_tracker(events: DataFrame) -> DataFrame:
    """Streaming twin of anomaly_zscore_trailing: one bounded deque (the
    last <=20 event cents) per user carried across micro-batches — the
    third state shape in this module (funnel: per-stage MIN; totals:
    running sums; here: a sliding frame). Exactness contract: as long as
    each user's events arrive in event-time order across batches (the
    ts-ordered landing-file case; in-batch order is re-sorted locally),
    the emitted flags are identical to the batch query — same integer
    arithmetic, no floats, no approximation. State is ~20 ints per user
    regardless of stream length.
    """
    return _apply_fold(events, _anomaly_update, "user_id")


EWMA_STATE_SCHEMA = StructType([StructField("hist", StringType())])

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ewma_num", LongType()),
        StructField("ewma_den", LongType()),
    ]
)

_EWMA_WEIGHTS = (128, 64, 32, 16, 8, 4, 2, 1)  # most recent first


def _ewma_fold(key, st, pdf):
    """Per-user trailing-8 deque; emits the same power-of-two integer
    EWMA numerator/denominator as the batch window_ewma query."""
    (packed,) = st
    hist = [int(v) for v in packed.split(",")] if packed else []
    out = []
    cents_s = _cents_series(pdf["value"])
    keep = cents_s.notna()  # NULL cents never enter the deque
    for eid, x in zip(pdf.loc[keep, "event_id"].astype("int64"),
                      cents_s[keep]):
        hist.append(int(x))
        if len(hist) > 8:
            hist.pop(0)
        num = den = 0
        for w, v in zip(_EWMA_WEIGHTS, reversed(hist)):
            num += w * v
            den += w
        out.append((int(eid), key[0], num, den))
    return (",".join(str(v) for v in hist),), out


_ewma_update = _fold_update(
    _ewma_fold, EWMA_STATE_SCHEMA, EWMA_OUTPUT_SCHEMA, ("",), "append",
    order=("ts", "event_id"))


def ewma_tracker(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch window_ewma query: the last <=8 event
    cents per user carried across micro-batches; every event emits its
    smoothed numerator/denominator pair (the live trend line / rate
    baseline). Exactness contract: under ts-ordered delivery per user
    the (num, den) pairs are bit-identical to the batch window — all
    integer arithmetic, weights are powers of two, denominator
    renormalizes for short history exactly like the batch COALESCE
    ladder. State is <=8 ints per user regardless of stream length.
    """
    return _apply_fold(events, _ewma_update, "user_id")


# ---------------------------------------------------------------------------
# Streaming gap sessionization (twin of batch event_sessionization_gap)
# ---------------------------------------------------------------------------

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_no", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_cents", LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_no", LongType()),
        StructField("session_start", StringType()),
        StructField("n_events", LongType()),
        StructField("duration_secs", LongType()),
        StructField("sum_cents", LongType()),
    ]
)

_GAP_US = 1800 * 1_000_000  # 30 minutes, integer microseconds


def _session_fold(key, st, pdf):
    """Per-user open-session carry: close + emit a session when a >30-min
    gap arrives, keep the open one in state across micro-batches. Same
    integer-microsecond gap rule as the batch twin. The gap rule walks
    event time; NaT rows are dropped by the harness (NaT would cast to
    INT64_MIN and fabricate a session at the dawn of time)."""
    sess_no, start_us, last_us, n, cents = st
    out = []
    ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
    xs = _cents_series(pdf["value"]).fillna(0)  # SUM skips NULL cents
    for t, x in zip(ts_us, xs):
        if n > 0 and t - last_us > _GAP_US:
            out.append((
                key[0], sess_no,
                pd.Timestamp(start_us, unit="us").strftime(
                    "%Y-%m-%d %H:%M:%S"),
                n, (last_us - start_us) // 1_000_000, cents,
            ))
            n, cents = 0, 0
        if n == 0:
            sess_no += 1
            start_us = int(t)
            cents = 0
        n += 1
        cents += int(x)
        last_us = int(t)
    return (sess_no, start_us, last_us, n, cents), out


_session_update = _fold_update(
    _session_fold, SESSION_STATE_SCHEMA, SESSION_OUTPUT_SCHEMA,
    (0, 0, 0, 0, 0), "append", order=("ts", "event_id"), dropna="ts")


def session_tracker(events: DataFrame) -> DataFrame:
    """Streaming twin of event_sessionization_gap: emits each user
    session as it CLOSES (a >30-min gap arrives); the still-open session
    rides in ~5 ints of state per user across micro-batches — the fourth
    state shape in this module (funnel: per-stage MIN; totals: running
    sums; anomaly: sliding deque; here: an open interval). Exactness
    contract mirrors anomaly_tracker: with per-user event-time order
    across batches, the closed sessions are identical to the batch
    query's rows minus each user's final (never-closing) session — which
    is exactly what a production pipeline wants: sessions finalize on
    inactivity, the open tail is not yet a fact.
    """
    return _apply_fold(events.select("user_id", "event_id", "ts", "value"),
                       _session_update, "user_id")


# ---------------------------------------------------------------------------
# Streaming inter-arrival regularity (beaconing) tracker (round 4)
# ---------------------------------------------------------------------------

BEACON_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("n_gaps", LongType()),
        StructField("sum_gap_s", LongType()),
        StructField("sum_gap2", LongType()),
    ]
)

BEACON_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("n_gaps", LongType()),
        StructField("sum_gap_s", LongType()),
        StructField("var_num", LongType()),
        StructField("is_regular", BooleanType()),
    ]
)


def _beacon_fold(key, st, pdf):
    """Constant state per key: (last event ts, and the three running sums
    n / S / Q of integer-second gaps). The regularity verdict re-derives
    the batch query's all-BIGINT inequality 100*(n*Q - S^2) < 9*S^2
    each micro-batch, so the final emitted row equals the batch answer.
    Gap statistics walk event time. NaT rows are dropped by the harness
    BEFORE the order guard below: NaT casts to INT64_MIN and would
    masquerade as an out-of-order event (and a negative gap would
    corrupt S/Q — the funnel NaT class)."""
    last_ts, n, s, q = st
    ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
    if len(ts_us) and last_ts >= 0 and int(ts_us[0]) < last_ts:
        # The loud ordering contract (ADVICE r10, made consistent in
        # r13): an event older than the folded watermark would add a
        # NEGATIVE gap to the running sums and permanently corrupt
        # the regularity verdict — fail the stream instead.
        raise ValueError(
            f"beacon_tracker: event at {pd.Timestamp(ts_us[0], unit='us')}"
            f" arrived after {pd.Timestamp(last_ts, unit='us')} was "
            "already folded — events must be event-time-ordered per "
            "key across micro-batches (late/out-of-order upstream "
            "data)")
    for t in ts_us:
        if last_ts >= 0:
            g = (int(t) - last_ts) // 1_000_000
            n, s, q = n + 1, s + g, q + g * g
        last_ts = int(t)
    out = []
    if n >= 3:
        var_num = n * q - s * s
        out.append((*key, n, s, var_num, 100 * var_num < 9 * s * s))
    return (last_ts, n, s, q), out


_beacon_update = _fold_update(
    _beacon_fold, BEACON_STATE_SCHEMA, BEACON_OUTPUT_SCHEMA, (-1, 0, 0, 0),
    order=("ts", "event_id"), dropna="ts")


def beacon_tracker(events: DataFrame) -> DataFrame:
    """Streaming twin of event_interarrival_regularity: per
    (user_id, event_type) running gap statistics, re-emitting the current
    regularity verdict every micro-batch (update mode). Detection goes
    LIVE this way — a C2-style heartbeat trips the CV inequality while
    beaconing is still happening, instead of in tomorrow's batch scan.
    Exactness contract matches the other trackers in this module: with
    per-key event-time-ordered delivery across batches, the last emitted
    row per key is bit-identical to the batch query's row. The ordering
    contract is ENFORCED against the state's last_ts_us watermark — an
    event older than the folded watermark raises instead of adding a
    negative gap to the running sums (r13); NaT timestamps are dropped
    like the batch window's NULL-ordering exclusion.
    """
    return _apply_fold(events, _beacon_update, "user_id", "event_type")


# ---------------------------------------------------------------------------
# Running distinct-type tracker (streaming twin of window_running_distinct)
# ---------------------------------------------------------------------------

DISTINCT_STATE_SCHEMA = StructType(
    [StructField("types_csv", StringType())]
)

DISTINCT_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_distinct_types", LongType()),
    ]
)


def _distinct_fold(key, st, pdf):
    """Maintain the set of event types seen per user; emit the running
    distinct count after each micro-batch. State is the sorted CSV of
    seen types — bounded by the type vocabulary, not the stream length
    (swap to an HLL register block for unbounded vocabularies; the batch
    twin sketch_hll_distinct shows the estimator contract)."""
    (packed,) = st
    seen: set[str] = set()
    if packed:
        # JSON list, not CSV: an event_type containing a comma used
        # to split into phantom types on state restore, inflating
        # the count across batches (r12 review). Legacy CSV states
        # (no leading '[') restore best-effort the old way.
        if packed.startswith("["):
            seen.update(json.loads(packed))
        else:
            seen.update(packed.split(","))
    seen.update(pdf["event_type"].dropna().astype(str))
    return (json.dumps(sorted(seen)),), [(key[0], len(seen))]


_distinct_update = _fold_update(
    _distinct_fold, DISTINCT_STATE_SCHEMA, DISTINCT_OUTPUT_SCHEMA, ("",))


def distinct_type_tracker(events: DataFrame) -> DataFrame:
    """Streaming running count-distinct per user — the stateful twin of
    the batch window_running_distinct query (which rewrites DISTINCT-
    over-window as first-occurrence flags). Here the state API holds the
    seen-set directly; output mode `update` re-emits a user's row only
    when their set can have changed (their group received rows)."""
    return _apply_fold(events.select("user_id", "event_type"),
                       _distinct_update, "user_id")


LATENESS_STATE_SCHEMA = StructType([StructField("hw_us", LongType())])

LATENESS_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("late_us", LongType()),
    ]
)


def _lateness_fold(key, st, pdf):
    """Per-user event-time high-water mark (ONE int64 of state); emits
    each event's lateness against it — the same arrival-order semantics
    as the batch event_watermark_lateness_audit (event_id = ingest
    order). The harness sorts the whole group by (arrival_ord, event_id),
    or by event_id alone when the source has no arrival_ord, as the
    batch audit sorts globally per user."""
    hw = int(st[0])
    out = []
    ts_us = pdf["ts"].astype("int64")  # tracker pre-normalizes to us
    for eid, et, t in zip(
        pdf["event_id"].astype("int64"), pdf["event_type"], ts_us
    ):
        t = int(t)
        hw = t if t > hw else hw
        out.append((int(eid), key[0], et, hw - t))
    return (hw,), out


_lateness_update = _fold_update(
    _lateness_fold, LATENESS_STATE_SCHEMA, LATENESS_OUTPUT_SCHEMA, (-1,),
    "append", order=("arrival_ord", "event_id"))


def lateness_tracker(events: DataFrame) -> DataFrame:
    """Streaming twin of event_watermark_lateness_audit: the live
    lateness readout a pipeline watches to know when its configured
    watermark has started dropping data. State is ONE int64 per user
    (the event-time high-water mark) — the cheapest state shape in this
    module; the per-event lateness stream feeds any downstream windowed
    rollup (p95 by type, drop counters).

    The ts column arrives as TimestampType (micros) or raw nanos bigint
    depending on the landing schema; both are normalized HERE to a
    microsecond bigint (matching the batch audit's unix_micros) so the
    state function never has to guess the unit.
    """
    from pyspark.sql import functions as F

    cols = dict(events.dtypes)
    keep = ["event_id", "user_id", "event_type", "ts"] + (
        ["arrival_ord"] if "arrival_ord" in cols else [])
    src = events.select(*keep)
    if cols.get("ts", "").startswith("timestamp"):
        src = src.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")))
    else:  # raw TIMESTAMP(NANOS) landed as bigint
        src = src.withColumn("ts", F.expr("ts div 1000"))
    return _apply_fold(src, _lateness_update, "user_id")


HOLT_STATE_SCHEMA = StructType(
    [
        StructField("level", LongType()),
        StructField("trend", LongType()),
        StructField("n_days", LongType()),
        StructField("last_day", StringType()),
    ]
)

HOLT_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_days", LongType()),
        StructField("level_cents", LongType()),
        StructField("trend_cents", LongType()),
        StructField("forecast_1d", LongType()),
    ]
)


def _holt_fold(key, st, days):
    """Per-type Holt linear smoothing state: (level, trend, n_days) —
    three int64s. Each micro-batch's rows are aggregated to day totals
    (`_day_totals`, before the harness's day-order check) and folded
    with the SAME truncating-halving recurrence as the batch
    forecast_holt_linear; the updated state emits one forecast row.
    Contract: a day must arrive complete within one micro-batch (the
    availableNow / daily-trigger deployment — partial days would smooth
    a partial total; same caveat family as session_tracker), and days
    must arrive in order — ENFORCED via the state's last_day watermark:
    a replayed day (the "complete day per micro-batch" contract broke)
    raises instead of smoothing TWICE, an older day instead of smoothing
    out of sequence (r13)."""
    level, trend, n_days = (int(v) for v in st)
    for y in days["cents"]:
        y = int(y)
        if n_days == 0:
            level, trend = y, 0
        else:
            nl = _tdiv(y + level + trend, 2)
            trend = _tdiv(trend + nl - level, 2)
            level = nl
        n_days += 1
    return (level, trend, n_days), [
        (key[0], n_days, level, trend, level + trend)]


def _day_totals(pdf: pd.DataFrame) -> pd.DataFrame:
    """One row per day (sorted), cents summed — holt folds day totals."""
    return pdf.groupby("d", sort=True, as_index=False)["cents"].sum()


_holt_update = _fold_update(
    _holt_fold, HOLT_STATE_SCHEMA, HOLT_OUTPUT_SCHEMA, (0, 0, 0, ""),
    prep=_day_totals, daily="holt_tracker")


def holt_tracker(events: DataFrame) -> DataFrame:
    """Streaming twin of forecast_holt_linear: the live capacity
    forecast a pipeline reads after each day's data lands. State is
    THREE int64s plus the last_day watermark per event type (the
    watermark enforces the day-ordered contract loudly — r13); every
    arithmetic step is the batch
    query's integer recurrence, so with complete days per micro-batch
    the final emitted row per type equals the batch fold exactly
    (pinned by tests/test_streaming.py)."""
    from pyspark.sql import functions as F

    cols = dict(events.dtypes)
    src = events.select("event_type", "ts", "value")
    if cols.get("ts", "").startswith("timestamp"):
        day = F.col("ts").cast("date")
    else:  # raw TIMESTAMP(NANOS) landed as bigint
        day = F.expr("CAST(timestamp_micros(ts div 1000) AS DATE)")
    src = src.select(
        "event_type",
        day.cast("string").alias("d"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    return _apply_fold(src, _holt_update, "event_type")


# ---------------------------------------------------------------------------
# Streaming two-sample KS drift tracker (round 7): the live twin of the
# batch stats_ks_two_sample query.
# ---------------------------------------------------------------------------

KS_STATE_SCHEMA = StructType(
    [
        StructField("bins", ArrayType(LongType())),
        StructField("c1", ArrayType(LongType())),
        StructField("c2", ArrayType(LongType())),
    ]
)

KS_OUTPUT_SCHEMA = StructType(
    [
        StructField("n1", LongType()),
        StructField("n2", LongType()),
        StructField("d_num", LongType()),
        StructField("ks_d", DoubleType()),
    ]
)


def _ks_fold(key, st, pdf):
    """State = the binned two-sample histogram (parallel int64 arrays:
    bin ids, click counts, purchase counts — bounded by the VALUE
    RANGE, not the stream length). Every micro-batch merges its bin
    counts and re-derives the KS sup statistic with the batch query's
    exact integer cross-multiplied arithmetic, so the emitted d_num is
    bit-identical to running stats_ks_two_sample over everything seen
    so far."""
    counts = {int(b): [int(x), int(y)] for b, x, y in zip(*st)}
    g = pdf.groupby("bin", sort=False)[["i1", "i2"]].sum()
    for b, row in g.iterrows():
        e = counts.setdefault(int(b), [0, 0])
        e[0] += int(row["i1"])
        e[1] += int(row["i2"])
    n1 = sum(v[0] for v in counts.values())
    n2 = sum(v[1] for v in counts.values())
    f1 = f2 = d_num = 0
    ordered = sorted(counts)
    for b in ordered:
        f1 += counts[b][0]
        f2 += counts[b][1]
        d_num = max(d_num, abs(f1 * n2 - f2 * n1))
    # HALF_UP to mirror the batch query's F.round (Python round() is
    # banker's rounding and would differ at an exact half-ulp boundary).
    # Same tree as the JVM: IEEE double division first, then
    # Decimal(repr(x)) — repr is the shortest round-trip string, the
    # same value BigDecimal.valueOf(double) sees — quantized HALF_UP.
    ks_d = _round_half_up(d_num / (n1 * n2), 6) if n1 and n2 else 0.0
    return (
        [int(b) for b in ordered],
        [counts[b][0] for b in ordered],
        [counts[b][1] for b in ordered],
    ), [(n1, n2, d_num, ks_d)]


_ks_update = _fold_update(
    _ks_fold, KS_STATE_SCHEMA, KS_OUTPUT_SCHEMA, ([], [], []))


def ks_drift_tracker(events: DataFrame) -> DataFrame:
    """Streaming twin of stats_ks_two_sample: the always-on drift
    monitor a data feed runs between two live segments (click vs
    purchase `value` here). After each micro-batch the emitted row is
    the KS test of EVERYTHING seen so far — integer-exact against the
    batch query on the same prefix (pinned by tests incl. a
    forced-chunk variant).

    One global group (the batch query is one global comparison); at
    scale you key this by (metric, segment-pair) — thousands of
    independent drift monitors, one bin-domain-sized state row each —
    and the per-group work stays bounded by the value range exactly as
    here."""
    from pyspark.sql import functions as F

    src = events.filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    ).select(
        F.lit(0).alias("g"),
        F.floor(F.col("value")).cast("bigint").alias("bin"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("i1"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("i2"),
    )
    return _apply_fold(src, _ks_update, "g")


# ---------------------------------------------------------------------------
# Streaming incremental dedup: the MinHash band index as distributed state
# ---------------------------------------------------------------------------

DEDUP_STATE_SCHEMA = StructType(
    [
        StructField("doc_ids", ArrayType(LongType())),
        # 8 signature components per member doc, concatenated in doc order
        # (flat parallel layout keeps the state row a pair of primitive
        # arrays — no nested structs for the state serializer to chew on).
        StructField("sigs", ArrayType(LongType())),
    ]
)

DEDUP_OUTPUT_SCHEMA = StructType(
    [
        StructField("new_doc", LongType()),
        StructField("match_doc", LongType()),
        StructField("m", LongType()),
    ]
)


def _band_index_fold(key, st, pdf):
    """State per (band, bsig) bucket = the full 8-int signatures of every
    doc ever seen in this bucket. Each arriving doc is compared against
    every doc already in the bucket (earlier batches' members + docs
    before it in the batch's doc_id order), emitting one row per
    >= 4/8 signature agreement, then joins the bucket. Emission happens
    at the LATER ARRIVAL but the row is oriented by doc id
    (match_doc = smaller id) — streams don't arrive in id order, and
    orienting by arrival would miss every pair whose larger id arrived
    first; each unordered pair is compared exactly once per bucket, so
    no pair double-emits within a band. The harness sorts the group
    ONCE by doc_id."""
    ids, flat = st
    members = [
        (int(d), tuple(int(x) for x in flat[8 * i: 8 * i + 8]))
        for i, d in enumerate(ids)
    ]
    out: list[tuple[int, int, int]] = []
    # hoisted ndarrays: per-row tuple assembly indexes numpy arrays,
    # not ~8 pandas .iloc scalar dispatches per document (r13 —
    # identical output, pinned by the band-index equivalence test)
    sig_mat = [pdf[f"mh{j}"].to_numpy("int64") for j in range(8)]
    doc_ids = pdf["doc_id"].to_numpy("int64")
    for row_i in range(len(doc_ids)):
        doc = int(doc_ids[row_i])
        sig = tuple(int(c[row_i]) for c in sig_mat)
        for prev_doc, prev_sig in members:
            m = sum(1 for a, b in zip(sig, prev_sig) if a == b)
            if m >= 4:
                out.append((max(doc, prev_doc), min(doc, prev_doc), m))
        members.append((doc, sig))
    return (
        [d for d, _ in members],
        [x for _, s in members for x in s],
    ), out


_band_index_update = _fold_update(
    _band_index_fold, DEDUP_STATE_SCHEMA, DEDUP_OUTPUT_SCHEMA, ([], []),
    "append", order=("doc_id",))


def incremental_dedup_tracker(docs) -> DataFrame:
    """Streaming twin of the pipeline_incremental_dedup ingest gate: the
    MinHash band index lives as applyInPandasWithState state SHARDED BY
    (band, band-signature) — the always-on admission check a crawl
    pipeline runs per arriving document instead of tomorrow's batch
    probe. Emits near-dup candidate matches (new_doc, match_doc,
    matches) with keep-first orientation (match_doc < new_doc); the
    union over a doc's 4 bands equals the batch dedup_minhash_lsh
    candidate pairs at est_jaccard >= 0.5, pinned by
    tests/test_streaming.py::test_incremental_dedup_stream_matches_batch
    (consumers dedupe the per-band repeats exactly as the batch query's
    DISTINCT does).

    Scale: signatures are computed in the same narrow map as the batch
    path (_spark_minhash_sig — one reduce, zero shuffle); the ONLY
    shuffle keys on (band, bsig), so state is the band index itself,
    sharded bucket-by-bucket across executors: per-group state is
    bounded by bucket occupancy (near-dup cluster size), never by
    corpus size, and a hot bucket degrades one group, not the stream.
    Total state grows O(docs) — the same footprint the batch path
    persists as its signature table.
    """
    from pyspark.sql import functions as F

    from wireduck_spark.functions.dedup import _spark_minhash_sig

    sig = _spark_minhash_sig(docs)
    bands = sig.select(
        "doc_id",
        *[F.col(f"mh{j}") for j in range(8)],
        F.posexplode(
            F.array(
                *[
                    F.concat_ws("_", f"mh{2 * b}", f"mh{2 * b + 1}")
                    for b in range(4)
                ]
            )
        ).alias("band", "bsig"),
    )
    return _apply_fold(bands, _band_index_update, "band", "bsig")


# ---------------------------------------------------------------------------
# Sharded SpaceSaving heavy-hitter monitor (bounded-memory streaming top-k)
# ---------------------------------------------------------------------------

HH_SHARDS = 16
HH_CAPACITY = 32

HH_STATE_SCHEMA = StructType([StructField("monitor_csv", StringType())])

HH_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("user_id", LongType()),
        StructField("est", LongType()),
        StructField("err", LongType()),
    ]
)


def _spacesaving_fold(key, st, pdf):
    """SpaceSaving (Metwally et al. 2005) over this shard's key stream:
    a monitor of at most HH_CAPACITY (key, est, err) entries. A hit
    increments est; a miss over capacity EVICTS the minimum-est entry
    (tie-break: smallest key — deterministic) and inherits its count as
    the new entry's overestimation bound. Invariants the unit test
    pins: est >= true count >= est - err, and any key whose true shard
    count exceeds n_shard / HH_CAPACITY is guaranteed present.

    State is the sorted 'key:est:err' CSV — bounded by HH_CAPACITY
    regardless of stream length or key cardinality (unlike the exact
    distinct tracker's vocabulary-bounded set). Per-batch arrivals are
    pre-summed (order-insensitive integer adds) and applied in sorted
    key order, so Arrow chunking and shuffle order cannot change the
    monitor.
    """
    (csv,) = st
    monitor: dict[int, list[int]] = {}
    if csv:
        for ent in csv.split(";"):
            u, e_, r_ = ent.split(":")
            monitor[int(u)] = [int(e_), int(r_)]
    counts = {int(u): int(c)
              for u, c in pdf["user_id"].value_counts().items()}
    for u in sorted(counts):
        c = counts[u]
        if u in monitor:
            monitor[u][0] += c
        elif len(monitor) < HH_CAPACITY:
            monitor[u] = [c, 0]
        else:
            victim = min(monitor, key=lambda k: (monitor[k][0], k))
            vest = monitor[victim][0]
            del monitor[victim]
            monitor[u] = [vest + c, vest]
    return (
        ";".join(f"{u}:{e}:{r}" for u, (e, r) in sorted(monitor.items())),
    ), [(key[0], u, e, r) for u, (e, r) in sorted(monitor.items())]


_spacesaving_update = _fold_update(
    _spacesaving_fold, HH_STATE_SCHEMA, HH_OUTPUT_SCHEMA, ("",))


def heavy_hitter_tracker(events: DataFrame) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: the always-on twin of
    the exact batch plans (text_heavy_hitters' explode->count->top-k,
    sketch_countmin_heavy_hitters' CM estimates). Keys are sharded by a
    stable hash so each key lives in exactly ONE shard's SpaceSaving
    monitor: per-shard the standard guarantee holds (no key with shard
    count > n_shard/HH_CAPACITY can be missed), so every GLOBAL heavy
    hitter survives the union of shard monitors, and total state is
    HH_SHARDS x HH_CAPACITY entries — independent of stream length and
    key cardinality.

    Scale: one keyed shuffle onto HH_SHARDS groups per micro-batch;
    widen HH_SHARDS for throughput (more parallel monitors, same
    guarantee against per-shard volume), widen HH_CAPACITY for
    precision. est is monotone per key, so downstream consumers take
    the latest emission per (shard, key).
    """
    from pyspark.sql import functions as F

    keyed = events.select(
        (F.crc32(F.col("user_id").cast("string")) % HH_SHARDS)
        .cast("bigint").alias("shard"),
        "user_id",
    )
    return _apply_fold(keyed, _spacesaving_update, "shard")


# ---------------------------------------------------------------------------
# Streaming Brier calibration tracker (twin of stats_brier_calibration's
# per-bin accumulation layer)
# ---------------------------------------------------------------------------

BRIER_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("n_pos", LongType()),
        StructField("sum_p_bp", LongType()),
        StructField("sq_err_num", LongType()),
    ]
)

BRIER_OUTPUT_SCHEMA = StructType(
    [
        StructField("bin", LongType()),
        StructField("n", LongType()),
        StructField("n_pos", LongType()),
        StructField("sum_p_bp", LongType()),
        StructField("sq_err_num", LongType()),
        StructField("mean_pred", DoubleType()),
        StructField("obs_rate", DoubleType()),
        StructField("brier", DoubleType()),
    ]
)


def _brier_fold(key, st, pdf):
    """Constant state per bin: (n, n_pos, sum_p_bp, sq_err_num) — all
    exact int64 in basis points (p_bp in [0, 10000], outcome scaled to
    y*10000), so the accumulation is order-free: chunk order, batch
    order, and replay order cannot perturb integer sums. The emitted
    doubles divide the exact integers once per emission with Spark
    F.round parity (_round_half_up)."""
    n, n_pos, sum_p, sq = st
    p = pdf["p_bp"].values.astype("int64")
    y = pdf["y"].values.astype("int64")
    n += len(pdf)
    n_pos += int(y.sum())
    sum_p += int(p.sum())
    d = p - y * 10000
    sq += int((d * d).sum())
    return (n, n_pos, sum_p, sq), [(
        key[0], n, n_pos, sum_p, sq,
        _round_half_up(sum_p / (n * 10000), 4),
        _round_half_up(n_pos / n, 4),
        _round_half_up(sq / (n * 10000 * 10000), 6),
    )]


_brier_update = _fold_update(
    _brier_fold, BRIER_STATE_SCHEMA, BRIER_OUTPUT_SCHEMA, (0, 0, 0, 0))


def brier_calibration_tracker(scored: DataFrame) -> DataFrame:
    """Streaming calibration / Brier tracker: the always-on twin of the
    per-bin accumulation layer of stats_brier_calibration
    (operators/relational.py). Input is a scored-outcomes stream with
    integer columns `p_bp` (predicted probability in basis points,
    0..10000) and `y` (realized outcome 0/1); rows land in ten
    prediction bins and each bin's state is four exact int64 sums —
    BOUNDED state (10 bins x 4 longs) regardless of stream length, the
    SpaceSaving/KS-tracker bounded-state contract. Every micro-batch
    re-emits each touched bin's current (mean_pred, obs_rate, brier)
    row (update mode), so calibration drift of a live model is visible
    while it happens instead of in tomorrow's batch scan; downstream
    takes the latest emission per bin.

    Exactness contract (pytest-pinned, incl. forced Arrow chunking):
    integer accumulation is order-free, so after any partitioning of
    the same rows into micro-batches the final emitted row per bin is
    bit-identical to the batch aggregation of the full input.

    Scale: one keyed shuffle onto 10 bin groups per micro-batch; the
    per-row work is vectorized numpy on Arrow chunks. sq_err_num grows
    as n * 1e8, so int64 holds ~9e10 rows per bin; rescale p_bp to
    permille for longer-lived monitors.
    """
    from pyspark.sql import functions as F

    binned = scored.select(
        F.least(F.lit(9), F.expr("p_bp div 1000")).cast("bigint")
        .alias("bin"),
        F.col("p_bp").cast("bigint").alias("p_bp"),
        F.col("y").cast("bigint").alias("y"),
    )
    return _apply_fold(binned, _brier_update, "bin")


# ---------------------------------------------------------------------------
# Streaming CUSUM drift tracker (twin of stats_cusum_drift)
# ---------------------------------------------------------------------------

CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("warm", LongType()),
        StructField("mu", LongType()),
        StructField("sp", LongType()),
        StructField("sn", LongType()),
        StructField("mp", LongType()),
        StructField("mn", LongType()),
        StructField("alarm", LongType()),
        StructField("last_day", StringType()),
    ]
)

CUSUM_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_days", LongType()),
        StructField("mu_cents", LongType()),
        StructField("max_cusum_pos", LongType()),
        StructField("max_cusum_neg", LongType()),
        StructField("alarm_step", LongType()),
    ]
)


def _cusum_fold(key, st, days):
    """Replays stats_cusum_drift's integer recurrence across
    micro-batches: 7-day warmup sets mu, then one-sided sums with 5%
    slack and an h = mu//4 alarm. The harness sorts each batch by day
    so Arrow chunking cannot reorder days; cross-batch the day-ordered
    delivery of CLOSED daily totals is ENFORCED via the state's last_day
    watermark — a late or replayed day raises instead of silently
    corrupting the recurrence (r13, the kendall loud-contract rule made
    consistent)."""
    n, warm, mu, sp, sn, mp, mn, alarm = st
    for cents in days["cents"].astype("int64"):
        c = int(cents)
        if n < 6:
            n, warm = n + 1, warm + c
        elif n == 6:
            n, warm = 7, warm + c
            mu = _tdiv(warm, 7)
        else:
            k = _tdiv(mu, 20)
            h = _tdiv(mu, 4)
            sp = max(0, sp + c - mu - k)
            sn = max(0, sn + mu - k - c)
            mp, mn = max(mp, sp), max(mn, sn)
            if alarm < 0 and (sp > h or sn > h):
                alarm = n + 1
            n += 1
    return (n, warm, mu, sp, sn, mp, mn, alarm), [
        (key[0], n, mu, mp, mn, alarm)]


_cusum_update = _fold_update(
    _cusum_fold, CUSUM_STATE_SCHEMA, CUSUM_OUTPUT_SCHEMA,
    (0, 0, 0, 0, 0, 0, 0, -1, ""), order=("d",), daily="cusum_tracker")


def cusum_tracker(daily: DataFrame) -> DataFrame:
    """Streaming twin of stats_cusum_drift: per event type, the 8-int
    CUSUM state (warmup sum, in-control mean, one-sided sums, running
    maxima, first alarm step) carried across micro-batches — drift
    alarms fire the DAY the cumulative deviation crosses h, not in
    tomorrow's batch scan. Input contract: a stream of CLOSED daily
    totals (event_type, d, cents) in per-key day order — the natural
    downstream of a watermarked tumbling daily aggregate (tw_tumbling's
    machinery), matching the batch query's (type, day) rollup exactly.
    The contract is ENFORCED: a late or replayed day fails the stream
    loudly (r13 — the kendall_tracker rule made consistent across the
    drift family) instead of silently corrupting the monitor's state.

    Bounded state: 8 int64 + the 10-byte last_day watermark per event
    type regardless of stream length (the Brier/SpaceSaving
    bounded-state contract). Exactness contract
    (pytest-pinned incl. forced Arrow chunking): with day-ordered
    delivery, the final emitted row per type is bit-identical to
    stats_cusum_drift's row. Python-side integer division mirrors
    Spark/DuckDB TRUNCATION toward zero (mu // k floors in Python, so
    negative values go through an explicit -((-x)//d) — revenue cents
    are non-negative here, but the twin must not silently diverge on a
    hypothetical negative series).
    """
    return _apply_fold(daily, _cusum_update, "event_type")


# ---------------------------------------------------------------------------
# Streaming SRM (sample-ratio-mismatch) tracker (twin of event_ab_srm_check)
# ---------------------------------------------------------------------------

SRM_STATE_SCHEMA = StructType(
    [
        StructField("n0", LongType()),
        StructField("n1", LongType()),
    ]
)

SRM_OUTPUT_SCHEMA = StructType(
    [
        StructField("n_control", LongType()),
        StructField("n_treatment", LongType()),
        StructField("chi2", DoubleType()),
        StructField("srm_flag", BooleanType()),
    ]
)


def _srm_fold(key, st, pdf):
    """Two exact int64 arm counters; per emission the 1-dof chi-square
    against 50/50 with the same IEEE tree as the batch query (half as
    a double, squares divided once) and the exact 3.841 literal."""
    n0, n1 = st
    a = pdf["is_treatment"].values.astype("int64")
    n1 += int(a.sum())
    n0 += len(pdf) - int(a.sum())
    half = (n0 + n1) / 2.0
    chi2 = ((n0 - half) * (n0 - half) / half
            + (n1 - half) * (n1 - half) / half) if (n0 + n1) else 0.0
    return (n0, n1), [(n0, n1, _round_half_up(chi2, 4), chi2 > 3.841)]


_srm_update = _fold_update(
    _srm_fold, SRM_STATE_SCHEMA, SRM_OUTPUT_SCHEMA, (0, 0))


def srm_tracker(users: DataFrame) -> DataFrame:
    """Streaming twin of event_ab_srm_check: a LIVE sample-ratio-
    mismatch alarm over the exp7 assignment — the single most valuable
    always-on experiment guard, because a biased ramp-up invalidates
    every downstream readout and batch SRM only catches it tomorrow.

    Input contract: a stream of FIRST-SEEN users (one row per user_id —
    the natural downstream of a watermarked streaming dropDuplicates on
    user_id); the tracker derives the salted-md5 exp7 arm exactly as
    the batch query and keeps TWO int64 counters as its entire state
    (one global group here; key by experiment_id at scale — thousands
    of concurrent experiments, 16 bytes of state each).

    Exactness contract (pytest-pinned): after any micro-batch split of
    the same first-seen users, the final emitted row equals
    event_ab_srm_check bit-for-bit (counts exact; chi2 re-derived with
    the same IEEE tree and Spark-parity HALF_UP rounding).
    """
    from pyspark.sql import functions as F

    src = users.select(
        F.lit(0).alias("g"),
        (F.expr(
            "CAST(conv(substring(md5(concat('exp7:', "
            "CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ) % 2 != 0).cast("int").alias("is_treatment"),
    )
    return _apply_fold(src, _srm_update, "g")


# ---------------------------------------------------------------------------
# Streaming seasonality / autocorrelation tracker (twin of
# stats_acf_daily_lags)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 7

ACF_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", LongType()),
        StructField("ss", LongType()),
        StructField("firsts", StringType()),   # first <=7 values, CSV
        StructField("lasts", StringType()),    # last  <=7 values, CSV
        StructField("last_day", StringType()),  # day-order watermark (r13)
    ]
    + [StructField(f"p{k}", LongType()) for k in range(1, ACF_MAX_LAG + 1)]
)

ACF_OUTPUT_SCHEMA = StructType(
    [
        StructField("lag_k", LongType()),
        StructField("n_pairs", LongType()),
        StructField("acf", DoubleType()),
    ]
)


def _acf_fold(key, st, days):
    """Bounded ACF state: (n, S, SS), the first and last ACF_MAX_LAG
    values, and the lagged product sums P_k = sum(x_{t-k} * x_t). The
    batch statistic's mean-cleared integer form expands EXACTLY from
    these sums:

        num_k = n^2*P_k - n*S*(A_k + B_k) + (n-k)*S^2
        den   = n^2*SS - n*S^2

    with A_k = S - sum(last k values), B_k = S - sum(first k values) —
    so the emitted ACF equals stats_acf_daily_lags bit-for-bit without
    ever storing the series. Days fold in day order; cross-batch the
    day-ordered delivery of closed daily counts is ENFORCED via the
    state's last_day watermark — a late or replayed day raises instead
    of silently corrupting the lagged sums (r13)."""
    n, s, ss, firsts_csv, lasts_csv, *ps = st
    firsts = [int(v) for v in firsts_csv.split(",") if v]
    lasts = [int(v) for v in lasts_csv.split(",") if v]
    for x in days["x"].astype("int64"):
        x = int(x)
        for k in range(1, ACF_MAX_LAG + 1):
            if len(lasts) >= k:
                ps[k - 1] += lasts[-k] * x
        if len(firsts) < ACF_MAX_LAG:
            firsts.append(x)
        lasts.append(x)
        if len(lasts) > ACF_MAX_LAG:
            lasts.pop(0)
        n, s, ss = n + 1, s + x, ss + x * x
    out: list[tuple] = []
    den = n * n * ss - n * s * s
    for k in range(1, ACF_MAX_LAG + 1):
        if n > k and den != 0:
            a_k = s - sum(lasts[-k:])
            b_k = s - sum(firsts[:k])
            num = (n * n * ps[k - 1] - n * s * (a_k + b_k)
                   + (n - k) * s * s)
            out.append((k, n - k, _round_half_up(num / den, 4)))
    return (n, s, ss, ",".join(str(v) for v in firsts),
            ",".join(str(v) for v in lasts), *ps), out


_acf_update = _fold_update(
    _acf_fold, ACF_STATE_SCHEMA, ACF_OUTPUT_SCHEMA,
    (0, 0, 0, "", "", "") + (0,) * ACF_MAX_LAG, order=("d",),
    daily="acf_tracker")


def acf_tracker(daily: DataFrame) -> DataFrame:
    """Streaming seasonality monitor: the always-on twin of
    stats_acf_daily_lags. Input is the closed daily event-count stream
    (d, x) in day order (the cusum_tracker contract); state is FIXED
    regardless of stream length — three moment sums, two 7-value edge
    buffers, seven lagged product sums (~17 int64) — yet every
    emission's lag-1..7 autocorrelations equal the batch query on the
    full prefix EXACTLY (the mean-cleared integer identity in
    _acf_update). A weekly cycle appearing in live traffic moves the
    lag-7 row the day it starts, instead of in tomorrow's batch scan.

    Same int64 headroom as the batch twin (terms ~ (x*n)^2): rescale x
    for century-long series at > ~1e6 events/day.
    """
    from pyspark.sql import functions as F

    src = daily.select(F.lit(0).alias("g"), "d",
                       F.col("x").cast("bigint").alias("x"))
    return _apply_fold(src, _acf_update, "g")


# ---------------------------------------------------------------------------
# Streaming Benford first-digit tracker (twin of quality_benford_first_digit)
# ---------------------------------------------------------------------------

BENFORD_STATE_SCHEMA = StructType(
    [StructField(f"c{d}", LongType()) for d in range(1, 10)]
    # Misbehaving-data counters (ADVICE r10): exact zero, negative, and
    # NULL cents each get their own int64 counter so a live ledger with
    # refunds/voids neither crashes the stream nor skews digits 1-9.
    + [StructField("c_zero", LongType()),
       StructField("c_neg", LongType()),
       StructField("c_null", LongType())]
)

BENFORD_OUTPUT_SCHEMA = StructType(
    [
        StructField("digit", StringType()),
        StructField("observed", LongType()),
        StructField("expected", DoubleType()),
        StructField("chi2_term", DoubleType()),
    ]
)


def _benford_fold(key, st, pdf):
    """Twelve exact int64 counters as the ENTIRE state: nine first-digit
    counters plus zero/negative/NULL guards (ADVICE r10 — cents==0 used
    to increment digit 9 via counts[int('0')-1] == counts[-1], negative
    cents raised ValueError killing the stream, NULL cents crashed the
    int64 cast). Per emission the expected counts and chi-square terms
    re-derive from the counters with the batch query's IEEE tree (shared
    Benford double literals, Spark F.round HALF_UP parity), so the final
    emission equals quality_benford_first_digit bit-for-bit INCLUDING on
    misbehaving data: the batch screen groups cents==0 under digit '0',
    negatives under '-' (the string's first char) and NULL under a NULL
    digit — all with NULL expected/chi2 — and its scalar n counts them;
    this twin mirrors all of that exactly."""
    from wireduck_spark.operators.quality import _BENFORD_P

    counts = list(st)
    cents = pdf["cents"]
    null_mask = cents.isna()
    counts[11] += int(null_mask.sum())
    valid = cents[~null_mask]
    counts[9] += int((valid == 0).sum())
    counts[10] += int((valid < 0).sum())
    first = valid[valid > 0].astype("int64").astype(str).str[0]
    for digit, c in first.value_counts().items():
        counts[int(digit) - 1] += int(c)
    n = sum(counts)  # the batch scalar n spans ALL groups, incl. '0'/'-'/NULL
    out = []
    for i, c in enumerate(counts[:9]):
        if c == 0:
            continue  # the batch groupBy emits only digits present
        e = float(n) * float(_BENFORD_P[i])
        dev = float(c) - e
        out.append((str(i + 1), c, _round_half_up(e, 4),
                    _round_half_up(dev * dev / e, 6)))
    # Batch-twin rows for misbehaving data: digit '0' (cents==0), '-'
    # (negative cents), NULL (NULL cents) — observed counted, expected
    # and chi2_term NULL (the Benford CASE has no arm for them).
    for label, c in (("0", counts[9]), ("-", counts[10]), (None, counts[11])):
        if c:
            out.append((label, c, None, None))
    return tuple(counts), out


_benford_update = _fold_update(
    _benford_fold, BENFORD_STATE_SCHEMA, BENFORD_OUTPUT_SCHEMA, (0,) * 12)


def benford_tracker(amounts: DataFrame) -> DataFrame:
    """Always-on Benford first-digit monitor: the streaming twin of
    quality_benford_first_digit, watching a live stream of money
    amounts (exact integer `cents`) for the first-digit drift that
    flags fabricated, truncated, or re-binned data THE BATCH SCREEN
    ONLY CATCHES TOMORROW. State is twelve int64 counters (nine digits
    + zero/negative/NULL cents guards) — fixed forever, order-free
    (integer adds commute across chunks, batches and replays) — and
    every emission re-renders expected counts and chi-square terms
    from those exact integers with the batch query's expression tree,
    so the final emission is bit-identical to the batch screen over
    the same rows (pytest-pinned, forced-chunk included), including on
    misbehaving data: zero/negative/NULL amounts land in the same
    '0' / '-' / NULL digit rows (NULL expected) the batch emits.

    One global group here; key by (ledger, currency) at scale — 96
    bytes of state per key.
    """
    from pyspark.sql import functions as F

    src = amounts.select(F.lit(0).alias("g"),
                         F.col("cents").cast("bigint").alias("cents"))
    return _apply_fold(src, _benford_update, "g")


# ---------------------------------------------------------------------------
# Streaming Granger-lite tracker (twin of stats_granger_lagged_daily)
# ---------------------------------------------------------------------------

GRANGER_STATE_SCHEMA = StructType(
    [
        StructField("has_prev", BooleanType()),
        StructField("prev_x", LongType()),
        StructField("prev_y", LongType()),
        StructField("m", LongType()),
        StructField("su", LongType()),
        StructField("sv", LongType()),
        StructField("sy", LongType()),
        StructField("suu", LongType()),
        StructField("svv", LongType()),
        StructField("syy", LongType()),
        StructField("suv", LongType()),
        StructField("suy", LongType()),
        StructField("svy", LongType()),
        StructField("last_day", StringType()),  # day-order watermark (r13)
    ]
)

GRANGER_OUTPUT_SCHEMA = StructType(
    [
        StructField("n_obs", LongType()),
        StructField("b_lag_count", DoubleType()),
        StructField("f_stat", DoubleType()),
        StructField("sse_ratio", DoubleType()),
    ]
)


def _granger_fold(key, st, days):
    """Thirteen-value bounded state: yesterday's (x, y) plus the ten raw
    int64 lag-pair moments. Each closed day extends the moments by ONE
    observation (u=prev_y, v=prev_x, yt=y); the emission re-runs the
    batch query's n-scaled centered-moment 2x2 solve (int64 centered
    moments, then the identical double tree with HALF_UP parity), so the
    final row equals stats_granger_lagged_daily bit-for-bit. Day-ordered
    closed daily rows ENFORCED via the state's last_day watermark — a
    late or replayed day raises instead of silently extending the
    moments with a mis-lagged pair (r13)."""
    has_prev, px, py, m, su, sv, sy, suu, svv, syy, suv, suy, svy = st
    for x, y in zip(days["x"], days["y"]):
        x, y = int(x), int(y)
        if has_prev:
            u, v, yt = py, px, y
            m += 1
            su += u; sv += v; sy += yt
            suu += u * u; svv += v * v; syy += yt * yt
            suv += u * v; suy += u * yt; svy += v * yt
        has_prev, px, py = True, x, y
    st = (has_prev, px, py, m, su, sv, sy, suu, svv, syy, suv, suy, svy)
    if m < 4:
        return st, []
    # numpy float64 divisions follow IEEE 754 (x/0 -> inf/nan) exactly
    # like Spark's double arithmetic in the batch twin — plain Python
    # floats RAISE ZeroDivisionError instead, so a constant lagged
    # series (muu == 0 -> det == 0) or a perfectly collinear fit
    # (sse == 0) killed the whole stream where the batch query renders
    # a row (r12 review). _round_half_up passes non-finite through.
    import numpy as _np

    muu = _np.float64(m * suu - su * su)
    mvv = _np.float64(m * svv - sv * sv)
    myy = _np.float64(m * syy - sy * sy)
    muv = _np.float64(m * suv - su * sv)
    muy = _np.float64(m * suy - su * sy)
    mvy = _np.float64(m * svy - sv * sy)
    with _np.errstate(divide="ignore", invalid="ignore"):
        det = muu * mvv - muv * muv
        b2 = float((mvy * muu - muy * muv) / det)
        sse_full = myy - ((muy * mvv - mvy * muv) * muy
                          + (mvy * muu - muy * muv) * mvy) / det
        sse_rest = myy - muy * muy / muu
        f = float((sse_rest - sse_full) / (sse_full / _np.float64(m - 3)))
        ratio = float(sse_full / sse_rest)
    return st, [(m, _round_half_up(b2, 6), _round_half_up(f, 4),
                 _round_half_up(ratio, 4))]


_granger_update = _fold_update(
    _granger_fold, GRANGER_STATE_SCHEMA, GRANGER_OUTPUT_SCHEMA,
    (False,) + (0,) * 12 + ("",), order=("d",), daily="granger_tracker")


def granger_tracker(daily: DataFrame) -> DataFrame:
    """Always-on lead-lag causality screen: the streaming twin of
    stats_granger_lagged_daily over the closed daily (d, x, y) stream.
    A volume->revenue lead appearing in live traffic moves the
    incremental-F the day it emerges, instead of in tomorrow's batch
    scan; state is thirteen int64-ish values FOREVER (the whole OLS
    lives in raw moments). Same int64 headroom as the batch twin
    (binding term Sy^2): rescale cents for year-long series beyond
    ~8e6 cents/day.
    """
    from pyspark.sql import functions as F

    src = daily.select(F.lit(0).alias("g"), "d",
                       F.col("x").cast("bigint").alias("x"),
                       F.col("y").cast("bigint").alias("y"))
    return _apply_fold(src, _granger_update, "g")


# ---------------------------------------------------------------------------
# Streaming week-blocked Kendall tau-b tracker (twin of
# stats_kendall_tau_weekly)
# ---------------------------------------------------------------------------

KENDALL_ANCHOR = pd.Timestamp("2024-01-01").date()

KENDALL_STATE_SCHEMA = StructType(
    [
        StructField("conc", LongType()),
        StructField("disc", LongType()),
        StructField("ties_x", LongType()),
        StructField("ties_y", LongType()),
        StructField("n_pairs", LongType()),
        StructField("cur_week", LongType()),
        StructField("week_buf", StringType()),  # 'x:y;x:y;...' <=7 days
        StructField("last_day", StringType()),  # day-order watermark (r13)
    ]
)

KENDALL_OUTPUT_SCHEMA = StructType(
    [
        StructField("n_pairs", LongType()),
        StructField("conc", LongType()),
        StructField("disc", LongType()),
        StructField("ties_x", LongType()),
        StructField("ties_y", LongType()),
        StructField("tau_b", DoubleType()),
    ]
)


def _kendall_fold(key, st, days):
    """Five int64 pair counters plus a <=7-day current-week buffer as the
    ENTIRE state: the week-blocked pair space means a new day only ever
    pairs against the days already seen in ITS OWN calendar week, so the
    buffer resets at each week boundary and the counters match the batch
    equi-join exactly. tau-b re-renders per emission with the batch
    query's sqrt tree and HALF_UP rounding. Loud, not silently wrong
    (ADVICE r10, widened r13): the harness's strictly-increasing day
    watermark subsumes the original prior-week check AND catches a
    replayed or out-of-order day WITHIN the current week, which would
    pair against the wrong buffer (or its own earlier copy) and
    permanently corrupt the int64 counters."""
    conc, disc, tx, ty, n_pairs, cur_w, buf_csv = st
    buf = [tuple(int(v) for v in p.split(":"))
           for p in buf_csv.split(";") if p]
    for d, x, y in zip(days["d"], days["x"], days["y"]):
        x, y = int(x), int(y)
        w = (pd.Timestamp(d).date() - KENDALL_ANCHOR).days // 7
        if w != cur_w:
            cur_w, buf = w, []
        for xa, ya in buf:
            p = (x - xa) * (y - ya)
            conc += p > 0
            disc += p < 0
            tx += x == xa
            ty += y == ya
            n_pairs += 1
        buf.append((x, y))
    st = (conc, disc, tx, ty, n_pairs, cur_w,
          ";".join(f"{x}:{y}" for x, y in buf))
    denom = float((n_pairs - tx) * (n_pairs - ty))
    if n_pairs == 0 or denom <= 0:
        return st, []
    tau = float(conc - disc) / math.sqrt(denom)
    return st, [(n_pairs, conc, disc, tx, ty, _round_half_up(tau, 4))]


_kendall_update = _fold_update(
    _kendall_fold, KENDALL_STATE_SCHEMA, KENDALL_OUTPUT_SCHEMA,
    (0, 0, 0, 0, 0, -1, "", ""), order=("d",), daily="kendall_tracker")


def kendall_tracker(daily: DataFrame) -> DataFrame:
    """Always-on rank-concordance monitor: the streaming twin of
    stats_kendall_tau_weekly over the closed daily (d, x, y) stream.
    The week-blocked design is what makes a STREAMING tau possible at
    all — pairs never reach back past the current calendar week, so
    state is five counters plus at most seven buffered days, forever.
    Day-ordered closed daily rows required (the cusum_tracker
    contract); final emission is bit-identical to the batch query
    (pytest-pinned, forced-chunk included).
    """
    from pyspark.sql import functions as F

    src = daily.select(F.lit(0).alias("g"), "d",
                       F.col("x").cast("bigint").alias("x"),
                       F.col("y").cast("bigint").alias("y"))
    return _apply_fold(src, _kendall_update, "g")


# ---------------------------------------------------------------------------
# Streaming trend-duo tracker (twin of stats_mann_kendall_weekly +
# stats_theil_sen_weekly — VERDICT r10 next-round #5)
# ---------------------------------------------------------------------------

TREND_DUO_STATE_SCHEMA = StructType(
    [
        StructField("s_stat", LongType()),
        StructField("closed_t1", LongType()),   # tie/block terms of CLOSED weeks
        StructField("closed_t2", LongType()),
        StructField("n_days", LongType()),
        StructField("cur_week", LongType()),
        StructField("week_buf", StringType()),  # 'dayord:y;...' <=7 days
        StructField("slopes", StringType()),    # 'dy:dd;...' <=21 per week
        StructField("last_day", StringType()),  # day-order watermark (r13)
    ]
)

TREND_DUO_OUTPUT_SCHEMA = StructType(
    [
        StructField("n_days", LongType()),
        StructField("s_stat", LongType()),
        StructField("var_num", LongType()),
        StructField("z", DoubleType()),
        StructField("is_significant", BooleanType()),
        StructField("n_slopes", LongType()),
        StructField("median_slope", DoubleType()),
        StructField("is_downtrend", BooleanType()),
    ]
)


def _mk_block_term(t: int) -> int:
    return t * (t - 1) * (2 * t + 5)


def _trend_duo_fold(key, st, days):
    """Mann-Kendall + Theil-Sen in one pass over the closed daily stream.

    MK side is fully bounded — the kendall_tracker device: pairs only
    form within the current calendar week, so S accumulates against a
    <=7-day buffer; the variance's tie terms split into exact int64
    contributions of CLOSED weeks (frozen forever once the week rolls)
    plus the open week's, re-derived from the buffer at emission so any
    emission equals the batch pair over the same closed days.

    Sen side keeps the within-week slope log as exact int64 (dy, dd)
    pairs — ~21 entries/week, i.e. ~1 KB/month/key: calendar-bounded
    like the batch series itself (the unbounded-horizon alternative is
    a mergeable quantile sketch, whose accuracy-vs-exactness tradeoff
    sketch_quantile_contract already measures; an exact median cannot
    be computed from sublinear state). The median re-renders per
    emission with Spark's percentile interpolation (pos = 0.5*(n-1),
    lower + (upper-lower)*frac) over float(dy)/float(dd) doubles —
    identical IEEE divisions to the batch slope column.

    Day-ordered closed daily rows ENFORCED via the state's last_day
    watermark (r13 — widened from the ADVICE-r10 prior-week raise):
    a late, replayed, or same-week out-of-order day fails loudly; a
    same-week replay would add a phantom 0/0 slope and a self-tie to
    the S statistic."""
    s_stat, closed_t1, closed_t2, n_days, cur_w, buf_csv, slopes_csv = st
    buf = [tuple(int(v) for v in p.split(":"))
           for p in buf_csv.split(";") if p]
    slopes = [tuple(int(v) for v in p.split(":"))
              for p in slopes_csv.split(";") if p]
    for d, y in zip(days["d"], days["y"]):
        y = int(y)
        dayord = (pd.Timestamp(d).date() - KENDALL_ANCHOR).days
        w = dayord // 7
        if w != cur_w:
            if buf:  # freeze the closing week's variance terms
                closed_t1 += _mk_block_term(len(buf))
                ys = {}
                for _, ya in buf:
                    ys[ya] = ys.get(ya, 0) + 1
                closed_t2 += sum(_mk_block_term(t) for t in ys.values())
            cur_w, buf = w, []
        for da, ya in buf:
            s_stat += (y > ya) - (y < ya)
            slopes.append((y - ya, dayord - da))
        buf.append((dayord, y))
        n_days += 1
    st = (s_stat, closed_t1, closed_t2, n_days, cur_w,
          ";".join(f"{a}:{b}" for a, b in buf),
          ";".join(f"{a}:{b}" for a, b in slopes))
    # Open week's variance terms, re-derived from the buffer.
    t1 = closed_t1 + _mk_block_term(len(buf))
    ys = {}
    for _, ya in buf:
        ys[ya] = ys.get(ya, 0) + 1
    t2 = closed_t2 + sum(_mk_block_term(t) for t in ys.values())
    var_num = t1 - t2
    if s_stat > 0:
        z = float(s_stat - 1) / math.sqrt(float(var_num) / 18)
    elif s_stat < 0:
        z = float(s_stat + 1) / math.sqrt(float(var_num) / 18)
    else:
        z = 0.0
    vals = sorted(float(dy) / float(dd) for dy, dd in slopes)
    if vals:
        pos = 0.5 * (len(vals) - 1)
        lo = int(pos)
        frac = pos - lo
        hi = min(lo + 1, len(vals) - 1)
        med = vals[lo] + (vals[hi] - vals[lo]) * frac
        med_out, down = _round_half_up(med, 4), med < 0
    else:
        med_out = down = None
    return st, [(n_days, s_stat, var_num, _round_half_up(z, 4),
                 abs(z) > 1.96, len(vals), med_out, down)]


_trend_duo_update = _fold_update(
    _trend_duo_fold, TREND_DUO_STATE_SCHEMA, TREND_DUO_OUTPUT_SCHEMA,
    (0, 0, 0, 0, -1, "", "", ""), order=("d",),
    daily="trend_duo_tracker")


def trend_duo_tracker(daily: DataFrame) -> DataFrame:
    """Always-on monotone-trend monitor: the streaming twin of the
    MK + Sen's slope DUO (stats_mann_kendall_weekly "is there a trend"
    + stats_theil_sen_weekly "how steep") over the closed daily (d, y)
    revenue stream. Week-blocked like its batch pair, so every emission
    is bit-identical to running BOTH batch queries over the days seen
    so far (pytest-pinned, forced-chunk included). One global group
    here; key by (metric, segment) at scale.
    """
    from pyspark.sql import functions as F

    src = daily.select(F.lit(0).alias("g"), "d",
                       F.col("y").cast("bigint").alias("y"))
    return _apply_fold(src, _trend_duo_update, "g")


# ---------------------------------------------------------------------------
# Streaming Page-Hinkley drift tracker (twin of stats_page_hinkley_drift)
# ---------------------------------------------------------------------------

PH_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", LongType()),
        StructField("mup", LongType()),
        StructField("mnm", LongType()),
        StructField("mdn", LongType()),
        StructField("mxm", LongType()),
        StructField("aup", LongType()),
        StructField("adn", LongType()),
        StructField("last_day", StringType()),
    ]
)

PH_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_days", LongType()),
        StructField("ph_up", LongType()),
        StructField("ph_down", LongType()),
        StructField("alarm_up_step", LongType()),
        StructField("alarm_down_step", LongType()),
    ]
)


def _tdiv(a: int, d: int) -> int:
    """Truncate-toward-zero integer division by a POSITIVE divisor
    (Spark `div` / DuckDB `//` semantics, rule 6). Python's `//`
    floors, which diverges on negative numerators; revenue cents are
    non-negative on this fixture, but the twin must not silently
    diverge on a hypothetical negative series."""
    return a // d if a >= 0 else -((-a) // d)


def _ph_fold(key, st, days):
    """Replays stats_page_hinkley_drift's integer recurrence across
    micro-batches: running mean mean_t = s_t div t (NOT a frozen
    warm-up mu — the defining difference from the CUSUM tracker two
    sections up), one-sided unclamped sums with 1% slack, extrema
    tracked, alarm the first step the excursion exceeds mean_t div 4.
    The harness sorts each batch by day so Arrow chunking cannot
    reorder days; cross-batch the day-ordered delivery of CLOSED daily
    totals is ENFORCED via the state's last_day watermark — a late or
    replayed day raises instead of silently corrupting the recurrence
    (r13)."""
    n, s, mup, mnm, mdn, mxm, aup, adn = st
    for cents_v in days["cents"].astype("int64"):
        x = int(cents_v)
        s += x
        n += 1
        mean = _tdiv(s, n)
        slack = _tdiv(mean, 100)
        lam = _tdiv(mean, 4)
        mup = mup + x - mean - slack
        mnm = min(mnm, mup)
        mdn = mdn + x - mean + slack
        mxm = max(mxm, mdn)
        if aup < 0 and mup - mnm > lam:
            aup = n
        if adn < 0 and mxm - mdn > lam:
            adn = n
    return (n, s, mup, mnm, mdn, mxm, aup, adn), [
        (key[0], n, mup - mnm, mxm - mdn, aup, adn)]


_ph_update = _fold_update(
    _ph_fold, PH_STATE_SCHEMA, PH_OUTPUT_SCHEMA,
    (0, 0, 0, 0, 0, 0, -1, -1, ""), order=("d",),
    daily="page_hinkley_tracker")


def page_hinkley_tracker(daily: DataFrame) -> DataFrame:
    """Streaming twin of stats_page_hinkley_drift: per event type, the
    8-int Page-Hinkley state (count, running sum, both one-sided sums,
    their extrema, first alarm step per side) carried across
    micro-batches — the drift alarm fires the DAY the excursion crosses
    lambda, not in tomorrow's batch scan. Input contract: a stream of
    CLOSED daily totals (event_type, d, cents) in per-key day order —
    the natural downstream of a watermarked tumbling daily aggregate
    (tw_tumbling's machinery), matching the batch query's (type, day)
    rollup exactly. The contract is ENFORCED: a late or replayed day
    fails the stream loudly (r13) instead of silently corrupting the
    monitor's state.

    Bounded state: 8 int64 + the 10-byte last_day watermark per event
    type regardless of stream length (the CUSUM/Brier bounded-state
    contract). Exactness contract
    (pytest-pinned incl. forced Arrow chunking): with day-ordered
    delivery, the final emitted row per type is bit-identical to
    stats_page_hinkley_drift's row. All divisions go through _tdiv
    (truncate toward zero) to mirror Spark `div` / DuckDB `//` exactly
    even on a negative series.
    """
    return _apply_fold(daily, _ph_update, "event_type")


# ---------------------------------------------------------------------------
# Streaming EWMA control-chart tracker (twin of stats_ewma_control_chart)
# ---------------------------------------------------------------------------

EWMA_CHART_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("warm", LongType()),
        StructField("mu", LongType()),
        StructField("z", LongType()),
        StructField("mx", LongType()),
        StructField("alarm", LongType()),
        StructField("last_day", StringType()),
    ]
)

EWMA_CHART_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_days", LongType()),
        StructField("mu_cents", LongType()),
        StructField("ewma_cents", LongType()),
        StructField("max_excursion", LongType()),
        StructField("alarm_step", LongType()),
    ]
)


def _ewma_chart_fold(key, st, days):
    """Replays stats_ewma_control_chart's integer recurrence across
    micro-batches: 7-day warm-up freezes the center mu and seeds z,
    then z' = (3z + x) div 4 with an alarm the first day |z - mu|
    leaves the mu div 8 band. The harness sorts each batch by day so
    Arrow chunking cannot reorder days; cross-batch the day-ordered
    delivery of CLOSED daily totals is ENFORCED via the state's
    last_day watermark — a late or replayed day raises instead of
    silently corrupting the recurrence (r13)."""
    n, warm, mu, z, mx, alarm = st
    for cents_v in days["cents"].astype("int64"):
        x = int(cents_v)
        if n < 6:
            n, warm = n + 1, warm + x
        elif n == 6:
            n, warm = 7, warm + x
            mu = z = _tdiv(warm, 7)
        else:
            n += 1
            z = _tdiv(3 * z + x, 4)
            exc = abs(z - mu)
            mx = max(mx, exc)
            if alarm < 0 and exc > _tdiv(mu, 8):
                alarm = n
    return (n, warm, mu, z, mx, alarm), [(key[0], n, mu, z, mx, alarm)]


_ewma_chart_update = _fold_update(
    _ewma_chart_fold, EWMA_CHART_STATE_SCHEMA, EWMA_CHART_OUTPUT_SCHEMA,
    (0, 0, 0, 0, 0, -1, ""), order=("d",), daily="ewma_chart_tracker")


def ewma_chart_tracker(daily: DataFrame) -> DataFrame:
    """Streaming twin of stats_ewma_control_chart, completing the drift
    family's batch/tracker symmetry (CUSUM and Page-Hinkley both have
    always-on twins two sections up): per event type, the 6-int chart
    state (warm-up sum, frozen center, smoothed z, max excursion, first
    alarm step) carried across micro-batches — the band-exit alarm
    fires the DAY the smoothed level leaves mu +/- mu div 8, not in
    tomorrow's batch scan. Input contract: a stream of CLOSED daily
    totals (event_type, d, cents) in per-key day order — the natural
    downstream of a watermarked tumbling daily aggregate, matching the
    batch query's (type, day) rollup exactly. (This is the CHART over
    the per-type daily series; the per-user value smoother is
    ewma_tracker near the top of this module.) The day-order contract
    is ENFORCED: a late or replayed day fails the stream loudly (r13)
    instead of silently corrupting the monitor's state.

    Bounded state: 6 int64 + the 10-byte last_day watermark per event
    type regardless of stream length.
    Exactness contract (pytest-pinned incl. forced Arrow chunking):
    with day-ordered delivery, the final emitted row per type is
    bit-identical to stats_ewma_control_chart's row. All divisions go
    through _tdiv (truncate toward zero) to mirror Spark `div` /
    DuckDB `//` exactly even on a negative series.
    """
    return _apply_fold(daily, _ewma_chart_update, "event_type")
