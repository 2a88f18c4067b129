"""Stateful-tracker unit tests that need no SparkSession.

Every applyInPandasWithState update function is a plain
``(key, batches, state) -> Iterator[DataFrame]`` callable, so these
tests drive it directly through a GroupState stub. They run in the
default (smoke) tier; the end-to-end stream-vs-batch twins of the same
trackers live in tests/test_streaming.py under the ``slow`` marker.
"""

import importlib
import math

import pandas as pd
import pytest


def test_stateful_timeout_branch():
    """The eviction path (hasTimedOut -> remove + expired=true row) and the
    timeout arming, exercised with a fake GroupState — no streaming query
    needed (and none could finish: see test above)."""
    import pandas as pd

    from wireduck_spark.streaming.stateful import make_update_fn

    class FakeState:
        def __init__(self, value=None, timed_out=False):
            self._v = value
            self.hasTimedOut = timed_out
            self.removed = False
            self.timeout_set = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self.removed = True
            self._v = None

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    fn = make_update_fn(60_000)

    # accumulate branch: folds rows, arms the timeout
    st = FakeState((2, 300))
    [out] = fn((7,), [pd.DataFrame({"value": [1.0, 2.5]})], st)
    assert st._v == (4, 650) and st.timeout_set == 60_000
    assert out["expired"].tolist() == [False]
    assert out["sum_cents"].tolist() == [650]

    # eviction branch: emits the final totals flagged expired, drops state
    st = FakeState((4, 650), timed_out=True)
    [out] = fn((7,), [], st)
    assert st.removed
    assert out["expired"].tolist() == [True]
    assert out["n_events"].tolist() == [4]

    # no-timeout variant never arms a timeout
    st = FakeState()
    fn_nt = make_update_fn(None)
    [_] = fn_nt((7,), [pd.DataFrame({"value": [1.0]})], st)
    assert st.timeout_set is None


def test_spacesaving_guarantees_under_eviction(monkeypatch):
    """Capacity-stressed unit test of the SpaceSaving invariants with a
    fake GroupState and HH_CAPACITY=3: est >= true >= est - err for
    every monitored key, any key with true count > n/capacity is
    present, and the monitor never exceeds capacity. Also replays the
    same stream in one batch vs three micro-batches: the per-batch
    pre-sum keeps the final monitor identical."""
    import pandas as pd

    import wireduck_spark.streaming.stateful as ss

    monkeypatch.setattr(ss, "HH_CAPACITY", 3)

    class FakeState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    # 40 events over 6 keys: 1 and 2 are true heavy hitters
    seq = [1] * 16 + [2] * 12 + [3, 4, 5, 6] * 3
    true = {k: seq.count(k) for k in set(seq)}
    n = len(seq)

    def run(chunks):
        st = FakeState()
        for ch in chunks:
            [_] = ss._spacesaving_update(
                (0,), [pd.DataFrame({"user_id": ch})], st)
        return {
            int(u): (int(e), int(r))
            for u, e, r in (ent.split(":")
                            for ent in st._v[0].split(";"))
        }

    mon = run([seq])
    assert len(mon) == 3
    for u, (est, err) in mon.items():
        assert est >= true[u] >= est - err
    for u, c in true.items():
        if c > n / 3:
            assert u in mon, f"guaranteed heavy hitter {u} evicted"

    mon3 = run([seq[:15], seq[15:30], seq[30:]])
    assert mon3.keys() == mon.keys()
    # one-shot vs chunked may differ in err bookkeeping order, but the
    # guaranteed invariants hold identically
    for u, (est, err) in mon3.items():
        assert est >= true[u] >= est - err


def test_ph_tracker_negative_series_tdiv():
    """_tdiv must truncate toward zero exactly like Spark `div` /
    DuckDB `//` on negative numerators (Python // floors): the tracker
    must not silently diverge on a hypothetical refund-heavy series."""
    from wireduck_spark.streaming.stateful import _tdiv
    assert _tdiv(-7, 2) == -3          # Python -7 // 2 == -4
    assert _tdiv(7, 2) == 3
    assert _tdiv(-100, 100) == -1
    assert _tdiv(-99, 100) == 0        # Python -99 // 100 == -1
    assert _tdiv(0, 4) == 0


# ---------------------------------------------------------------------------
# Round-12 tracker review fixes (driven directly via a GroupState stub —
# the update fns are plain callables)
# ---------------------------------------------------------------------------


class _StubState:
    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    @property
    def hasTimedOut(self):
        return False

    def update(self, v):
        self._v = tuple(v)

    def setTimeoutDuration(self, ms):
        pass


def test_cents_series_spark_parity_and_null_skip():
    """Per-event HALF_UP cents (registry.cents semantics) — pandas
    .round() is HALF_TO_EVEN and diverged at exact half-cents; NaN maps
    to <NA> instead of crashing the int64 cast (r12 review)."""
    import numpy as np

    from wireduck_spark.streaming.stateful import _cents_series

    s = _cents_series(pd.Series([0.125, 0.005, 1.0, np.nan, 0.135]))
    # 12.5 -> 13 and 0.5 -> 1 (HALF_UP; banker's gives 12 and 0)
    assert list(s[:3]) == [13, 1, 100]
    assert pd.isna(s[3])
    assert s[4] == 14  # 13.5 -> 14 either way (sanity)


def test_user_totals_chunk_split_invariant_and_null_safe():
    """Totals must equal the batch SUM of per-event rounded cents, not a
    rounding of the chunk sum: two 0.004 events are 0 cents however they
    are chunked (old code: 1 when co-chunked), and a NULL value counts
    the row but adds nothing (r12 review)."""
    from wireduck_spark.streaming.stateful import make_update_fn

    fn = make_update_fn(None)
    one_chunk = _StubState()
    [out1] = list(fn((7,), [pd.DataFrame({"value": [0.004, 0.004, None]})],
                     one_chunk))
    split = _StubState()
    list(fn((7,), [pd.DataFrame({"value": [0.004]})], split))
    [out2] = list(fn((7,), [pd.DataFrame({"value": [0.004, None]})], split))
    for out in (out1, out2):
        assert out["n_events"][0] == 3
        assert out["sum_cents"][0] == 0


def test_granger_constant_series_emits_instead_of_crashing():
    """A constant lagged series gives det == 0: the divisions must follow
    IEEE (inf/nan) like the batch twin's Spark doubles, not raise
    ZeroDivisionError and kill the stream (r12 review)."""
    from wireduck_spark.streaming.stateful import _granger_update

    st = _StubState()
    days = pd.DataFrame({
        "d": pd.date_range("2024-01-01", periods=6).date,
        "x": [5] * 6,
        "y": [5] * 6,
    })
    [out] = list(_granger_update((0,), [days], st))
    assert len(out) == 1  # emitted a row, not an exception
    assert out["n_obs"][0] == 5
    # 0/0 in every division: IEEE NaN, as Spark's doubles give
    for col in ("b_lag_count", "f_stat", "sse_ratio"):
        assert math.isnan(out[col][0]), col


def test_funnel_null_ts_does_not_corrupt_stage():
    """A NaT timestamp must be ignored (batch MIN(CASE) skips NULL), not
    cast to INT64_MIN where it wins every min-merge and inflates the
    stage forever (r12 review)."""
    from wireduck_spark.streaming.stateful import _funnel_update

    st = _StubState()
    pdf = pd.DataFrame({
        "ts": [pd.NaT, pd.Timestamp("2024-01-01 10:00:00")],
        "event_type": ["view", "click"],
    })
    [out] = list(_funnel_update((3,), [pdf], st))
    # no valid view -> stage 0 (NaT view must not count as first-seen)
    assert out["stage"][0] == 0


def test_distinct_tracker_comma_type_survives_state_roundtrip():
    """Set state is JSON-packed: an event_type containing a comma is ONE
    type across batches, not two phantom types on restore (r12 review);
    legacy CSV states still restore."""
    from wireduck_spark.streaming.stateful import _distinct_update

    st = _StubState()
    [o1] = list(_distinct_update((1,), [pd.DataFrame(
        {"event_type": ["a,b"]})], st))
    assert o1["n_distinct_types"][0] == 1
    [o2] = list(_distinct_update((1,), [pd.DataFrame(
        {"event_type": ["a,b"]})], st))
    assert o2["n_distinct_types"][0] == 1  # CSV restore would say 2
    legacy = _StubState(("x,y",))  # pre-r12 CSV state: best-effort split
    [o3] = list(_distinct_update((1,), [pd.DataFrame(
        {"event_type": []}, dtype=str)], legacy))
    assert o3["n_distinct_types"][0] == 2


# ---------------------------------------------------------------------------
# Day-ordered contract enforcement (r13): every daily-fold tracker must
# RAISE on a late or replayed day — the kendall/trend-duo loud rule made
# consistent — instead of silently folding it into permanently corrupted
# state. Direct-drive via _StubState (the r12 hardening pattern): batch 1
# establishes the last_day watermark, batch 2 violates it.
# ---------------------------------------------------------------------------


def _days_pdf(days, **cols):
    import datetime as dt

    return pd.DataFrame(
        {"d": [dt.date.fromisoformat(x) for x in days], **cols})


@pytest.mark.parametrize(
    "fn_name,mk_pdf",
    [
        ("_cusum_update",
         lambda days: _days_pdf(days, cents=[100] * len(days))),
        ("_ph_update",
         lambda days: _days_pdf(days, cents=[100] * len(days))),
        ("_ewma_chart_update",
         lambda days: _days_pdf(days, cents=[100] * len(days))),
        ("_acf_update",
         lambda days: _days_pdf(days, x=[5] * len(days))),
        ("_granger_update",
         lambda days: _days_pdf(days, x=[5] * len(days),
                                y=[7] * len(days))),
        # holt's source casts d to an ISO string — _day_str must treat
        # both representations identically
        ("_holt_update",
         lambda days: pd.DataFrame({"d": list(days),
                                    "cents": [100] * len(days)})),
        # kendall/trend-duo raised on a PRIOR week already (ADVICE r10);
        # the r13 watermark must also catch same-week replays/reorders
        ("_kendall_update",
         lambda days: _days_pdf(days, x=[5] * len(days),
                                y=[7] * len(days))),
        ("_trend_duo_update",
         lambda days: _days_pdf(days, y=[7] * len(days))),
    ],
)
def test_daily_trackers_reject_out_of_order_and_replayed_days(
        fn_name, mk_pdf):
    import wireduck_spark.streaming.stateful as st_mod

    fn = getattr(st_mod, fn_name)
    key = (0,) if fn_name in ("_acf_update", "_granger_update",
                              "_kendall_update", "_trend_duo_update") \
        else ("purchase",)

    # late day (strictly older than the watermark)
    st = _StubState()
    list(fn(key, [mk_pdf(["2024-01-01", "2024-01-02"])], st))
    with pytest.raises(ValueError, match="day-ordered"):
        list(fn(key, [mk_pdf(["2024-01-01"])], st))

    # replayed day (== watermark) — would fold the same total twice
    st = _StubState()
    list(fn(key, [mk_pdf(["2024-01-01", "2024-01-02"])], st))
    with pytest.raises(ValueError, match="day-ordered"):
        list(fn(key, [mk_pdf(["2024-01-02"])], st))

    # duplicate day WITHIN one batch: the same contract violation for
    # the pre-aggregated daily-total trackers; holt instead groupbys its
    # per-event rows to day totals first (its documented "complete day
    # per micro-batch" contract), so two same-day rows are ONE day there.
    st = _StubState()
    if fn_name == "_holt_update":
        list(fn(key, [mk_pdf(["2024-01-03", "2024-01-03"])], st))
        assert st.get[0] == 200  # level seeded from the 100+100 day total
    else:
        with pytest.raises(ValueError, match="day-ordered"):
            list(fn(key, [mk_pdf(["2024-01-03", "2024-01-03"])], st))

    # in-order continuation stays green and advances the watermark
    st = _StubState()
    list(fn(key, [mk_pdf(["2024-01-01", "2024-01-02"])], st))
    list(fn(key, [mk_pdf(["2024-01-03"])], st))
    assert "2024-01-03" in st.get


def test_beacon_tracker_rejects_out_of_order_event():
    """An event older than the folded last_ts watermark would add a
    NEGATIVE gap to the S/Q sums — raise instead (r13); an event at
    exactly the watermark is a legal zero gap, and NaT rows are dropped
    rather than misread as out-of-order INT64_MIN timestamps."""
    from wireduck_spark.streaming.stateful import _beacon_update

    key = (1, "purchase")

    def pdf(ts_list, ids=None):
        return pd.DataFrame({
            "ts": pd.to_datetime(ts_list),
            "event_id": ids or list(range(len(ts_list))),
        })

    st = _StubState()
    list(_beacon_update(key, [pdf(["2024-01-01 10:00:00",
                                   "2024-01-01 10:05:00"])], st))
    with pytest.raises(ValueError, match="event-time-ordered"):
        list(_beacon_update(key, [pdf(["2024-01-01 10:01:00"])], st))

    # equal timestamp: a zero gap, exactly what the batch LAG computes
    st = _StubState()
    list(_beacon_update(key, [pdf(["2024-01-01 10:00:00"])], st))
    [out] = list(_beacon_update(
        key, [pdf(["2024-01-01 10:00:00", "2024-01-01 10:04:00",
                   "2024-01-01 10:08:00"])], st))
    assert out["n_gaps"][0] == 3 and out["sum_gap_s"][0] == 480

    # NaT is dropped, not folded and not misread as out-of-order
    st = _StubState()
    list(_beacon_update(key, [pdf(["2024-01-01 10:00:00"])], st))
    list(_beacon_update(key, [pdf([pd.NaT, "2024-01-01 10:05:00"])], st))
    assert st.get[1] == 1  # exactly one gap counted


# ---------------------------------------------------------------------------
# r14 (SURVEY §13 item 1c, pulled forward): the eight daily-fold trackers
# under out-of-contract micro-batch shapes the r13 replay matrix did not
# cover — an ALL-EMPTY micro-batch on warm state (must re-emit without
# touching state) and a PARTIAL DAY split across two micro-batches (the
# second batch re-presents the folded day: the day-ordered watermark must
# raise, because the first fold already smoothed a partial total).
# ---------------------------------------------------------------------------


def _days_frame(days, **cols):
    base = {"d": days}
    base.update({k: v[: len(days)] if len(v) > len(days) else v
                 for k, v in cols.items()})
    return pd.DataFrame(base)


_DAILY_TRACKER_CASES = [
    ("holt", "_holt_update",
     lambda d: _days_frame(d, cents=[100] * len(d))),
    ("cusum", "_cusum_update",
     lambda d: _days_frame(d, cents=[100] * len(d))),
    ("page_hinkley", "_ph_update",
     lambda d: _days_frame(d, cents=[100] * len(d))),
    ("ewma_chart", "_ewma_chart_update",
     lambda d: _days_frame(d, cents=[100] * len(d))),
    ("acf", "_acf_update",
     lambda d: _days_frame(d, x=[100] * len(d))),
    ("granger", "_granger_update",
     lambda d: _days_frame(d, x=[100] * len(d), y=[50] * len(d))),
    ("kendall", "_kendall_update",
     lambda d: _days_frame(d, x=[100] * len(d), y=[50] * len(d))),
    ("trend_duo", "_trend_duo_update",
     lambda d: _days_frame(d, y=[100] * len(d))),
]


@pytest.mark.parametrize(
    "name,fn_name,mk", _DAILY_TRACKER_CASES,
    ids=[c[0] for c in _DAILY_TRACKER_CASES])
def test_daily_tracker_empty_batch_and_partial_day(name, fn_name, mk):
    from wireduck_spark.streaming import stateful

    fn = getattr(stateful, fn_name)
    key = ("click",)
    st = _StubState()
    list(fn(key, [mk(["2024-01-01", "2024-01-02"])], st))
    warm = st.get

    # all-empty micro-batch: emit-only, state untouched
    list(fn(key, [mk([])], st))
    assert st.get == warm, f"{name}: empty batch mutated state"

    # partial day split across batches: the re-presented day must raise
    with pytest.raises(ValueError, match="day-ordered|day .* arrived"):
        list(fn(key, [mk(["2024-01-02"])], st))


# ---------------------------------------------------------------------------
# State and output schema pins. Spark's state store checks the declared
# state schema against the checkpoint before any user code runs, so a
# renamed, retyped or reordered state field breaks every restart from an
# existing checkpoint (module docstring of streaming/stateful.py).
# ---------------------------------------------------------------------------

_SCHEMAS = {
    ("stateful", "ACF_"): (
        "struct<n:bigint,s:bigint,ss:bigint,firsts:string,lasts:string,"
        "last_day:string,p1:bigint,p2:bigint,p3:bigint,p4:bigint,p5:bigint,"
        "p6:bigint,p7:bigint>",
        "struct<lag_k:bigint,n_pairs:bigint,acf:double>",
    ),
    ("stateful", "ANOMALY_"): (
        "struct<hist:string>",
        "struct<event_id:bigint,user_id:bigint,x:bigint,n_history:bigint>",
    ),
    ("stateful", "BEACON_"): (
        "struct<last_ts_us:bigint,n_gaps:bigint,sum_gap_s:bigint,"
        "sum_gap2:bigint>",
        "struct<user_id:bigint,event_type:string,n_gaps:bigint,"
        "sum_gap_s:bigint,var_num:bigint,is_regular:boolean>",
    ),
    ("stateful", "BENFORD_"): (
        "struct<c1:bigint,c2:bigint,c3:bigint,c4:bigint,c5:bigint,c6:bigint,"
        "c7:bigint,c8:bigint,c9:bigint,c_zero:bigint,c_neg:bigint,"
        "c_null:bigint>",
        "struct<digit:string,observed:bigint,expected:double,"
        "chi2_term:double>",
    ),
    ("stateful", "BRIER_"): (
        "struct<n:bigint,n_pos:bigint,sum_p_bp:bigint,sq_err_num:bigint>",
        "struct<bin:bigint,n:bigint,n_pos:bigint,sum_p_bp:bigint,"
        "sq_err_num:bigint,mean_pred:double,obs_rate:double,brier:double>",
    ),
    ("stateful", "CUSUM_"): (
        "struct<n:bigint,warm:bigint,mu:bigint,sp:bigint,sn:bigint,mp:bigint,"
        "mn:bigint,alarm:bigint,last_day:string>",
        "struct<event_type:string,n_days:bigint,mu_cents:bigint,"
        "max_cusum_pos:bigint,max_cusum_neg:bigint,alarm_step:bigint>",
    ),
    ("stateful", "DEDUP_"): (
        "struct<doc_ids:array<bigint>,sigs:array<bigint>>",
        "struct<new_doc:bigint,match_doc:bigint,m:bigint>",
    ),
    ("stateful", "DISTINCT_"): (
        "struct<types_csv:string>",
        "struct<user_id:bigint,n_distinct_types:bigint>",
    ),
    ("stateful", "EWMA_CHART_"): (
        "struct<n:bigint,warm:bigint,mu:bigint,z:bigint,mx:bigint,"
        "alarm:bigint,last_day:string>",
        "struct<event_type:string,n_days:bigint,mu_cents:bigint,"
        "ewma_cents:bigint,max_excursion:bigint,alarm_step:bigint>",
    ),
    ("stateful", "EWMA_"): (
        "struct<hist:string>",
        "struct<event_id:bigint,user_id:bigint,ewma_num:bigint,"
        "ewma_den:bigint>",
    ),
    ("stateful", "FUNNEL_"): (
        "struct<t_view:bigint,t_click:bigint,t_purchase:bigint>",
        "struct<user_id:bigint,stage:bigint>",
    ),
    ("stateful", "GRANGER_"): (
        "struct<has_prev:boolean,prev_x:bigint,prev_y:bigint,m:bigint,"
        "su:bigint,sv:bigint,sy:bigint,suu:bigint,svv:bigint,syy:bigint,"
        "suv:bigint,suy:bigint,svy:bigint,last_day:string>",
        "struct<n_obs:bigint,b_lag_count:double,f_stat:double,"
        "sse_ratio:double>",
    ),
    ("stateful", "HH_"): (
        "struct<monitor_csv:string>",
        "struct<shard:bigint,user_id:bigint,est:bigint,err:bigint>",
    ),
    ("stateful", "HOLT_"): (
        "struct<level:bigint,trend:bigint,n_days:bigint,last_day:string>",
        "struct<event_type:string,n_days:bigint,level_cents:bigint,"
        "trend_cents:bigint,forecast_1d:bigint>",
    ),
    ("stateful", "KENDALL_"): (
        "struct<conc:bigint,disc:bigint,ties_x:bigint,ties_y:bigint,"
        "n_pairs:bigint,cur_week:bigint,week_buf:string,last_day:string>",
        "struct<n_pairs:bigint,conc:bigint,disc:bigint,ties_x:bigint,"
        "ties_y:bigint,tau_b:double>",
    ),
    ("stateful", "KS_"): (
        "struct<bins:array<bigint>,c1:array<bigint>,c2:array<bigint>>",
        "struct<n1:bigint,n2:bigint,d_num:bigint,ks_d:double>",
    ),
    ("stateful", "LATENESS_"): (
        "struct<hw_us:bigint>",
        "struct<event_id:bigint,user_id:bigint,event_type:string,"
        "late_us:bigint>",
    ),
    ("stateful", "PH_"): (
        "struct<n:bigint,s:bigint,mup:bigint,mnm:bigint,mdn:bigint,"
        "mxm:bigint,aup:bigint,adn:bigint,last_day:string>",
        "struct<event_type:string,n_days:bigint,ph_up:bigint,ph_down:bigint,"
        "alarm_up_step:bigint,alarm_down_step:bigint>",
    ),
    ("stateful", "SESSION_"): (
        "struct<session_no:bigint,start_us:bigint,last_us:bigint,"
        "n_events:bigint,sum_cents:bigint>",
        "struct<user_id:bigint,session_no:bigint,session_start:string,"
        "n_events:bigint,duration_secs:bigint,sum_cents:bigint>",
    ),
    ("stateful", "SRM_"): (
        "struct<n0:bigint,n1:bigint>",
        "struct<n_control:bigint,n_treatment:bigint,chi2:double,"
        "srm_flag:boolean>",
    ),
    ("stateful", ""): (
        "struct<n_events:bigint,sum_cents:bigint>",
        "struct<user_id:bigint,n_events:bigint,sum_cents:bigint,"
        "expired:boolean>",
    ),
    ("stateful", "TREND_DUO_"): (
        "struct<s_stat:bigint,closed_t1:bigint,closed_t2:bigint,"
        "n_days:bigint,cur_week:bigint,week_buf:string,slopes:string,"
        "last_day:string>",
        "struct<n_days:bigint,s_stat:bigint,var_num:bigint,z:double,"
        "is_significant:boolean,n_slopes:bigint,median_slope:double,"
        "is_downtrend:boolean>",
    ),
    ("pcap_stream", "FLOWLET_"): (
        "struct<seq:bigint,start_us:bigint,last_us:bigint,n:bigint,"
        "payload:bigint>",
        "struct<stream:bigint,flowlet_id:bigint,n_packets:bigint,"
        "payload_bytes:bigint,duration_s:double>",
    ),
    ("pcap_stream", "VN_"): (
        "struct<first_ft_us:bigint,first_version:bigint,vn_ft_us:bigint,"
        "retry_version:bigint,cand_ft_us:array<bigint>,"
        "cand_version:array<bigint>>",
        "struct<client:string,first_version:bigint,vn_received:bigint,"
        "retry_version:bigint,downgrade:bigint>",
    ),
}


@pytest.mark.parametrize("mod,prefix", sorted(_SCHEMAS),
                         ids=[f"{m}.{p}" for m, p in sorted(_SCHEMAS)])
def test_tracker_schemas_are_pinned(mod, prefix):
    m = importlib.import_module(f"wireduck_spark.streaming.{mod}")
    state, output = _SCHEMAS[(mod, prefix)]
    assert getattr(m, f"{prefix}STATE_SCHEMA").simpleString() == state
    assert getattr(m, f"{prefix}OUTPUT_SCHEMA").simpleString() == output


# ---------------------------------------------------------------------------
# pcap stream trackers, driven directly. Their end-to-end stream tests
# need the reference capture; these goldens pin the fold on any box.
# ---------------------------------------------------------------------------


def _records(out):
    return [{k: (None if isinstance(v, float) and math.isnan(v) else v)
             for k, v in r.items()} for r in out.to_dict("records")]


def test_flowlet_update_goldens():
    from wireduck_spark.streaming.pcap_stream import _flowlet_update

    def pkts(ts, fno, plen):
        return pd.DataFrame({"ts_us": ts, "fno": fno, "plen": plen})

    # Chunks arrive out of time order (plus an empty one): the group is
    # sorted once, so the 18 s gap after t=2 s closes flowlet 1 in-batch.
    st = _StubState()
    [out] = list(_flowlet_update((7,), [
        pkts([20_000_000, 21_500_000], [3, 4], [30, 40]),
        pkts([], [], []),
        pkts([2_000_000, 1_000_000], [2, 1], [20, 10]),
    ], st))
    assert _records(out) == [{"stream": 7, "flowlet_id": 1, "n_packets": 2,
                              "payload_bytes": 30, "duration_s": 1.0}]
    assert st.get == (2, 20_000_000, 21_500_000, 2, 70)

    # a 5.1 s gap in the next batch closes flowlet 2 from state
    [out] = list(_flowlet_update((7,), [pkts([26_600_000], [5], [50])], st))
    assert _records(out) == [{"stream": 7, "flowlet_id": 2, "n_packets": 2,
                              "payload_bytes": 70, "duration_s": 1.5}]
    assert st.get == (3, 26_600_000, 26_600_000, 1, 50)

    # a 1.4 s gap only extends the open flowlet: nothing is emitted
    [out] = list(_flowlet_update((7,), [pkts([28_000_000], [6], [60])], st))
    assert len(out) == 0
    assert list(out.columns) == [
        "stream", "flowlet_id", "n_packets", "payload_bytes", "duration_s"]
    assert st.get == (3, 26_600_000, 28_000_000, 2, 110)


def test_vn_update_goldens():
    from wireduck_spark.streaming.pcap_stream import (
        _QUIC_V2, _VN_CAND_CAP, _vn_update,
    )

    def pkts(ft, ver):
        return pd.DataFrame({"ft_us": ft, "version": ver,
                             "is_vn": [v == 0 for v in ver]})

    # v2 first Initial and the v1 retry land (chunks reversed) before
    # any VN: the retry stays a buffered candidate
    st = _StubState()
    [out] = list(_vn_update(("10.0.0.1",),
                            [pkts([300], [1]), pkts([100], [_QUIC_V2])], st))
    assert _records(out) == [{"client": "10.0.0.1", "first_version": _QUIC_V2,
                              "vn_received": 0, "retry_version": None,
                              "downgrade": 0}]
    assert st.get == (100, _QUIC_V2, -1, -1, [100, 300], [_QUIC_V2, 1])

    # the VN arrives one batch later and backfills the retry: downgrade
    [out] = list(_vn_update(("10.0.0.1",), [pkts([200], [0])], st))
    assert _records(out) == [{"client": "10.0.0.1", "first_version": _QUIC_V2,
                              "vn_received": 1, "retry_version": 1,
                              "downgrade": 1}]
    assert st.get == (100, _QUIC_V2, 200, 1, [], [])

    # an even earlier Initial takes over first_version; retry stays locked
    [out] = list(_vn_update(("10.0.0.1",), [pkts([50], [1])], st))
    assert _records(out) == [{"client": "10.0.0.1", "first_version": 1,
                              "vn_received": 1, "retry_version": 1,
                              "downgrade": 0}]
    assert st.get == (50, 1, 200, 1, [], [])

    # 40 VN-less Initials: the buffer keeps the earliest _VN_CAND_CAP
    st = _StubState()
    ft = list(range(1000, 1400, 10))[::-1]
    [out] = list(_vn_update(("10.0.0.2",),
                            [pkts(ft[:20], [1] * 20),
                             pkts(ft[20:], [1] * 20)], st))
    assert _records(out) == [{"client": "10.0.0.2", "first_version": 1,
                              "vn_received": 0, "retry_version": None,
                              "downgrade": 0}]
    assert _VN_CAND_CAP == 32
    assert st.get == (1000, 1, -1, -1, list(range(1000, 1320, 10)), [1] * 32)

    # a VN later than every candidate resolves no retry and clears them
    [out] = list(_vn_update(("10.0.0.2",), [pkts([995, 5000], [_QUIC_V2, 0])],
                            st))
    assert _records(out) == [{"client": "10.0.0.2", "first_version": _QUIC_V2,
                              "vn_received": 1, "retry_version": None,
                              "downgrade": 0}]
    assert st.get == (995, _QUIC_V2, 5000, -1, [], [])

    # a VN-only client has no first Initial yet: state, but no row
    st = _StubState()
    [out] = list(_vn_update(("10.0.0.3",), [pkts([10], [0])], st))
    assert len(out) == 0
    assert list(out.columns) == [
        "client", "first_version", "vn_received", "retry_version", "downgrade"]
    assert st.get == (-1, -1, 10, -1, [], [])
