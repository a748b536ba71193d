"""As-of join semantics: latest right row at-or-before each left row,
per key, left-join nulls when nothing precedes."""

from __future__ import annotations

from pyspark.sql import functions as F

from graph_loom_spark.ops.events import asof_join


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "l1"), (1, 20, "l2"), (2, 5, "l3"), (3, 7, "l4")],
        "k int, ts int, lval string",
    )
    right = spark.createDataFrame(
        [(1, 10, "r@10"), (1, 15, "r@15"), (1, 25, "r@25"), (2, 6, "r@6")],
        "k int, ts int, rval string",
    )
    out = {
        r["lval"]: (r["__asof_ts"], r["rval"])
        for r in asof_join(left, right, on=["k"], ts_col="ts").collect()
    }
    assert out["l1"] == (10, "r@10")  # exact-timestamp right row matches
    assert out["l2"] == (15, "r@15")  # latest at-or-before, not the later r@25
    assert out["l3"] == (None, None)  # right row is later → left-join nulls
    assert out["l4"] == (None, None)  # key with no right rows at all
    assert len(out) == 4


def test_funnel_first_match_ordering(spark):
    from graph_loom_spark.ops.events import funnel

    rows = [
        # u1 completes view->click->purchase in order
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:05:00", 1, "click"),
        (3, "2024-01-01 10:10:00", 1, "purchase"),
        # u2 clicks BEFORE viewing; later click counts, purchase missing
        (4, "2024-01-01 09:00:00", 2, "click"),
        (5, "2024-01-01 10:00:00", 2, "view"),
        (6, "2024-01-01 11:00:00", 2, "click"),
        # u3 views only
        (7, "2024-01-01 08:00:00", 3, "view"),
        # u4 purchases with no view: not in funnel at all
        (8, "2024-01-01 08:00:00", 4, "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {r["step"]: r["n_users"] for r in funnel(ev).collect()}
    assert got == {1: 3, 2: 2, 3: 1}


def test_retention_cohorts_offsets(spark):
    from graph_loom_spark.ops.events import retention_cohorts

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-03 10:00:00", 1, "view"),   # offset 2
        (3, "2024-01-01 23:59:00", 2, "view"),
        (4, "2024-01-02 00:01:00", 2, "view"),   # offset 1
        (5, "2024-01-02 05:00:00", 3, "view"),   # separate cohort
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (str(r["cohort_day"]), r["day_offset"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-01", 1): 1,
        ("2024-01-02", 0): 1,
    }


def test_user_extreme_events_zscore(spark):
    from graph_loom_spark.ops import events as ops_events

    rows = [
        # user 1: values 1,1,1,10 -> mean 3.25, std_samp 4.5 -> z(10)=1.5
        (1, 1, 1.0), (2, 1, 1.0), (3, 1, 1.0), (4, 1, 10.0),
        (5, 2, 7.0),              # single event: stddev undefined -> skipped
        (6, 3, 2.0), (7, 3, 2.0), # zero variance -> skipped
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, value double")
    out = ops_events.user_extreme_events(df, k=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["user_id"], r["event_id"], r["value"]) == (1, 4, 10.0)
    assert r["z"] == 1.5


def test_attribution_summary_matches_python_replay(spark):
    """The 1-row attribution scoreboard must equal a driver-side exact
    replay of last-touch semantics (max-event-id dedup at equal ts,
    at-or-before match, int64 us lag / cents value)."""
    from graph_loom_spark.ops import events as E

    ev = E.load_events(spark, "/root/testdata/sf0.001/events.parquet")
    got = E.attribution_summary(ev).collect()[0]
    rows = ev.select("event_id", "user_id", "ts", "event_type", "value").collect()
    clicks: dict = {}
    for r in rows:
        if r["event_type"] == "click":
            key = (r["user_id"], r["ts"])
            clicks[key] = max(clicks.get(key, -1), r["event_id"])
    by_user: dict = {}
    for (u, ts), eid in clicks.items():
        by_user.setdefault(u, []).append((ts, eid))
    n = n_attr = lag = cents = 0
    import math

    for r in rows:
        if r["event_type"] != "purchase":
            continue
        n += 1
        cands = [(ts, eid) for ts, eid in by_user.get(r["user_id"], []) if ts <= r["ts"]]
        if not cands:
            continue
        cts, _eid = max(cands)
        n_attr += 1
        d = r["ts"] - cts
        lag += (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
        cents += int(math.floor(r["value"] * 100 + 0.5))
    assert (got["n_conversions"], got["n_attributed"]) == (n, n_attr)
    assert got["attribution_rate"] == round(n_attr / n, 6)
    assert got["sum_lag_us"] == lag
    assert got["attributed_value_cents"] == cents


def test_event_transitions_matches_python_replay(spark):
    """X125: transition counts and row-normalized probs vs a pure-Python
    replay over the same (ts, event_id)-ordered per-user streams."""
    from collections import Counter, defaultdict

    from graph_loom_spark.ops import events as E

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["prob"])
        for r in E.event_transitions(ev).collect()
    }
    rows = ev.select("user_id", "ts", "event_id", "event_type").collect()
    byu = defaultdict(list)
    for r in rows:
        byu[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    n = Counter()
    for seq in byu.values():
        seq.sort(key=lambda t: (t[0], t[1]))
        for a, b in zip(seq, seq[1:]):
            n[(a[2], b[2])] += 1
    tot = Counter()
    for (f, _t2), c in n.items():
        tot[f] += c
    want = {k: (c, round(c / tot[k[0]], 6)) for k, c in n.items()}
    assert got == want
    # probabilities row-normalize
    from collections import defaultdict as dd
    sums = dd(float)
    for (f, _), (_, p) in got.items():
        sums[f] += p
    assert all(abs(s - 1.0) < 1e-4 for s in sums.values())


def test_rfm_segments_planted_quintiles(spark):
    """X132: user k (k=1..5) has k events, value k each (monetary k²
    cents·100), and a later last-ts for larger k — so f_q = m_q = k and
    r_q = 6−k (user 5 is most recent). Codes are rank-based with
    strictly-smaller counting; 5 distinct values over n=5 → one user
    per quintile."""
    import datetime

    from graph_loom_spark.ops.events import rfm_segments

    t0 = datetime.datetime(2026, 1, 1)
    rows = []
    eid = 0
    for k in range(1, 6):
        for i in range(k):
            eid += 1
            rows.append((eid, t0 + datetime.timedelta(minutes=k, seconds=i), k, "e", float(k)))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["user_id"]: r for r in rfm_segments(ev).collect()}
    for k in range(1, 6):
        r = out[k]
        assert r["frequency"] == k
        assert r["monetary_cents"] == k * k * 100
        assert (r["r_q"], r["f_q"], r["m_q"]) == (6 - k, k, k)
        assert r["rfm_code"] == (6 - k) * 100 + k * 10 + k
    # recency is µs vs the corpus max (user 5's last event)
    assert out[5]["recency_us"] == 0
    assert out[4]["recency_us"] == (60 + 1) * 1_000_000  # 1 min − 1 s earlier


def test_rfm_equal_metrics_share_buckets_no_global_window(spark):
    """Users with identical metrics get identical codes (strictly-
    smaller counting — never an arbitrary NTILE split), and the plan
    contains no unpartitioned window (every Window partitions by the
    range bucket)."""
    import datetime

    from graph_loom_spark.ops.events import rfm_segments

    t0 = datetime.datetime(2026, 1, 1)
    rows = [
        (1, t0, 10, "e", 5.0),
        (2, t0, 20, "e", 5.0),  # identical metrics as user 10
        (3, t0 + datetime.timedelta(hours=1), 30, "e", 9.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df = rfm_segments(ev)
    out = {r["user_id"]: r for r in df.collect()}
    assert (out[10]["r_q"], out[10]["f_q"], out[10]["m_q"]) == (
        out[20]["r_q"], out[20]["f_q"], out[20]["m_q"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__b" in line, f"unpartitioned window: {line}"


def test_markov_entropy_planted(spark):
    """X151: user A views→clicks→purchases, user B views→clicks→views:
    state 'view' always goes to 'click' (row entropy 0); 'click' splits
    50/50 (row entropy ln 2); shares are 2/4 each, so the entropy rate
    Σ contribution = ln2/2."""
    import datetime
    import math

    from graph_loom_spark.ops.events import markov_entropy

    t0 = datetime.datetime(2026, 1, 1)

    def at(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        (1, at(0), 1, "view", 0.0), (2, at(1), 1, "click", 0.0),
        (3, at(2), 1, "purchase", 9.0),
        (4, at(0), 2, "view", 0.0), (5, at(1), 2, "click", 0.0),
        (6, at(2), 2, "view", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["from_type"]: r for r in markov_entropy(ev).collect()}
    assert set(out) == {"view", "click"}
    v = out["view"]
    assert (v["n_steps"], v["n_targets"], v["row_entropy"]) == (2, 1, 0.0)
    assert math.copysign(1.0, v["row_entropy"]) > 0
    c = out["click"]
    assert (c["n_steps"], c["n_targets"]) == (2, 2)
    assert c["row_entropy"] == round(math.log(2), 6)
    assert c["step_share"] == 0.5
    assert c["contribution"] == round(0.5 * math.log(2), 6)


def test_gini_user_activity_planted(spark):
    """X146: counts [1,1,1,97] → Σi·x = 1+2+3+4·97 = 394,
    G = 2·394/(4·100) − 5/4 = 0.72; uniform counts → exactly 0.0
    (and +0.0, never -0.0 — the signed-zero class)."""
    import datetime
    import math

    from graph_loom_spark.ops.events import gini_user_activity

    t0 = datetime.datetime(2026, 1, 1)
    rows = []
    eid = 0
    for u, n in [(1, 1), (2, 1), (3, 1), (4, 97)]:
        for i in range(n):
            eid += 1
            rows.append((eid, t0, u, "e", 1.0))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    r = gini_user_activity(ev).collect()[0]
    assert (r["n_users"], r["total_events"], r["gini"]) == (4, 100, 0.72)

    even = spark.createDataFrame(
        [(i, t0, i % 4, "e", 1.0) for i in range(8)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    g = gini_user_activity(even).collect()[0]["gini"]
    assert g == 0.0 and math.copysign(1.0, g) > 0


def test_user_burstiness_planted(spark):
    """X147: periodic user → B = −1; a 1s/100s gap pair → μ = 50.5s,
    σ = 49.5s, B = −0.01 (nearly periodic in CV terms); single-event
    and zero-gap users keep NULL stats."""
    import datetime

    from graph_loom_spark.ops.events import user_burstiness

    t0 = datetime.datetime(2026, 1, 1)

    def at(sec):
        return t0 + datetime.timedelta(seconds=sec)

    rows = (
        [(i, at(10 * i), 1, "e", 1.0) for i in range(4)]        # periodic
        + [(10, at(0), 2, "e", 1.0), (11, at(1), 2, "e", 1.0),
           (12, at(101), 2, "e", 1.0)]                          # 1s + 100s
        + [(20, at(5), 3, "e", 1.0)]                            # singleton
        + [(30, at(7), 4, "e", 1.0), (31, at(7), 4, "e", 1.0)]  # zero gap
    )
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["user_id"]: r for r in user_burstiness(ev).collect()}
    assert out[1]["burstiness"] == -1.0
    assert (out[1]["mean_gap_us"], out[1]["std_gap_us"]) == (10_000_000, 0)
    assert out[2]["mean_gap_us"] == 50_500_000
    assert out[2]["std_gap_us"] == 49_500_000
    assert out[2]["burstiness"] == -0.01
    assert out[3]["n_events"] == 1 and out[3]["mean_gap_us"] is None
    assert out[3]["burstiness"] is None
    assert (out[4]["span_us"], out[4]["mean_gap_us"], out[4]["std_gap_us"]) == (0, 0, 0)
    assert out[4]["burstiness"] is None


def test_rfm_pin_is_owned_by_the_callers_scope(spark):
    """rfm_segments' per-user checkpoint, which its result reads, is
    pinned like any op result: forced inside a caller's scope it gives
    the rows it gives with no scope open, and the scope's exit frees it."""
    import datetime

    from graph_loom_spark.graph import scratch
    from graph_loom_spark.ops import events as ev_ops

    persisted = lambda: set(dict(spark.sparkContext._jsc.getPersistentRDDs()))  # noqa: E731
    t0 = datetime.datetime(2026, 1, 1)
    ev = spark.createDataFrame(
        [(1, t0, 10, "e", 5.0), (2, t0, 20, "e", 7.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    want = sorted(ev_ops.rfm_segments(ev).collect())  # no scope: the caller's to free
    before = persisted()
    with scratch(spark) as s:
        assert sorted(ev_ops.rfm_segments(ev).collect()) == want
        assert s.rdd_ids and set(s.rdd_ids) <= persisted() - before
    assert persisted() <= before


def test_rfm_matches_python_replay_random(spark):
    """X132 vs a pure-Python replay on a seeded random event stream:
    identical cents flooring, µs recency, and strictly-smaller quantile
    codes for every user."""
    import datetime
    import random

    from graph_loom_spark.ops.events import rfm_segments

    rng = random.Random(11)
    t0 = datetime.datetime(2026, 3, 1)
    rows = []
    for eid in range(200):
        uid = rng.randrange(17)
        ts = t0 + datetime.timedelta(seconds=rng.randrange(100_000))
        rows.append((eid, ts, uid, "e", rng.uniform(0, 50)))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    # python replay
    import math

    per = {}
    for _, ts, uid, _, val in rows:
        r = per.setdefault(uid, {"last": ts, "n": 0, "cents": 0})
        r["last"] = max(r["last"], ts)
        r["n"] += 1
        r["cents"] += math.floor(val * 100 + 0.5)
    mx = max(r["last"] for r in per.values())
    users = {
        uid: (
            int((mx - r["last"]).total_seconds() * 1_000_000),
            r["n"],
            r["cents"],
        )
        for uid, r in per.items()
    }
    n = len(users)

    def q(vals, v):
        return 1 + (sum(1 for x in vals if x < v) * 5) // n

    expect = {}
    for uid, (rec, freq, mon) in users.items():
        rq = q([u[0] for u in users.values()], rec)
        fq = q([u[1] for u in users.values()], freq)
        mq = q([u[2] for u in users.values()], mon)
        expect[uid] = (rec, freq, mon, rq, fq, mq, rq * 100 + fq * 10 + mq)
    got = {
        r["user_id"]: (
            r["recency_us"], r["frequency"], r["monetary_cents"],
            r["r_q"], r["f_q"], r["m_q"], r["rfm_code"],
        )
        for r in rfm_segments(ev).collect()
    }
    assert got == expect


def test_active_users_planted(spark):
    """X139: users 1,2 active day 1; user 1 again day 3; user 3 day 10
    (outside the 7-day window of days 1-3). DAU/WAU/stickiness are
    hand-computed."""
    import datetime

    from graph_loom_spark.ops.events import active_users

    d = lambda n, h=0: datetime.datetime(2026, 1, n, h)  # noqa: E731
    rows = [
        (1, d(1), 1, "e", 0.0), (2, d(1, 5), 2, "e", 0.0),
        (3, d(3), 1, "e", 0.0),
        (4, d(10), 3, "e", 0.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {r["day"]: (r["dau"], r["wau"], r["stickiness_micro"])
           for r in active_users(ev).collect()}
    # day 1: dau {1,2}; wau = users in [dec 26..jan 1] = {1,2}
    assert out["2026-01-01"] == (2, 2, 1_000_000)
    # day 3: dau {1}; wau = activity in [dec 28..jan 3] = {1,2}
    assert out["2026-01-03"] == (1, 2, 500_000)
    # day 10: dau {3}; window [jan 4..10] = {3} only (day-3 event ages out)
    assert out["2026-01-10"] == (1, 1, 1_000_000)
    # only days with events report
    assert set(out) == {"2026-01-01", "2026-01-03", "2026-01-10"}


def test_cohort_ltv_planted(spark):
    """X141: user 1 first touches Jan 1 (cohort A) and returns in age
    week 1; user 2 joins cohort A same day; cumulative value accrues
    along the age axis in exact cents."""
    import datetime

    from graph_loom_spark.ops.events import cohort_ltv

    d = lambda n: datetime.datetime(2026, 1, n)  # noqa: E731
    rows = [
        (1, d(1), 1, "e", 1.00),
        (2, d(1), 2, "e", 2.00),
        (3, d(9), 1, "e", 0.50),   # age (9-1)//7 = 1 week
        (4, d(2), 3, "e", 4.005),  # cohort Jan 2; floor(400.5+0.5)=401
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {(r["cohort_day"], r["age_weeks"]): (
        r["n_active_users"], r["value_cents"], r["cum_value_cents"])
        for r in cohort_ltv(ev).collect()}
    assert out[("2026-01-01", 0)] == (2, 300, 300)
    assert out[("2026-01-01", 1)] == (1, 50, 350)   # cumulative
    assert out[("2026-01-02", 0)] == (1, 401, 401)
    assert len(out) == 3
