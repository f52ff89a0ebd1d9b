"""Temporal operators: as-of join semantics (before/equal/none), interval
join counts, session-window boundaries."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.temporal import (
    asof_join,
    interval_join_count,
    sessionize,
)


def _ts(m, s=0):
    return dt.datetime(2024, 1, 1, 10, m, s)


def test_asof_join_semantics(spark):
    trades = spark.createDataFrame(
        [(1, "A", _ts(10)), (2, "A", _ts(20)), (3, "B", _ts(5)), (4, "C", _ts(30))],
        "trade_id long, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts(9), 100.0),   # before trade 1
            ("A", _ts(20), 105.0),  # exactly at trade 2 → matches (as-of)
            ("A", _ts(21), 110.0),  # after → never matched
            ("B", _ts(6), 50.0),    # after trade 3 → no match for B
        ],
        "sym string, ts timestamp, px double",
    )
    got = {
        r["trade_id"]: r["asof_px"]
        for r in asof_join(trades, quotes, ["sym"], "ts", ["px"]).collect()
    }
    assert got == {1: 100.0, 2: 105.0, 3: None, 4: None}


def test_asof_join_partition_independent(spark):
    left = spark.createDataFrame(
        [(i, i % 3, _ts(i)) for i in range(30)], "id long, k long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(i % 3, _ts(i, 30), float(i)) for i in range(0, 30, 2)],
        "k long, ts timestamp, v double",
    )
    a = sorted(asof_join(left, right, ["k"], "ts", ["v"]).collect())
    b = sorted(
        asof_join(left.repartition(7), right.repartition(3), ["k"], "ts", ["v"]).collect()
    )
    assert a == b


def test_interval_join_count(spark):
    errors = spark.createDataFrame(
        [(1, 7, _ts(0))], "event_id long, user_id long, ts timestamp"
    )
    clicks = spark.createDataFrame(
        [(7, _ts(0)), (7, _ts(30)), (7, dt.datetime(2024, 1, 1, 11, 0)), (7, dt.datetime(2024, 1, 1, 11, 1)), (8, _ts(10))],
        "user_id long, ts timestamp",
    )
    (r,) = interval_join_count(errors, clicks, ["user_id"], "ts", "1 hour").collect()
    # t=0 excluded (strictly after), 10:30 and 11:00 in, 11:01 out, user 8 out
    assert r["n_in_window"] == 2


def test_sessionize_gap(spark):
    ev = spark.createDataFrame(
        [
            (7, _ts(0)), (7, _ts(10)), (7, _ts(20)),   # session 1
            (7, dt.datetime(2024, 1, 1, 11, 0)),        # gap 40m → session 2
            (9, _ts(5)),
        ],
        "user_id long, ts timestamp",
    )
    rows = sorted(
        sessionize(ev).collect(),  # SESSION_GAP == "30 minutes"
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    assert [(r["user_id"], r["n_events"]) for r in rows] == [(7, 3), (7, 1), (9, 1)]
    s1 = rows[0]
    assert s1["session_start"] == _ts(0)
    assert s1["session_end"] == _ts(50)  # last event 10:20 + 30m gap


def test_asof_join_latest_null_value_wins(spark):
    quotes = spark.createDataFrame(
        [("A", _ts(9), 100.0), ("A", _ts(15), None)],
        "sym string, ts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [(1, "A", _ts(20))], "trade_id long, sym string, ts timestamp"
    )
    (r,) = asof_join(trades, quotes, ["sym"], "ts", ["px"]).collect()
    # latest right ROW (15:00, px=NULL) wins — not the stale 100.0
    assert r["asof_px"] is None


def test_event_funnel_semantics(spark):
    """Greedy earliest completion, strict order, window anchored at
    step 1 — including the no-vanish rule for keys whose later-step
    events are all out of order/window."""
    from datetime import datetime as dt

    from ocr_pipeline_spark.operators.temporal import event_funnel

    rows = [
        (1, dt(2026, 1, 1, 10), 1, "signup"),
        (2, dt(2026, 1, 2, 10), 1, "view"),
        (3, dt(2026, 1, 3, 10), 1, "purchase"),     # level 3
        (4, dt(2026, 1, 1, 10), 2, "signup"),
        (5, dt(2026, 1, 2, 10), 2, "purchase"),     # before view: no count
        (6, dt(2026, 1, 4, 10), 2, "view"),          # level 2
        (7, dt(2026, 1, 1, 10), 3, "signup"),        # level 1
        (8, dt(2026, 1, 1, 10), 4, "signup"),
        (9, dt(2026, 1, 10, 10), 4, "view"),         # out of 7d window: level 1
        (10, dt(2026, 1, 1, 10), 5, "view"),
        (11, dt(2026, 1, 2, 10), 5, "purchase"),     # never signed up: absent
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r["user_id"]: r["funnel_level"] for r in event_funnel(df).collect()}
    assert got == {1: 3, 2: 2, 3: 1, 4: 1}


def test_cohort_retention_offsets(spark):
    from datetime import datetime as dt

    from ocr_pipeline_spark.operators.temporal import cohort_retention

    rows = [
        (1, dt(2026, 1, 1), 1, "view"),
        (2, dt(2026, 1, 2), 1, "view"),    # same epoch week: one cell
        (3, dt(2026, 1, 9), 1, "view"),    # next week: offset 1
        (4, dt(2026, 1, 1), 2, "view"),    # same cohort, week 0 only
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_active"]
        for r in cohort_retention(df).collect()
    }
    offsets = {k[1]: v for k, v in got.items()}
    assert offsets == {0: 2, 1: 1}
    # offset-0 cell equals the cohort size by definition
    assert max(k[1] for k in got) == 1


def test_cohort_retention_floors_pre_1970_weeks(spark):
    """Epoch weeks floor like Python's // (and the t_retention oracle),
    so pre-1970 events fall in negative weeks instead of truncating
    toward week 0."""
    import math
    from datetime import datetime as dt
    from datetime import timezone

    from ocr_pipeline_spark.operators.temporal import cohort_retention

    utc = timezone.utc
    rows = [
        (1, dt(1969, 12, 31, 23, 0, tzinfo=utc), 1, "view"),
        (2, dt(1970, 1, 1, 0, 30, tzinfo=utc), 1, "view"),
        (3, dt(1969, 12, 31, 23, 59, 59, 500000, tzinfo=utc), 2, "view"),
        (4, dt(1969, 12, 20, tzinfo=utc), 3, "view"),
        (5, dt(1970, 1, 2, tzinfo=utc), 3, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_active"]
        for r in cohort_retention(df).collect()
    }
    weeks: dict[int, set[int]] = {}
    for _, ts, user, _ in rows:
        weeks.setdefault(user, set()).add(math.floor(ts.timestamp()) // 604800)
    want: dict[tuple[int, int], int] = {}
    for ws in weeks.values():
        for w in ws:
            key = (min(ws), w - min(ws))
            want[key] = want.get(key, 0) + 1
    assert got == want
    assert want == {(-1, 0): 2, (-1, 1): 1, (-2, 0): 1, (-2, 2): 1}
    # the DuckDB oracle floors the same way
    import duckdb

    import __spark_entry__ as entrymod

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?)",
        [(i, ts.replace(tzinfo=None), u) for i, ts, u, _ in rows],
    )
    oracle = con.execute(entrymod.oracle_sql()["t_retention"]).fetchall()
    assert {(w, o): n for w, o, n in oracle} == want


def test_event_funnel_randomized_matches_python_replay(spark):
    """Seeded random event streams: the chained-join funnel must agree
    with a direct Python replay of the greedy-earliest spec for every
    user (one Spark job, 60 users)."""
    import random
    from datetime import datetime as dt, timedelta

    from ocr_pipeline_spark.operators.temporal import event_funnel

    rng = random.Random(7)
    steps = ("signup", "view", "purchase")
    window = 7 * 86400
    rows = []
    eid = 0
    t0 = dt(2026, 1, 1)
    for uid in range(60):
        for _ in range(rng.randint(1, 12)):
            eid += 1
            rows.append(
                (
                    eid,
                    t0 + timedelta(seconds=rng.randint(0, 30 * 86400)),
                    uid,
                    rng.choice(steps + ("click", "error")),
                )
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        r["user_id"]: r["funnel_level"] for r in event_funnel(df).collect()
    }

    per_user = {}
    for _, ts, uid, et in rows:
        per_user.setdefault(uid, []).append((int(ts.timestamp()), et))
    want = {}
    for uid, evs in per_user.items():
        s1 = [e for e, t in evs if t == steps[0]]
        if not s1:
            continue
        t1 = min(s1)
        level, prev = 1, t1
        for step in steps[1:]:
            cand = [
                e
                for e, t in evs
                if t == step and e > prev and e <= t1 + window
            ]
            if not cand:
                break
            prev = min(cand)
            level += 1
        want[uid] = level
    assert got == want


def test_session_values_money_fold(spark):
    from datetime import datetime as dt

    from ocr_pipeline_spark.operators.temporal import session_values

    rows = [
        (1, dt(2026, 1, 1, 10, 0), 1, "view", 1.10),
        (2, dt(2026, 1, 1, 10, 10), 1, "purchase", 2.25),
        (3, dt(2026, 1, 1, 12, 0), 1, "view", 0.40),   # new session
        (4, dt(2026, 1, 1, 10, 5), 2, "view", 5.00),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = sorted(
        (r["user_id"], r["n_events"], r["session_value"])
        for r in session_values(df).collect()
    )
    assert got == [(1, 1, 0.40), (1, 2, 3.35), (2, 1, 5.00)]


def test_ewma_values_fold_and_ties(spark):
    from datetime import datetime as dt

    from ocr_pipeline_spark.operators.temporal import ewma_values

    rows = [
        (1, dt(2026, 1, 1, 10), 1, "v", 1.0),
        (2, dt(2026, 1, 1, 11), 1, "v", 2.0),
        (3, dt(2026, 1, 1, 12), 1, "v", 3.0),
        # same-timestamp tie for user 2: event_id breaks it (5 then 6)
        (5, dt(2026, 1, 1, 9), 2, "v", 10.0),
        (6, dt(2026, 1, 1, 9), 2, "v", 0.0),
        # same second for user 3, sub-second order inverted against
        # event_id: the raw ts orders the fold (8 then 7), as the
        # t_ewma oracle's ORDER BY ts, event_id does
        (7, dt(2026, 1, 1, 9, 0, 0, 900000), 3, "v", 0.0),
        (8, dt(2026, 1, 1, 9, 0, 0, 100000), 3, "v", 10.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in ewma_values(df).collect()
    }
    assert got[1] == (3, 1.56)      # 1 -> 1.2 -> 1.56 at alpha 0.2
    assert got[2] == (2, 8.0)       # 10 -> 10 + 0.2*(0-10) = 8.0
    assert got[3] == (2, 8.0)       # 10 first, not 0 -> 2.0
    # partition independence
    b = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in ewma_values(df.repartition(5)).collect()
    }
    assert b == got
