"""Temporal joins & windows: as-of join, interval (range) join, session
windows.

Spark has no built-in as-of join (the operator the prompt class of
time-series pipelines always needs: "latest right-side value at or
before each left timestamp, per key"). The scalable construction here is
the union-window trick — ONE shuffle on (key), no per-row Python:

    tag left/right rows → unionByName → window per key ordered by
    (ts, right-first) → last_value(right payload, ignore nulls) →
    keep left rows.

This beats the naive inequality join (which Spark executes as a
broadcast-nested-loop or a sort-merge with residual filter over the full
cross-per-key space): the window pass is O(n log n) per key and never
materializes candidate pairs.

Interval joins DO map to Spark's join executor (equi key + range
residual), kept here as the reference pattern. Session windows use the
built-in ``F.session_window`` (gap-based), which works in batch and
streaming alike.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "asof_join",
    "interval_join_count",
    "sessionize",
    "event_funnel",
    "cohort_retention",
    "session_values",
    "ewma_values",
]

# Inactivity gap that ends a session, event_funnel's ordered steps and
# its window from the first step, and ewma_values' smoothing factor in
# basis points.
SESSION_GAP = "30 minutes"
FUNNEL_STEPS = ("signup", "view", "purchase")
FUNNEL_WINDOW_S = 7 * 86400
EWMA_ALPHA_BP = 2000


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
) -> DataFrame:
    """For each left row: the ``value_cols`` of the LATEST right row with
    right.ts <= left.ts and equal keys (null if none). Output = all left
    columns + value_cols.

    Ties at identical timestamps resolve right-row-first (the as-of
    convention: a quote at exactly the trade time matches)."""
    # right payloads ride in ONE struct: the struct itself is the
    # "a right row exists" marker (non-null even when every value field
    # is null), so last(ignorenulls) matches the latest right ROW — a
    # latest row whose value is NULL yields NULL, never a stale earlier
    # value (the DuckDB ASOF JOIN semantic).
    vals = F.struct(*[F.col(c).alias(c) for c in value_cols])
    l_tag = left.select(
        *key_cols,
        ts_col,
        F.lit(1).alias("_side"),
        F.lit(None).cast(
            right.select(vals.alias("_vals")).schema["_vals"].dataType
        ).alias("_vals"),
        F.struct(*left.columns).alias("_row"),
    )
    r_tag = right.select(
        *key_cols,
        ts_col,
        F.lit(0).alias("_side"),
        vals.alias("_vals"),
        F.lit(None).cast(l_tag.schema["_row"].dataType).alias("_row"),
    )
    u = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        "_side",
        "_row",
        F.last("_vals", ignorenulls=True).over(w).alias("_vals"),
    )
    return filled.filter(F.col("_side") == 1).select(
        *[F.col(f"_row.{c}").alias(c) for c in left.columns],
        *[F.col(f"_vals.{c}").alias(f"asof_{c}") for c in value_cols],
    )


def interval_join_count(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str,
    window: str = "1 hour",
) -> DataFrame:
    """Per left row: how many right rows share the keys and fall in
    (left.ts, left.ts + window]. Executes as an equi-join on the keys
    with a range residual — Catalyst keeps it a hash/sort-merge join,
    never a cross product.

    Contract: left rows must be distinct (include a unique id column) —
    the count regroups by all left columns, so duplicate left rows would
    collapse into one output row with a summed count."""
    lt = F.col(f"l.{ts_col}")
    rt = F.col(f"r.{ts_col}")
    joined = left.alias("l").join(
        right.alias("r"),
        [F.col(f"l.{k}") == F.col(f"r.{k}") for k in key_cols]
        + [rt > lt, rt <= lt + F.expr(f"INTERVAL {window}")],
        "left",
    )
    return joined.groupBy(
        *[F.col(f"l.{c}").alias(c) for c in left.columns]
    ).agg(F.count(F.col(f"r.{ts_col}")).alias("n_in_window"))


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessions per key (built-in session_window — works on a
    stream with a watermark too). Session end = last event +
    SESSION_GAP."""
    return (
        events.groupBy(
            F.session_window(F.col("ts"), SESSION_GAP).alias("sw"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def event_funnel(events: DataFrame) -> DataFrame:
    """Ordered-funnel analysis (the windowFunnel of event-analytics
    engines — ClickHouse windowFunnel, Amplitude funnels): per key, the
    number of ``FUNNEL_STEPS`` completed IN ORDER within
    ``FUNNEL_WINDOW_S`` of the first step, using greedy
    earliest-completion semantics — step k is satisfied by the EARLIEST
    step-k event strictly after the chosen step-(k-1) event and within
    the window anchored at step 1.

    Output: (key, funnel_level, t1..tN epoch-second bigints, NULL past
    the reached level) — one row per key that performed step 1;
    funnel_level in 1..len(FUNNEL_STEPS).

    Scale shape: one filtered groupBy per step (map-side min over
    (key, epoch) shorts) chained by equi-joins on the key — no window
    over the raw event stream, no per-key event materialization;
    len(FUNNEL_STEPS) shuffles of key-sized frames. Greedy-earliest is the
    standard semantics because it is prefix-monotone: a user's level
    never depends on events after their window.

    DuckDB oracle: `q: t_funnel` (same CTE chain, same strict
    inequalities, epoch-second integers on both sides).
    """
    # NTZ -> TIMESTAMP -> long = UTC epoch seconds (session timezone
    # is pinned to UTC in session.get_spark, so this matches DuckDB's
    # epoch() exactly; Spark 4 refuses the direct NTZ->BIGINT cast)
    ep = F.col("ts").cast("timestamp").cast("long")
    base = events.select(
        F.col("user_id").alias("k"),
        F.col("event_type").alias("et"),
        ep.alias("e"),
    )
    cur = (
        base.filter(F.col("et") == FUNNEL_STEPS[0])
        .groupBy("k")
        .agg(F.min("e").alias("t1"))
    )
    for i, step in enumerate(FUNNEL_STEPS[1:], start=2):
        nxt = base.filter(F.col("et") == step).select(
            "k", F.col("e").alias("_e")
        )
        # when()-null instead of filter: a key whose step-i events are
        # all out of order/window must KEEP its row (min over all-null
        # = NULL = level stops here), never vanish from the funnel. A
        # NULL t_{i-1} propagates NULL through the comparison, so
        # levels can never skip a gap.
        cur = (
            cur.join(nxt, "k", "left")
            .select(
                "k",
                *[f"t{j}" for j in range(1, i)],
                F.when(
                    (F.col("_e") > F.col(f"t{i - 1}"))
                    & (
                        F.col("_e")
                        <= F.col("t1") + F.lit(FUNNEL_WINDOW_S)
                    ),
                    F.col("_e"),
                ).alias("_v"),
            )
            .groupBy("k", *[f"t{j}" for j in range(1, i)])
            .agg(F.min("_v").alias(f"t{i}"))
        )
    # funnel_level counts the non-null prefix (gaps cannot be skipped
    # by construction above)
    lvl = F.lit(1)
    for i in range(2, len(FUNNEL_STEPS) + 1):
        lvl = lvl + F.col(f"t{i}").isNotNull().cast("long")
    return cur.select(
        F.col("k").alias("user_id"),
        lvl.cast("long").alias("funnel_level"),
        *[F.col(f"t{i}").cast("long").alias(f"t{i}") for i in range(1, len(FUNNEL_STEPS) + 1)],
    )


def cohort_retention(
    events: DataFrame,
) -> DataFrame:
    """Cohort retention matrix — the other event-analytics staple: keys
    are cohorted by the epoch-week of their FIRST event; each later
    active epoch-week contributes to (cohort_week, week_offset,
    n_active). Epoch weeks are epoch_seconds floor-divided by 604800 in
    integer math (pre-1970 weeks are negative, as Python's ``//``) —
    pure integer bucketing, no calendar/timezone/week-start dialect to
    drift between engines.

    Output: (cohort_week, week_offset, n_active) with week_offset >= 0
    and the offset-0 cell = cohort size (every key is active in its
    first week by definition).

    Scale shape: first-event cohorting is one groupBy(key) min; the
    activity set is a distinct over (key, week) shorts; one equi-join
    on the key and a final small groupBy — all short-key shuffles with
    map-side partials.

    DuckDB oracle: `q: t_retention`.
    """
    base = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").cast("timestamp").cast("long").alias("e"),
    ).select("k", F.expr("(e - pmod(e, 604800)) div 604800").alias("w"))
    cohort = base.groupBy("k").agg(F.min("w").alias("cw"))
    active = base.distinct()
    return (
        active.join(cohort, "k")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.countDistinct("k").cast("long").alias("n_active"))
    )


def session_values(events: DataFrame) -> DataFrame:
    """Per-session value rollup — sessionize + the money recipe in one
    aggregation (the "session revenue" rollup of product analytics):
    same gap-window semantics as :func:`sessionize`, plus the session's
    value sum as decimal(18,2) → round(2) → double so both engines fold
    money identically (the q-family recipe).

    Output: (key, session_start, session_end, n_events, session_value).
    """
    return (
        events.groupBy(
            F.session_window(F.col("ts"), SESSION_GAP).alias("sw"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")), 2
            )
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def ewma_values(events: DataFrame) -> DataFrame:
    """Per-key exponentially-weighted moving average of a value stream
    in event-time order — the streaming-metrics smoother (alerting
    baselines, per-user spend trend) expressed as ONE deterministic
    sequential left fold per key:

        s_1 = x_1;   s_i = s_{i-1} + alpha * (x_i - s_{i-1})

    with alpha = EWMA_ALPHA_BP / 10000. The fold runs over the key's
    time-ordered value array (sort_array over collect_list of
    (ts, id, value) structs, ts at full precision — the
    deterministic-order recipe; ties break by the id column), and the
    oracle replays the IDENTICAL operand order via DuckDB's list_reduce
    over list(value ORDER BY ts, id), so every intermediate double is
    bit-equal (the CLAUDE.md sequential-left-fold rule). Output ewma is
    round(.,4) + 0.0.

    Output: (key, n_events, last_ts epoch-seconds bigint, ewma double).

    Scale contract: one shuffle on the key; each key's value array
    materializes on one task — EWMA is inherently sequential and
    NON-mergeable, so the per-key event count must fit a task (same
    per-group memory contract as epoch_shuffle's shards; for unbounded
    keys, window the stream first and chain EWMAs across windows
    driver-side).
    """
    alpha = EWMA_ALPHA_BP / 10000.0
    arr = (
        events.select(
            F.col("user_id").alias("k"),
            F.struct(
                F.col("ts").cast("timestamp").alias("ts"),
                F.col("event_id").alias("i"),
                F.col("value").cast("double").alias("v"),
            ).alias("s"),
        )
        .groupBy("k")
        .agg(F.sort_array(F.collect_list("s")).alias("ss"))
        .select(
            "k",
            F.size("ss").cast("long").alias("n_events"),
            F.element_at("ss", -1)["ts"].cast("long").alias("last_ts"),
            F.transform(F.col("ss"), lambda s: s["v"]).alias("vs"),
        )
    )
    fold = F.aggregate(
        F.slice(F.col("vs"), 2, F.greatest(F.size("vs") - 1, F.lit(0))),
        F.element_at("vs", 1),
        lambda acc, x: acc + F.lit(alpha) * (x - acc),
    )
    return arr.select(
        F.col("k").alias("user_id"),
        "n_events",
        "last_ts",
        (F.round(fold, 4) + F.lit(0.0)).alias("ewma"),
    )
