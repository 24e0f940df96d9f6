"""Batch sessionization and rolling time-window aggregates.

``transform::session_window`` covers the STREAMING session shape
(state + watermark); these are the batch-side equivalents over an
already-landed event table — one keyed shuffle plus window passes, no
state store. YAML-callable inside ``transform::generic`` as
``sessions.sessionize`` / ``sessions.rolling``.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from getl_spark.common.scale import keys_of, local_df, pin

_ALLOWED_AGGS = ("sum", "avg", "min", "max", "count")


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap_seconds: int = 1800,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign a per-key session index to each event: a new session
    starts whenever the gap to the key's previous event exceeds
    ``gap_seconds`` (the classic inactivity-gap definition — identical
    semantics to streaming ``session_window``, computed in batch).
    Adds ``session_col`` (1-based bigint per key).

    One hash shuffle on the keys, then two window passes (lag + running
    sum) over the same partitioning — Catalyst reuses the sort. Result
    is deterministic even with tied timestamps: equal timestamps have
    gap 0 and always share a session, and the running-sum value at a
    row doesn't depend on how the sort broke the tie.
    """
    if gap_seconds <= 0:
        raise ValueError("sessionize: gap_seconds must be > 0")
    # microsecond precision: unix_timestamp() truncates to whole
    # seconds, which silently merges sessions split by a gap that
    # crosses a second boundary by less than 1 s. The window orders by
    # the SAME expression the gap uses — ordering by the raw column
    # would sort string timestamps lexicographically and hand lag() a
    # non-chronological neighbor
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(*key_cols).orderBy(ts_us)
    prev = F.lag(ts_us).over(w)
    new_session = (
        prev.isNull() | ((ts_us - prev) > F.lit(int(gap_seconds) * 1_000_000))
    ).cast("bigint")
    return df.withColumn(
        session_col,
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def rolling(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    window_seconds: int,
    partition_cols: Optional[List[str]] = None,
    aggs: Sequence[str] = ("sum",),
) -> DataFrame:
    """Rolling time-range aggregates: for every event, aggregate
    ``value_col`` over the trailing ``window_seconds`` (inclusive of
    the current row) within its partition — "volume in the last hour
    per user" as columns ``roll_<agg>``. A RANGE window frame on the
    epoch seconds, so irregular event spacing is handled exactly (no
    bucketing artifacts); the cost is one keyed shuffle + one sorted
    window pass regardless of how many aggs are requested.
    """
    if window_seconds <= 0:
        raise ValueError("rolling: window_seconds must be > 0")
    bad = [a for a in aggs if a not in _ALLOWED_AGGS]
    if bad:
        raise ValueError(f"rolling: unknown aggs {bad}; allowed {_ALLOWED_AGGS}")
    w = (
        Window.partitionBy(*(partition_cols or []))
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-int(window_seconds) * 1_000_000, 0)
    )
    out = df
    for agg in aggs:
        expr = getattr(F, agg)(F.col(value_col)).over(w)
        if agg == "avg":
            expr = F.round(expr, 6)
        out = out.withColumn(f"roll_{agg}", expr)
    return out


def funnel(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: Optional[float] = None,
    max_events_per_user: int = 100_000,
) -> DataFrame:
    """Ordered conversion funnel: how many users performed ``steps``
    in sequence — each step's event at-or-after the previous step's
    chosen event (the standard sequential-min semantics: the earliest
    qualifying event is chosen at every stage, which maximizes later
    conversion and is exactly what the equivalent SQL of chained
    ``MIN(ts) >= prev`` computes). ``within_seconds`` additionally
    requires every later step to land within that horizon of the
    step-1 event.

    Returns one row per step: ``(step_index, step, users,
    pct_of_first, pct_of_prev)``.

    Scale shape (100 TB of events): the event scan filters to the
    step types (pushed to the scan), ONE shuffle groups each user's
    step events into a sorted array (partial-agg collect, per-user
    state bounded by that user's step-event count), and the stage
    progression is a pure JVM ``aggregate`` fold over the array — no
    window over raw events, no self-joins (the k-step self-join
    formulation shuffles k times and explodes on power users), no
    UDFs. The final summary is a 1-row aggregate.

    Equal timestamps: an event of step k at exactly the chosen time
    of step k-1 counts (>=); ties in the sorted array order earlier
    funnel steps first so the fold matches the SQL semantics.

    ``max_events_per_user`` caps the per-user array with the same
    row_number-before-collect trick as ``top_paths``: one bot user with
    10⁸ step events can skew one task's memory, so only each user's
    first ``max_events_per_user`` step events (time order, funnel-step
    tiebreak — the same order the fold consumes) enter the array. The
    sequential-min fold takes the EARLIEST qualifying event at every
    stage, so for any user under the cap the result is identical; a
    capped user loses only progressions that start beyond their first
    100k step events.
    """
    steps = list(steps)
    if len(steps) < 2:
        raise ValueError("funnel: need at least 2 steps")
    if len(set(steps)) != len(steps):
        raise ValueError(f"funnel: steps must be distinct, got {steps}")
    if max_events_per_user < 1:
        raise ValueError(
            f"funnel: max_events_per_user must be >= 1, got "
            f"{max_events_per_user}"
        )
    n = len(steps)
    idx_expr = None
    for i, s in enumerate(steps):
        cond = F.col(type_col) == F.lit(s)
        idx_expr = F.when(cond, F.lit(i)) if idx_expr is None else idx_expr.when(cond, F.lit(i))
    events = (
        df.where(F.col(type_col).isin(steps) & F.col(time_col).isNotNull())
        .select(
            F.col(user_col).alias("user"),
            F.struct(
                F.unix_micros(F.col(time_col).cast("timestamp")).alias("t"),
                idx_expr.alias("idx"),
            ).alias("e"),
        )
    )
    # bound per-user state BEFORE the collect: keep only each user's
    # first max_events_per_user step events in the same (t, idx) order
    # the fold consumes, so under-cap users are bit-identical
    capw = Window.partitionBy("user").orderBy(
        F.col("e.t").asc(), F.col("e.idx").asc()
    )
    per_user = (
        events.withColumn("__rn", F.row_number().over(capw))
        .where(F.col("__rn") <= max_events_per_user)
        .groupBy("user")
        .agg(F.array_sort(F.collect_list("e")).alias("evs"))
    )
    neg_inf = F.lit(float(-(2 ** 62)))
    zero = F.struct(
        F.lit(0).alias("stage"),
        neg_inf.alias("t_prev"),
        neg_inf.alias("t_first"),
    )
    horizon = (
        F.lit(float(within_seconds) * 1e6)
        if within_seconds is not None
        else F.lit(float(2 ** 62))
    )

    def step_fold(acc, e):
        t = e["t"].cast("double")
        advance = (
            (acc["stage"] < F.lit(n))
            & (e["idx"] == acc["stage"])
            & (t >= acc["t_prev"])
            & (
                (acc["stage"] == 0)
                | (t - acc["t_first"] <= horizon)
            )
        )
        return F.when(
            advance,
            F.struct(
                (acc["stage"] + 1).alias("stage"),
                t.alias("t_prev"),
                F.when(acc["stage"] == 0, t)
                .otherwise(acc["t_first"])
                .alias("t_first"),
            ),
        ).otherwise(acc)

    reached = per_user.select(
        F.aggregate(F.col("evs"), zero, step_fold)["stage"].alias("reached")
    )
    # COALESCE: zero qualifying events must read as users=0 (the SQL
    # COUNT(*) semantics), not a NULL row
    counts = reached.agg(
        *[
            F.coalesce(
                F.sum((F.col("reached") >= k).cast("long")), F.lit(0)
            ).alias(f"s{k}")
            for k in range(1, n + 1)
        ]
    )
    stacked = counts.selectExpr(
        "stack({}, {}) AS (step_index, users)".format(
            n, ", ".join(f"{k}, s{k}" for k in range(1, n + 1))
        )
    )
    step_map = F.array(*[F.lit(s) for s in steps])
    whole = Window.orderBy("step_index").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    first = F.max(F.when(F.col("step_index") == 1, F.col("users"))).over(whole)
    prev = F.lag("users").over(Window.orderBy("step_index"))
    return (
        stacked.withColumn("step", F.element_at(step_map, F.col("step_index")))
        .withColumn(
            "pct_of_first",
            F.when(first > 0, F.round(F.col("users") / first, 6)).otherwise(F.lit(None)),
        )
        .withColumn(
            "pct_of_prev",
            F.when(prev > 0, F.round(F.col("users") / prev, 6)).otherwise(F.lit(None)),
        )
        .select("step_index", "step", "users", "pct_of_first", "pct_of_prev")
    )


def retention(
    df: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    period: str = "week",
    max_periods: int = 12,
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the period of
    their FIRST event; each later period they are active again counts
    toward that cohort's retention. Returns
    ``(cohort, period_offset, users, pct)`` — ``pct`` is the share of
    the cohort active at that offset (offset 0 is 1.0 by definition).

    ``period``: ``day`` | ``week`` | ``month``. Offsets beyond
    ``max_periods`` are dropped (they are usually noise and keep the
    output matrix bounded).

    Scale shape: ONE keyed shuffle computes each user's first event
    (partial-agg min), one join keys the event stream back to its
    cohort (broadcastable while the user dimension fits, AQE's call
    beyond), and one distinct+count aggregation builds the matrix —
    output rows are #cohorts × max_periods, dimension-sized. All JVM
    expressions; exactly replicable in SQL (DuckDB oracle).
    """
    if period not in ("day", "week", "month"):
        raise ValueError(f"retention: period must be day|week|month, got {period}")
    if max_periods < 1:
        raise ValueError("retention: max_periods must be >= 1")
    ts = F.col(time_col).cast("timestamp")
    events = df.where(ts.isNotNull()).select(
        F.col(user_col).alias("user"), F.date_trunc(period, ts).alias("p")
    )
    firsts = events.groupBy("user").agg(F.min("p").alias("cohort_p"))
    joined = events.join(firsts, "user")
    if period == "month":
        offset = F.months_between(F.col("p"), F.col("cohort_p")).cast("int")
    elif period == "week":
        offset = (F.datediff(F.col("p"), F.col("cohort_p")) / 7).cast("int")
    else:
        offset = F.datediff(F.col("p"), F.col("cohort_p"))
    active = (
        joined.select(
            F.to_date("cohort_p").alias("cohort"),
            offset.alias("period_offset"),
            "user",
        )
        .where(F.col("period_offset") <= max_periods)
        .distinct()
    )
    counts = active.groupBy("cohort", "period_offset").agg(
        F.count("*").alias("users")
    )
    base = counts.where(F.col("period_offset") == 0).select(
        "cohort", F.col("users").alias("__cohort_size")
    )
    return (
        counts.join(base, "cohort")
        .select(
            "cohort",
            "period_offset",
            "users",
            F.round(F.col("users") / F.col("__cohort_size"), 6).alias("pct"),
        )
    )


def transitions(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    event_col: str = "event_type",
    tiebreak_cols: Sequence[str] = (),
    include_endpoints: bool = True,
    start_token: str = "__start__",
    end_token: str = "__end__",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: ``(src, dst, n, p)`` where ``n`` counts consecutive
    event pairs across all keys and ``p`` is the row-stochastic
    probability ``n / Σ n(src, ·)`` (rounded to 6 decimals). The
    standard path-mining readout next to ``funnel`` (which tests ONE
    hypothesized order) — transitions SHOW the orders that actually
    occur, surface loops, and feed next-step prediction.

    ``include_endpoints`` adds ``(start_token → first event)`` and
    ``(last event → end_token)`` pairs so entry and exit distributions
    are part of the matrix (p over the start token = landing
    distribution). The sentinels share the event namespace: if the
    corpus can legitimately contain events named ``__start__`` /
    ``__end__`` (scraped or event-bus data), pass distinct
    ``start_token``/``end_token`` values — a collision silently merges
    real transitions into the synthetic entry/exit rows (detectable
    post-hoc: the start token appearing as ``dst``, or the end token
    as ``src``, can only come from real events).

    Pass ``tiebreak_cols`` (e.g. an event id) whenever two events of
    one key can share a timestamp — the pair sequence is then a total
    order and the result deterministic; without it, tied neighbors
    may order either way (as in any SQL ``LAG`` over a non-unique
    sort).

    Scale shape: one hash shuffle on the keys + one window pass for
    ``lag``/``lead``, then a keyed partial-agg count on (src, dst) —
    the pair space is |event types|², dimension-sized, so the final
    probability window is trivial. No collect, no UDFs.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    ev = F.col(event_col)
    pairs = df.select(
        F.lag(ev).over(w).alias("__prev"),
        ev.alias("__cur"),
        F.lead(ev).over(w).alias("__next"),
    )
    if include_endpoints:
        inner = pairs.select(
            F.coalesce(F.col("__prev"), F.lit(start_token)).alias(src_col),
            F.col("__cur").alias(dst_col),
        )
        exits = pairs.where(F.col("__next").isNull()).select(
            F.col("__cur").alias(src_col), F.lit(end_token).alias(dst_col)
        )
        edges = inner.unionByName(exits)
    else:
        edges = pairs.where(F.col("__prev").isNotNull()).select(
            F.col("__prev").alias(src_col), F.col("__cur").alias(dst_col)
        )
    counts = edges.groupBy(src_col, dst_col).agg(
        F.count(F.lit(1)).alias("n")
    )
    row_total = Window.partitionBy(src_col)
    return counts.select(
        src_col,
        dst_col,
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.sum("n").over(row_total), 6).alias("p"),
    )


def top_paths(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    event_col: str = "event_type",
    max_len: int = 5,
    k: int = 20,
    tiebreak_cols: Sequence[str] = (),
    sep: str = ">",
) -> DataFrame:
    """The ``k`` most common user journeys: each key's first
    ``max_len`` events (in time order) joined into a path string,
    counted across keys — ``(path, users)`` ordered by users desc with
    the path as a total-order tiebreak. ``transitions`` shows which
    single steps occur; this shows which complete ORDERS are common
    (the onboarding-flow / drop-off readout).

    Per-key state is BOUNDED before any aggregation: a window
    ``row_number`` keeps only each key's first ``max_len`` events, so
    the collect_list that builds the path holds ≤ max_len structs per
    key even for power users with millions of events — the unbounded
    collect-then-slice formulation is the scale trap this avoids.
    Two keyed shuffles (window + path count) and a TakeOrdered top-k.
    As with ``transitions``, pass ``tiebreak_cols`` when one key can
    have tied timestamps.
    """
    if max_len < 1:
        raise ValueError(f"top_paths: max_len must be >= 1, got {max_len}")
    if k < 1:
        raise ValueError(f"top_paths: k must be >= 1, got {k}")
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    firstl = (
        df.select(
            *key_cols, F.col(event_col).alias("__ev"),
            F.row_number().over(w).alias("__rn"),
        )
        .where(F.col("__rn") <= max_len)
    )
    paths = (
        firstl.groupBy(*key_cols)
        .agg(
            F.concat_ws(
                sep,
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__rn", "__ev"))
                    ),
                    lambda x: x["__ev"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("users"))
        .orderBy(F.col("users").desc(), F.col("path"))
        .limit(k)
    )


def active_users(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    windows: Sequence[int] = (1, 7, 30),
    lgk: int = 14,
) -> DataFrame:
    """Rolling distinct-active counts — DAU/WAU/MAU — from per-day
    mergeable HLL sketches: one event-log pass sketches each calendar
    day (``hll_sketch_agg``, partial-aggregated map-side), then every
    trailing window merges at most ``max(windows)`` day-sketches and
    estimates. The sketch-once/merge-many lifecycle: a 100 TB event
    log is read ONCE no matter how many window lengths are asked for,
    and the per-day sketch table (dimension-sized — one row per day)
    can be persisted and extended incrementally.

    Returns one row per day present in the data:
    ``(date, active_{w}d …)``, each the distinct-user estimate over
    the trailing ``w`` days ending at (and including) that date.
    Estimates are HLL-exact until cardinalities approach 2^lgk
    territory; raise ``lgk`` for hundreds of millions of actives.
    The day-level self-join is an inequality join on the DAY table —
    bounded by days², i.e. dimension-sized, never touching events.
    """
    if not windows or any(int(w) < 1 for w in windows):
        raise ValueError(
            f"active_users: windows must be positive ints, got {windows}"
        )
    windows = sorted({int(w) for w in windows})
    daily = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("d"))
        .agg(F.hll_sketch_agg(user_col, F.lit(int(lgk))).alias("sk"))
    )
    other = daily.select(
        F.col("d").alias("d2"), F.col("sk").alias("sk2")
    )
    max_w = max(windows)
    joined = daily.select("d").join(
        other,
        (F.col("d2") <= F.col("d"))
        & (F.col("d2") > F.date_sub(F.col("d"), max_w)),
    ).withColumn("delta", F.datediff(F.col("d"), F.col("d2")))
    aggs = [
        F.expr(f"hll_union_agg(sk2, true) FILTER (WHERE delta < {w})").alias(
            f"__sk{w}"
        )
        for w in windows
    ]
    return (
        joined.groupBy("d")
        .agg(*aggs)
        .select(
            F.col("d").alias("date"),
            *[
                F.hll_sketch_estimate(f"__sk{w}")
                .cast("bigint")
                .alias(f"active_{w}d")
                for w in windows
            ],
        )
    )


def bot_score(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    min_events: int = 5,
    cv_threshold: float = 0.15,
    modal_share_threshold: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Per-key scripted-traffic signals from inter-arrival timing —
    the crawl/API-abuse triage that runs BEFORE any content look:
    humans are bursty (gap coefficient-of-variation ≳ 1), schedulers
    are metronomic (cv near 0), and bulk loaders repeat one gap over
    and over (one modal gap carries most of the mass). Feeding bot
    traffic into a training corpus poisons dedup statistics and
    source mixes long before anyone reads a document, so this runs on
    the raw event log.

    Per key with at least ``min_events`` events (fewer is no
    evidence): ``(key, n_events, mean_gap_s, cv_gap,
    modal_gap_share, zero_gap_share, events_per_hour, bot_suspect)``
    where gaps are second-floored inter-arrival times of the
    timestamp-sorted stream, ``modal_gap_share`` is the share of the
    single most common gap, ``zero_gap_share`` the share of
    same-second arrivals, and ``bot_suspect`` is the conventional cut
    ``cv_gap < cv_threshold OR modal_gap_share >
    modal_share_threshold`` — a triage flag, not a verdict; route
    suspects to ``stats.seasonality`` (diurnal shape) and content
    checks. ``cv_gap`` is NULL with < 2 gaps or zero mean.

    All moments are derived from EXACT integer sums (second-floored
    gaps sum and square within int64 for any realistic stream because
    the gap sum telescopes to the key's time span), so results are
    bit-identical across engines and partitionings — no float
    accumulation order anywhere. Variance uses the n·Σg²−(Σg)² form
    on those exact integers, which is cancellation-free here (the
    inputs are exact, unlike the float case ``moments`` rejects).

    Scale shape: one per-key lag window (keys are many — the
    sessionize shape; the hot key IS the suspect, and its sort is one
    partition's work), one keyed aggregate for the moment sums, one
    (key, gap)-keyed aggregate folded to the modal count, one keyed
    join to fuse. Shuffle ∝ rows once, then ∝ keys.
    """
    if min_events < 2:
        raise ValueError(
            f"bot_score: min_events must be >= 2, got {min_events}"
        )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(F.col(key_col).alias("__k"), us.alias("__us"))
    w = Window.partitionBy("__k").orderBy("__us")
    gap_us = F.col("__us") - F.lag("__us").over(w)
    # exact integer seconds: subtract the remainder BEFORE dividing so
    # the division is exact (a float floor can cross the integer
    # boundary when the gap sits one microsecond under a whole second)
    gaps = base.select(
        "__k",
        "__us",
        (
            (gap_us - F.pmod(gap_us, F.lit(1000000)))
            / F.lit(1000000)
        )
        .cast("bigint")
        .alias("__g"),
    )
    agg = gaps.groupBy("__k").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count("__g").cast("bigint").alias("__ng"),
        F.sum("__g").cast("bigint").alias("__s"),
        F.sum(F.col("__g") * F.col("__g")).cast("bigint").alias("__sq"),
        F.sum((F.col("__g") == 0).cast("bigint")).alias("__zero"),
        (F.max("__us") - F.min("__us")).cast("bigint").alias("__span_us"),
    )
    modal = (
        gaps.where(F.col("__g").isNotNull())
        .groupBy("__k", "__g")
        .agg(F.count("*").cast("bigint").alias("__c"))
        .groupBy("__k")
        .agg(F.max("__c").alias("__modal"))
    )
    j = agg.where(F.col("n_events") >= min_events).join(
        modal.select(F.col("__k").alias("__mk"), "__modal"),
        F.col("__k") == F.col("__mk"),
    ).drop("__mk")
    ng = F.col("__ng").cast("double")
    mean = F.col("__s").cast("double") / ng
    var = F.when(
        F.col("__ng") >= 2,
        (
            ng * F.col("__sq").cast("double")
            - F.col("__s").cast("double") * F.col("__s").cast("double")
        )
        / (ng * (ng - 1)),
    )
    cv = F.when(mean > 0, F.sqrt(var) / mean)
    modal_share = F.col("__modal").cast("double") / ng
    zero_share = F.col("__zero").cast("double") / ng
    eph = F.when(
        F.col("__span_us") > 0,
        F.col("n_events").cast("double")
        / (F.col("__span_us").cast("double") / F.lit(3.6e9)),
    )
    suspect = F.coalesce(cv < cv_threshold, F.lit(False)) | (
        modal_share > modal_share_threshold
    )
    return j.select(
        F.col("__k").alias(key_col),
        "n_events",
        F.round(mean, round_to).alias("mean_gap_s"),
        F.round(cv, round_to).alias("cv_gap"),
        F.round(modal_share, round_to).alias("modal_gap_share"),
        F.round(zero_share, round_to).alias("zero_gap_share"),
        F.round(eph, round_to).alias("events_per_hour"),
        suspect.alias("bot_suspect"),
    )


def resample(
    df: DataFrame,
    ts_col: str,
    step_s: int,
    aggs: dict,
    group_by=None,
    fill: str = "zero",
    max_buckets: int = 1_000_000,
) -> DataFrame:
    """Regularize an irregular event stream onto a fixed time grid —
    per key, one row per ``step_s``-second bucket from that key's
    first to last event, with EXPLICIT rows for empty buckets. The
    time-series ops downstream (``stats.trend``, ``theil_sen``,
    ``seasonality``, ``autocorrelation``, ``cusum``) all assume a
    complete grid: feeding them raw event buckets silently treats a
    dead day as a missing day, and a source that stopped ingesting
    looks merely sparse instead of broken.

    ``aggs`` maps column → one of sum/avg/min/max/count (count
    ignores the column's NULLs, like SQL). ``fill`` decides what an
    empty bucket reports: ``"zero"`` (right for counts/sums — nothing
    happened), ``"null"`` (right for avg/min/max — nothing was
    MEASURED), or ``"ffill"`` (last observed value carries forward —
    gauge/level semantics). Output: ``(group_by..., bucket_start_s,
    <col>_<agg>...)`` with ``bucket_start_s`` in epoch seconds
    (integer — engine/timezone-proof).

    Scale shape: one keyed (group, bucket) partial aggregate (shuffle
    ∝ occupied buckets), grid rows generated per key by ``sequence``
    + ``explode`` (grid-sized, not row-sized), one keyed join back.
    A ``max_buckets`` driver probe fails loudly before any key
    explodes a multi-gigarow grid (a 1-second step over a year is
    31M rows PER KEY — pick the grain to fit the question). The
    ffill window orders each key's GRID (bounded by max_buckets),
    never raw rows.
    """
    _ALLOWED = ("sum", "avg", "min", "max", "count")
    if not aggs:
        raise ValueError("resample: aggs must name at least one column")
    for c, fn in aggs.items():
        if fn not in _ALLOWED:
            raise ValueError(
                f"resample: unsupported agg {fn!r} for {c!r} "
                f"(allowed: {_ALLOWED})"
            )
    if fill not in ("zero", "null", "ffill"):
        raise ValueError(
            f"resample: fill must be zero|null|ffill, got {fill!r}"
        )
    if step_s <= 0:
        raise ValueError(f"resample: step_s must be > 0, got {step_s}")
    keys = keys_of(group_by)
    step_us = int(step_s) * 1_000_000
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    bucket = ((us - F.pmod(us, F.lit(step_us))) / F.lit(step_us)).cast(
        "bigint"
    )
    base = df.where(F.col(ts_col).isNotNull()).select(
        *keys, bucket.alias("__b"), *aggs.keys()
    )
    agg_exprs = [
        (
            F.count(c).cast("bigint")
            if fn == "count"
            else getattr(F, fn)(F.col(c).cast("double"))
        ).alias(f"{c}_{fn}")
        for c, fn in aggs.items()
    ]
    binned = base.groupBy(*keys, "__b").agg(*agg_exprs)
    span = base.groupBy(*keys).agg(
        F.min("__b").alias("__lo"), F.max("__b").alias("__hi")
    )
    too_big = (
        span.where(F.col("__hi") - F.col("__lo") + 1 > max_buckets)
        .limit(1)
        .collect()
    )
    if too_big:
        r = too_big[0]
        raise ValueError(
            f"resample: a key's grid spans {r['__hi'] - r['__lo'] + 1} "
            f"buckets (max_buckets={max_buckets}) - coarsen step_s or "
            "raise max_buckets explicitly"
        )
    grid = span.select(
        *keys,
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"))
        ).alias("__b"),
    )
    b_r = binned.select(
        *[F.col(c).alias(f"__bn_{c}") for c in [*keys, "__b"]],
        *[f"{c}_{fn}" for c, fn in aggs.items()],
    )
    cond = grid["__b"] == b_r["__bn___b"]
    for k in keys:
        cond = cond & grid[k].eqNullSafe(b_r[f"__bn_{k}"])
    joined = grid.join(b_r, cond, "left").drop(
        *[f"__bn_{c}" for c in [*keys, "__b"]]
    )
    out_cols = []
    for c, fn in aggs.items():
        col = F.col(f"{c}_{fn}")
        if fill == "zero":
            col = F.coalesce(col, F.lit(0))
        elif fill == "ffill":
            w = (
                Window.partitionBy(*keys)
                .orderBy("__b")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            col = F.last(col, ignorenulls=True).over(w)
        out_cols.append(col.alias(f"{c}_{fn}"))
    return joined.select(
        *keys,
        (F.col("__b") * step_s).cast("bigint").alias("bucket_start_s"),
        *out_cols,
    )


def rfm(
    df: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    value_col: Optional[str] = "value",
    as_of=None,
    n_bins: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """RFM segmentation — the classic recency/frequency/monetary
    user scoring that powers lifecycle marketing and churn triage:
    per user, days since last event (R), event count (F), and summed
    ``value_col`` (M), each scored 1..``n_bins`` by exact
    equal-population percentile thresholds over the user table
    (score ``n_bins`` = best: most recent / most frequent / highest
    spend), plus a standard segment label:

    * ``champions``   — r ≥ 4 and f ≥ 4 (recent AND frequent)
    * ``at_risk``     — r ≤ 2 and f ≥ 3 (was engaged, going quiet —
      checked before ``loyal``: cold frequency is a retention case,
      not a loyalty one)
    * ``loyal``       — f ≥ 4 (frequent, still warm)
    * ``recent``      — r ≥ 4 and f ≤ 2 (new/reactivated)
    * ``hibernating`` — r ≤ 2 and f ≤ 2
    * ``regular``     — everything else

    (thresholds are on the 1..5 scale regardless of ``n_bins``; the
    label rule uses the scores as computed). ``as_of`` anchors
    recency (datetime or ISO string); default is the corpus max
    timestamp — deterministic, no wall clock. ``value_col=None``
    scores M over frequency's values degenerately as 0 — pass the
    revenue/usage column whenever one exists. A value exactly AT a
    threshold takes the LOWER score, deterministically.

    Scale shape: one keyed per-user aggregate (map-side combine), ONE
    exact ``percentile`` 1-row aggregate for all three thresholds
    fused (broadcast back — never a global ntile window, which
    funnels the corpus through one partition), one scan to score.
    Fully SQL-expressible (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``, the parity the percentiles row pins).
    """
    if n_bins < 2:
        raise ValueError(f"rfm: n_bins must be >= 2, got {n_bins}")
    base = df.where(
        F.col(user_col).isNotNull() & F.col(time_col).isNotNull()
    )
    mon = (
        F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))
        if value_col is not None
        else F.lit(0.0)
    )
    per_user = base.groupBy(F.col(user_col).alias("user")).agg(
        F.max(F.unix_micros(F.col(time_col).cast("timestamp"))).alias(
            "__last"
        ),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(mon).alias("monetary"),
    )
    if as_of is None:
        anchor = per_user.agg(F.max("__last").alias("__asof"))
    else:
        import datetime as _dt

        if isinstance(as_of, str):
            as_of = _dt.datetime.fromisoformat(as_of)
        epoch = _dt.datetime(1970, 1, 1)
        micros = int((as_of - epoch).total_seconds() * 1_000_000)
        anchor = per_user.sparkSession.range(1).select(
            F.lit(micros).cast("bigint").alias("__asof")
        )
    qs = [i / n_bins for i in range(1, n_bins)]
    thresholds = per_user.agg(
        *[
            F.expr(f"percentile(__last, {q})").alias(f"__rt{i}")
            for i, q in enumerate(qs)
        ],
        *[
            F.expr(f"percentile(frequency, {q})").alias(f"__ft{i}")
            for i, q in enumerate(qs)
        ],
        *[
            F.expr(f"percentile(monetary, {q})").alias(f"__mt{i}")
            for i, q in enumerate(qs)
        ],
    )

    def score(col, prefix):
        expr = F.lit(1)
        for i in range(len(qs)):
            expr = expr + (F.col(col) > F.col(f"{prefix}{i}")).cast("int")
        return expr

    scored = (
        per_user.join(F.broadcast(thresholds))
        .join(F.broadcast(anchor))
        .select(
            F.col("user").alias(user_col),
            F.round(
                (F.col("__asof") - F.col("__last"))
                / F.lit(86400.0 * 1_000_000), round_to
            ).alias("recency_days"),
            "frequency",
            F.round("monetary", round_to).alias("monetary"),
            score("__last", "__rt").alias("r_score"),
            score("frequency", "__ft").alias("f_score"),
            score("monetary", "__mt").alias("m_score"),
        )
    )
    r, f_ = F.col("r_score"), F.col("f_score")
    segment = (
        F.when((r >= 4) & (f_ >= 4), "champions")
        .when((r <= 2) & (f_ >= 3), "at_risk")
        .when(f_ >= 4, "loyal")
        .when((r >= 4) & (f_ <= 2), "recent")
        .when((r <= 2) & (f_ <= 2), "hibernating")
        .otherwise("regular")
    )
    return scored.withColumn("segment", segment)


def markov_attribution(
    df: DataFrame,
    conversion: str,
    touch_types: Optional[Sequence[str]] = None,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    max_events_per_user: int = 100_000,
    max_channels: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """DATA-DRIVEN multi-touch attribution by Markov removal effect —
    the model-based complement to :func:`attribution`'s rule-based
    credit (linear/position/decay weights are assumptions; removal
    effect measures what each channel actually contributes): build the
    first-order Markov chain over observed journeys
    (start → touches → conversion | null), then for each channel ask
    "if this channel vanished (its traffic lost), how much of the
    conversion probability goes with it?" —
    ``removal_effect(c) = 1 − P(conv | chain without c) / P(conv)``,
    and ``credit(c) = removal_effect(c) / Σ removal_effects × total
    conversions`` (Anderl et al. 2014's standard formulation).

    Journeys: each user's events sort by (time, type); a conversion
    ends its journey (the next touch starts a new one), and a trailing
    unconverted touch run ends in the ``null`` absorber. Transitions
    are consecutive-state pairs including ``start →`` first touch and
    last touch ``→ conversion|null``. Restrict eligible touches with
    ``touch_types``; NULL time/type rows are excluded; per-user events
    cap at ``max_events_per_user`` (row_number, deterministic).

    Returns one row per channel: ``(channel, removal_effect, credit)``
    plus the chain-level ``conversions`` count (constant column) —
    removal effects do NOT sum to 1 (channels share journeys); the
    normalized credit does sum to the converted-journey count.

    Scale shape: the :func:`attribution` discipline — ONE keyed
    shuffle groups each user's capped sorted events, transitions are
    pure JVM array functions (one struct per event + one trailing
    terminal), and a (src, dst) count aggregate reduces to at most
    ``(k+2)²`` rows. ONLY that bounded transition table reaches the
    driver (guarded by ``max_channels``, fail-loud) — the absorption
    solves are k×k numpy on k ≤ 64 states, the same bounded-driver
    convention as ``embedding.procrustes_fit``. Distinct-channel
    count is probed BEFORE the collect.
    """
    if max_events_per_user < 1:
        raise ValueError(
            "markov_attribution: max_events_per_user must be >= 1"
        )
    if max_channels < 1:
        raise ValueError("markov_attribution: max_channels must be >= 1")
    if touch_types is not None and conversion in set(touch_types):
        raise ValueError(
            "markov_attribution: conversion type cannot also be a "
            "touch type"
        )
    START, CONV, NULL = "__start__", "__conversion__", "__null__"
    types = (
        list(touch_types) + [conversion] if touch_types is not None else None
    )
    base = df.where(
        F.col(time_col).isNotNull() & F.col(type_col).isNotNull()
    )
    if types is not None:
        base = base.where(F.col(type_col).isin(types))
    events = base.select(
        F.col(user_col).alias("user"),
        F.struct(
            F.unix_micros(F.col(time_col).cast("timestamp")).alias("t"),
            F.col(type_col).alias("ch"),
        ).alias("e"),
    )
    capw = Window.partitionBy("user").orderBy(
        F.col("e.t").asc(), F.col("e.ch").asc()
    )
    per_user = (
        events.withColumn("__rn", F.row_number().over(capw))
        .where(F.col("__rn") <= max_events_per_user)
        .groupBy("user")
        .agg(F.array_sort(F.collect_list("e")).alias("evs"))
    )
    conv_lit = F.lit(conversion)
    evs = F.col("evs")

    def src_at(i):
        prev = F.element_at(evs, i)  # 1-based = the element BEFORE
        # index-i (0-based) — a conversion terminates its journey, so
        # the event after one restarts from START
        return (
            F.when(i == 0, F.lit(START))
            .when(prev["ch"] == conv_lit, F.lit(START))
            .otherwise(prev["ch"])
        )

    def dst_of(e):
        return F.when(e["ch"] == conv_lit, F.lit(CONV)).otherwise(e["ch"])

    steps = F.transform(
        evs, lambda e, i: F.struct(
            src_at(i).alias("src"), dst_of(e).alias("dst")
        )
    )
    last = F.element_at(evs, F.size(evs))
    trailing = F.when(
        last["ch"] != conv_lit,
        F.array(F.struct(
            last["ch"].alias("src"), F.lit(NULL).alias("dst")
        )),
    ).otherwise(F.array().cast("array<struct<src:string,dst:string>>"))
    trans = (
        per_user.select(
            F.explode(F.concat(steps, trailing)).alias("tr")
        )
        .groupBy(F.col("tr.src").alias("src"), F.col("tr.dst").alias("dst"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )

    trans = trans.transform(pin)
    k = (
        trans.select("src").where(F.col("src") != START).distinct().count()
    )
    if k > max_channels:
        raise ValueError(
            f"markov_attribution: {k} distinct channels exceeds "
            f"max_channels={max_channels} — the absorption solves are "
            "driver-side k x k; raise the cap deliberately or bucket "
            "the long tail upstream"
        )
    rows = trans.collect()
    spark = df.sparkSession
    if not rows:
        return local_df(spark,
            [],
            "channel string, removal_effect double, credit double, "
            "conversions bigint",
        )
    channels = sorted(
        {r.src for r in rows if r.src != START}
        | {r.dst for r in rows if r.dst not in (CONV, NULL)}
    )
    for ch in channels:
        if ch in (START, CONV, NULL):
            raise ValueError(
                f"markov_attribution: channel name {ch!r} collides with "
                "a reserved chain state — rename it upstream"
            )
    import numpy as np

    states = [START] + channels          # transient states
    idx = {s: i for i, s in enumerate(states)}
    m = len(states)
    counts = np.zeros((m, m + 1))        # last col = conversion absorber
    for r in rows:
        i = idx[r.src]
        if r.dst == CONV:
            counts[i, m] += r.n
        elif r.dst == NULL:
            pass                          # lost mass = null absorber
        else:
            counts[i, idx[r.dst]] += r.n
    outflow = np.zeros(m)
    for r in rows:
        outflow[idx[r.src]] += r.n
    total_conversions = int(sum(r.n for r in rows if r.dst == CONV))

    def absorb_p(keep):
        """P(conversion | start) over the chain restricted to the kept
        transient states (removal = drop row+col: mass into a removed
        channel is lost to null)."""
        sel = [idx[s] for s in keep]
        q = counts[np.ix_(sel, sel)]
        rvec = counts[sel, m]
        flow = outflow[sel]
        nz = flow > 0
        qn = np.zeros_like(q)
        rn = np.zeros_like(rvec)
        qn[nz] = q[nz] / flow[nz, None]
        rn[nz] = rvec[nz] / flow[nz]
        x = np.linalg.solve(np.eye(len(sel)) - qn, rn)
        return float(x[0])

    base_p = absorb_p(states)
    if base_p <= 0:
        raise ValueError(
            "markov_attribution: no converted journey in the input — "
            "removal effects are undefined without conversions"
        )
    effects = []
    for ch in channels:
        p_wo = absorb_p([s for s in states if s != ch])
        effects.append(max(0.0, 1.0 - p_wo / base_p))
    tot_eff = sum(effects)
    out_rows = [
        (
            ch,
            round(e, round_to),
            round(
                (e / tot_eff) * total_conversions if tot_eff > 0 else 0.0,
                round_to,
            ),
            total_conversions,
        )
        for ch, e in zip(channels, effects)
    ]
    return local_df(spark,
        out_rows,
        "channel string, removal_effect double, credit double, "
        "conversions bigint",
    )


def attribution(
    df: DataFrame,
    conversion: str,
    model: str = "linear",
    touch_types: Optional[Sequence[str]] = None,
    user_col: str = "user_id",
    time_col: str = "ts",
    type_col: str = "event_type",
    lookback_seconds: Optional[float] = None,
    half_life_seconds: float = 7 * 86400.0,
    max_events_per_user: int = 100_000,
    round_to: int = 6,
    with_capped_users: bool = False,
) -> DataFrame:
    """Multi-touch conversion attribution — which CHANNEL gets credit
    for each conversion, under the standard marketing-analytics credit
    models: ``first_touch`` / ``last_touch`` (single-touch),
    ``linear`` (1/n each), ``position`` (U-shaped 40/20/40: 40% first,
    40% last, 20% split across the middles; 100%/50-50 for 1/2-touch
    paths), ``time_decay`` (exponential with ``half_life_seconds``,
    weights normalized per conversion). A touch is any event of a
    non-conversion type (restrict with ``touch_types``) at or before
    the conversion instant, and — with ``lookback_seconds`` — no older
    than the lookback horizon. Conversions with zero eligible touches
    earn nobody credit (organic conversions; count them upstream).

    Returns one row per channel: ``(channel, credit, touches,
    conversions)`` — fractional credit summed over conversions, the
    number of eligible touch instances (including zero-credit ones
    under single-touch models), and the distinct conversions the
    channel participated in (NULL-user conversions count — the key is
    a struct, so countDistinct never drops NULL-bearing tuples). Total
    credit across channels = number of conversions with >= 1 eligible
    touch. With ``with_capped_users=True`` a constant ``capped_users``
    column reports how many users had their event list truncated at
    ``max_events_per_user`` — set it when the readout is published, so
    the truncation is stated rather than silent.

    Scale shape (the ``funnel`` discipline): NO touch×conversion
    self-join — a power user with 10⁵ touches and 10³ conversions
    would put 10⁸ rows into a join's shuffle. Instead the event scan
    filters to the relevant types (pushed to the scan), ONE shuffle
    groups each user's events into a sorted array (capped BEFORE the
    collect by ``max_events_per_user`` with the row_number trick, in
    the same (t, channel) order the credit pass consumes — under-cap
    users are bit-identical), and per conversion the eligible-touch
    scan, position ranks, and decay weights are pure JVM array
    higher-order functions. The only row growth is the per-conversion
    credit explode — Σ eligible touches, the size of the ANSWER.
    Ties: equal-timestamp touches order by (time, channel) for
    deterministic positions; a touch AT the conversion instant counts.
    """
    models = ("first_touch", "last_touch", "linear", "position",
              "time_decay")
    if model not in models:
        raise ValueError(
            f"attribution: unknown model '{model}' (one of {models})"
        )
    if max_events_per_user < 1:
        raise ValueError("attribution: max_events_per_user must be >= 1")
    if touch_types is not None and conversion in set(touch_types):
        raise ValueError(
            "attribution: conversion type cannot also be a touch type"
        )
    types = (
        list(touch_types) + [conversion] if touch_types is not None else None
    )
    base = df.where(
        F.col(time_col).isNotNull() & F.col(type_col).isNotNull()
    )
    if types is not None:
        base = base.where(F.col(type_col).isin(types))
    events = base.select(
        F.col(user_col).alias("user"),
        F.struct(
            F.unix_micros(F.col(time_col).cast("timestamp")).alias("t"),
            F.col(type_col).alias("ch"),
        ).alias("e"),
    )
    capw = Window.partitionBy("user").orderBy(
        F.col("e.t").asc(), F.col("e.ch").asc()
    )
    ranked = events.withColumn("__rn", F.row_number().over(capw))
    per_user = (
        ranked.where(F.col("__rn") <= max_events_per_user)
        .groupBy("user")
        .agg(F.array_sort(F.collect_list("e")).alias("evs"))
    )
    capped_cnt = None
    if with_capped_users:
        # a user was truncated iff their rank sequence exceeds the cap —
        # one 1-row aggregate over the already-ranked frame, no new
        # shuffle beyond the count itself
        capped_cnt = (
            ranked.where(F.col("__rn") == max_events_per_user + 1)
            .agg(F.count("*").cast("bigint").alias("capped_users"))
        )
    conv_lit = F.lit(conversion)
    split = per_user.select(
        "user",
        F.filter("evs", lambda e: e["ch"] == conv_lit).alias("convs"),
        F.filter("evs", lambda e: e["ch"] != conv_lit).alias("tchs"),
    ).where(F.size("convs") > 0)
    look_us = (
        F.lit(float(lookback_seconds) * 1e6)
        if lookback_seconds is not None
        else None
    )

    def eligible(conv_t):
        def pred(x):
            ok = x["t"] <= conv_t
            if look_us is not None:
                ok = ok & ((conv_t - x["t"]).cast("double") <= look_us)
            return ok

        return pred

    per_conv = split.select(
        "user",
        F.explode("convs").alias("conv"),
        "tchs",
    ).select(
        "user",
        F.col("conv.t").alias("conv_t"),
        F.filter("tchs", eligible(F.col("conv.t"))).alias("elig"),
    ).where(F.size("elig") > 0)

    half_us = float(half_life_seconds) * 1e6
    if model == "time_decay":
        per_conv = per_conv.select(
            "*",
            F.aggregate(
                F.transform(
                    "elig",
                    lambda x: F.pow(
                        F.lit(0.5),
                        (F.col("conv_t") - x["t"]).cast("double")
                        / F.lit(half_us),
                    ),
                ),
                F.lit(0.0),
                lambda acc, w: acc + w,
            ).alias("wsum"),
        )
    exploded = per_conv.select(
        "user", "conv_t",
        F.size("elig").alias("n"),
        *(["wsum"] if model == "time_decay" else []),
        F.posexplode("elig").alias("pos", "touch"),
    )
    n, pos = F.col("n"), F.col("pos")
    if model == "first_touch":
        credit = F.when(pos == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    elif model == "last_touch":
        credit = F.when(pos == n - 1, F.lit(1.0)).otherwise(F.lit(0.0))
    elif model == "linear":
        credit = F.lit(1.0) / n.cast("double")
    elif model == "position":
        credit = (
            F.when(n == 1, F.lit(1.0))
            .when(n == 2, F.lit(0.5))
            .when(pos == 0, F.lit(0.4))
            .when(pos == n - 1, F.lit(0.4))
            .otherwise(F.lit(0.2) / (n - 2).cast("double"))
        )
    else:  # time_decay
        credit = (
            F.pow(
                F.lit(0.5),
                (F.col("conv_t") - F.col("touch.t")).cast("double")
                / F.lit(half_us),
            )
            / F.col("wsum")
        )
    out = (
        exploded.groupBy(F.col("touch.ch").alias("channel"))
        .agg(
            F.round(F.sum(credit), round_to).alias("credit"),
            F.count("*").cast("bigint").alias("touches"),
            # struct key: countDistinct over bare (user, conv_t) columns
            # drops tuples containing a NULL, so NULL-user conversions
            # would earn credit/touches yet vanish from this count
            F.countDistinct(F.struct("user", "conv_t"))
            .cast("bigint")
            .alias("conversions"),
        )
    )
    if capped_cnt is not None:
        out = out.crossJoin(F.broadcast(capped_cnt))
    return out


def stickiness(
    df: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    period: str = "month",
    round_to: int = 6,
    grain: str = "period",
) -> DataFrame:
    """Engagement stickiness per calendar period — the DAU/MAU family:
    for each period (``month`` default, ``week`` the alternative), the
    distinct users active in the period, the average DAILY active
    users over the period's ACTIVE days, and their ratio
    ``stickiness = avg_dau / period_users`` — the share of the
    period's audience that shows up on a typical active day (1.0 =
    everyone, every day; the retention matrix answers "do they come
    back LATER", this answers "how often within"). ``active_days``
    is emitted so a caller preferring calendar-day denominators can
    renormalize (``avg_dau · active_days / days_in_period``) — over
    the data's own active days the number is well-defined on partial
    periods instead of silently deflated. NULL user/timestamp rows
    are excluded.

    Returns ``(period_start, period_users, active_days, avg_dau,
    stickiness)`` ordered by period. ``grain='day'`` instead emits the
    per-day DAU series the rollup is computed from — ``(period_start,
    day, dau, period_users, day_share)`` ordered by day, with
    ``day_share = dau / period_users`` (the day's slice of the
    period audience) — so a dashboard plotting the daily curve under
    the period stickiness number doesn't re-scan the events.

    Scale shape: one distinct over (day, user) — THE cardinality
    reducer, everything after is day-sized — then one day-keyed count,
    one period-keyed distinct count, and a period-keyed recombine of
    two dimension-sized frames. Fully SQL-expressible.
    """
    if period not in ("week", "month"):
        raise ValueError(
            f"sessions.stickiness: period must be week|month, got {period}"
        )
    if grain not in ("period", "day"):
        raise ValueError(
            f"sessions.stickiness: grain must be period|day, got {grain}"
        )
    ts = F.col(time_col).cast("timestamp")
    events = (
        df.where(ts.isNotNull() & F.col(user_col).isNotNull())
        .select(
            F.to_date(F.date_trunc(period, ts)).alias("__p"),
            F.to_date(ts).alias("__d"),
            F.col(user_col).alias("__u"),
        )
        .distinct()
    )
    dau = events.groupBy("__p", "__d").agg(
        F.count("*").cast("bigint").alias("__dau")
    )
    per_day = dau.groupBy("__p").agg(
        F.count("*").cast("bigint").alias("active_days"),
        F.avg("__dau").alias("__avg_dau"),
    )
    pau = events.select("__p", "__u").distinct().groupBy("__p").agg(
        F.count("*").cast("bigint").alias("period_users")
    )
    if grain == "day":
        return (
            dau.join(pau, "__p")
            .select(
                F.col("__p").alias("period_start"),
                F.col("__d").alias("day"),
                F.col("__dau").alias("dau"),
                "period_users",
                F.round(
                    F.col("__dau") / F.col("period_users").cast("double"),
                    round_to,
                ).alias("day_share"),
            )
            .orderBy("day")
        )
    return (
        per_day.join(pau, "__p")
        .select(
            F.col("__p").alias("period_start"),
            "period_users",
            "active_days",
            F.round("__avg_dau", round_to).alias("avg_dau"),
            F.round(
                F.col("__avg_dau") / F.col("period_users").cast("double"),
                round_to,
            ).alias("stickiness"),
        )
        .orderBy("period_start")
    )


def lness(
    df: DataFrame,
    user_col: str = "user_id",
    time_col: str = "ts",
    period: str = "month",
    round_to: int = 6,
) -> DataFrame:
    """Engagement-depth histogram per calendar period — the "Lx curve"
    (L28/L7) growth teams read next to :func:`stickiness`: for each
    period, how many users were active on EXACTLY ``k`` distinct days.
    Stickiness compresses engagement to one ratio; the L-ness
    histogram shows its SHAPE — a smile (most users at 1 day and at
    every day, few between) reads completely differently from a hump,
    at the same average. NULL user/timestamp rows are excluded.

    Returns ``(period_start, days_active, n_users, frac_users)``
    ordered by period then days_active, where ``frac_users`` is the
    share of the period's distinct users at that depth (the histogram
    sums to 1 per period).

    Scale shape: the same (day, user) distinct as :func:`stickiness`
    — THE cardinality reducer — then a (period, user)-keyed count, a
    (period, days_active)-keyed count, and one period-keyed join onto
    the period totals. Everything after the first distinct is
    user-dimension-sized or smaller. Fully SQL-expressible.
    """
    if period not in ("week", "month"):
        raise ValueError(
            f"sessions.lness: period must be week|month, got {period}"
        )
    ts = F.col(time_col).cast("timestamp")
    events = (
        df.where(ts.isNotNull() & F.col(user_col).isNotNull())
        .select(
            F.to_date(F.date_trunc(period, ts)).alias("__p"),
            F.to_date(ts).alias("__d"),
            F.col(user_col).alias("__u"),
        )
        .distinct()
    )
    per_user = events.groupBy("__p", "__u").agg(
        F.count("*").cast("bigint").alias("days_active")
    )
    hist = per_user.groupBy("__p", "days_active").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    totals = per_user.groupBy("__p").agg(
        F.count("*").cast("bigint").alias("__total")
    )
    return (
        hist.join(totals, "__p")
        .select(
            F.col("__p").alias("period_start"),
            "days_active",
            "n_users",
            F.round(
                F.col("n_users") / F.col("__total").cast("double"), round_to
            ).alias("frac_users"),
        )
        .orderBy("period_start", "days_active")
    )
