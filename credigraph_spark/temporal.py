"""Temporal (snapshot-versioned) graph utilities.

The reference's "temporal" model is monthly crawl snapshots, not event
time (SURVEY.md §1.1.4): vertices ``domain,ts,in_deg,out_deg``
(tgrag/utils/writers.py:114), edges ``src,dst,ts``
(tgrag/construct_graph_scripts/process.py:214-217), where ``ts`` is the
``YYYYMMDD`` of the ISO-week Monday of the crawl slice
(tgrag/utils/temporal_utils.py:6-24). Multi-month graphs are unions of
per-slice tables deduped across months (tgrag/utils/mergers.py:27-124).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, functions as F

from credigraph_spark.session import eager_checkpoint


def crawl_slice_ts(crawl_id: str) -> str:
    """``CC-MAIN-YYYY-WW`` -> Monday of that ISO week as ``YYYYMMDD``
    (temporal_utils.py:6-24). Plan-time Python — the slice id is a scalar."""
    parts = crawl_id.split("-")
    year, week = int(parts[-2]), int(parts[-1])
    monday = datetime.date.fromisocalendar(year, week, 1)
    return monday.strftime("%Y%m%d")


def stamp_ts(df: DataFrame, crawl_id: str) -> DataFrame:
    """Attach the slice timestamp column (process.py:212-217)."""
    return df.withColumn("ts", F.lit(crawl_slice_ts(crawl_id)))


def merge_edge_slices(slices: list[DataFrame], dedup_within_ts: bool = True) -> DataFrame:
    """U5: union per-slice edge tables ``(src,dst,ts)``; dedupe (src,dst,ts)
    (mergers.py:27-124 semantics — an edge may recur across months, never
    within one)."""
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    if dedup_within_ts:
        out = out.dropDuplicates(["src", "dst", "ts"])
    return out


def snapshot_diff(old: DataFrame, new: DataFrame,
                  keys: tuple[str, ...] = ("src", "dst")) -> DataFrame:
    """Keyed diff of two snapshots: one row per key present in either,
    with status 'added' (new only), 'removed' (old only) or 'kept'
    (both). The incremental-refresh primitive for monthly crawl slices —
    a crawl-over-crawl edge churn report is one full-outer join, hash-
    partitioned on the key columns (co-partitioned with the dedup shuffle
    the slices already have at scale)."""
    o = old.select(*keys).dropDuplicates(list(keys)).withColumn("_o", F.lit(True))
    n = new.select(*keys).dropDuplicates(list(keys)).withColumn("_n", F.lit(True))
    joined = o.join(n, list(keys), "full")
    status = (
        F.when(F.col("_o").isNull(), F.lit("added"))
        .when(F.col("_n").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
    )
    return joined.select(*keys, status.alias("status"))


def latest_snapshot(df: DataFrame, key: str = "vid") -> DataFrame:
    """Most recent slice row per key (max ts), via max_by-style struct max
    (aggregation, not a window — partial-aggregatable)."""
    value_cols = [c for c in df.columns if c not in (key, "ts")]
    packed = df.groupBy(key).agg(
        F.max(F.struct(F.col("ts"), *[F.col(c) for c in value_cols])).alias("m")
    )
    return packed.select(key, F.col("m.ts").alias("ts"),
                         *[F.col(f"m.{c}").alias(c) for c in value_cols])

def event_transition_graph(events: DataFrame, user_col: str = "user_id",
                           ts_col: str = "ts", type_col: str = "event_type",
                           order_tiebreak: str = "event_id") -> DataFrame:
    """(src_type, dst_type, n_transitions, prob) — the first-order Markov
    transition graph of an event stream: per user, events ordered by
    (ts, tiebreak) yield consecutive (type -> next type) pairs, counted
    across all users; ``prob`` normalizes each source type's outgoing
    row. The standard sessionized click-path -> graph step of a behavior
    pipeline (and another producer for the engine's graph operators).

    Scale shape: ONE window partitioned by user (bounded by a user's
    event count, never the corpus) for the LEAD, then a partial-
    aggregatable pair count; the probability join is against the tiny
    per-source-type totals (broadcast). Counts are integers, prob is one
    int/int division — both engines agree bit-exactly."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    pairs = (
        events.select(
            F.col(type_col).alias("src_type"),
            F.lead(type_col).over(w).alias("dst_type"))
        .where(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    totals = pairs.groupBy("src_type").agg(
        F.sum("n_transitions").alias("tot"))
    return (
        pairs.join(F.broadcast(totals), "src_type")
        .select("src_type", "dst_type", "n_transitions",
                (F.col("n_transitions") / F.col("tot")).alias("prob"))
    )


def _epoch_us(df: DataFrame, col: str):
    """Epoch-microsecond column for either timestamp flavor. TIMESTAMP is
    an instant (unix_micros); TIMESTAMP_NTZ is wall time, measured from
    the NTZ epoch literal — tz-FREE, so it equals DuckDB's epoch_us on
    the same naive parquet value regardless of session timezone."""
    if dict(df.dtypes).get(col) == "timestamp_ntz":
        return F.timestamp_diff(
            "MICROSECOND",
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), F.col(col))
    return F.unix_micros(F.col(col))


def sessionize(events: DataFrame, user_col: str = "user_id",
               ts_col: str = "ts", gap_minutes: int = 30,
               order_tiebreak: str = "event_id") -> DataFrame:
    """Gap-based sessionization of an event stream: per user, events
    ordered by (ts, tiebreak); a new session starts whenever the gap to
    the previous event exceeds ``gap_minutes``. Returns one row per
    session: (user, session_idx 1-based, n_events, start_us, end_us,
    duration_us) with timestamps as epoch MICROSECOND integers — the
    hash-stable form (no float, no engine-specific timestamp rendering).

    Scale shape: both windows share ONE partitioning (user) and ordering
    (ts, tiebreak), so Catalyst plans a single shuffle + sort; per-user
    window frames are bounded by that user's event count, never the
    corpus. The final per-session rollup is a plain partial-aggregatable
    groupBy. Everything downstream of the event scan is integer
    arithmetic on epoch micros — exact in any engine."""
    from pyspark.sql import Window

    gap_us = int(gap_minutes) * 60 * 1_000_000
    ev = events.select(
        F.col(user_col).alias("user_id"),
        _epoch_us(events, ts_col).alias("ts_us"),
        F.col(order_tiebreak).alias("_tb"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "_tb")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > F.lit(gap_us)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_idx = flagged.withColumn(
        "session_idx", F.sum("new_sess").over(wcum).cast("long"))
    return (
        with_idx.groupBy("user_id", "session_idx")
        .agg(F.count("*").alias("n_events"),
             F.min("ts_us").alias("start_us"),
             F.max("ts_us").alias("end_us"))
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_ts: str, right_ts: str,
              right_payload: list[str],
              left_tiebreak: str | None = None,
              right_tiebreak: str | None = None) -> DataFrame:
    """AS-OF join — for each left row, the LATEST right row with
    ``right_ts <= left_ts`` sharing the equality key ``on`` (ties at the
    same timestamp: the right row counts as visible, and among equal-ts
    right rows the largest tiebreak wins). Spark has no ASOF JOIN
    operator; the scale-correct formulation is the union-marker trick —
    tag both sides, sort per key by (ts, marker, tiebreak) with right
    rows (marker 0) before left rows (marker 1), and carry the last
    non-null right payload forward with one bounded window — O(n log n)
    per key, ONE shuffle on the key, no range join, no per-row probe.

    Returns the left rows (all columns) plus the matched right payload
    columns (null when no right row precedes). Timestamps are compared
    as epoch micros (exact integers)."""
    from pyspark.sql import Window

    lt = _epoch_us(left, left_ts)
    rt = _epoch_us(right, right_ts)
    ltb = F.col(left_tiebreak) if left_tiebreak else F.lit(0)
    rtb = F.col(right_tiebreak) if right_tiebreak else F.lit(0)
    lcols = left.columns
    l = left.select(
        F.col(on).alias("_k"), lt.alias("_ts"), F.lit(1).alias("_m"),
        ltb.cast("long").alias("_tb"),
        F.struct(*[F.col(c) for c in lcols]).alias("_lrow"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"{c}:{dict(right.dtypes)[c]}" for c in right_payload) + ">"
        ).alias("_rrow"),
    )
    r = right.select(
        F.col(on).alias("_k"), rt.alias("_ts"), F.lit(0).alias("_m"),
        rtb.cast("long").alias("_tb"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"{c}:{dict(left.dtypes)[c]}" for c in lcols) + ">"
        ).alias("_lrow"),
        F.struct(*[F.col(c) for c in right_payload]).alias("_rrow"),
    )
    u = l.unionByName(r)
    w = (
        Window.partitionBy("_k").orderBy("_ts", "_m", "_tb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_match", F.last("_rrow", ignorenulls=True).over(w))
    out = carried.where(F.col("_m") == 1).select(
        *[F.col(f"_lrow.{c}").alias(c) for c in lcols],
        *[F.col(f"_match.{c}").alias(c) for c in right_payload],
    )
    return out


def interval_count_join(intervals: DataFrame, points: DataFrame,
                        key_col: str, start_day_col: str, end_day_col: str,
                        point_day_col: str, bin_days: int = 7) -> DataFrame:
    """Range join: per interval ``[start_day, end_day)`` (integer day
    indices, end exclusive), count points whose day falls inside.
    Intervals with no points are kept with count 0.

    Spark has no native band join and a raw ``ON p.day >= i.start AND
    p.day < i.end`` plans a broadcast-nested-loop (O(n·m) — dead at
    scale). The scale shape here is BIN BUCKETING: every point belongs to
    exactly ONE ``bin_days``-wide bin, and an interval of width w
    overlaps at most ceil(w/bin)+1 bins — explode the interval to its
    bin list (tiny constant fan-out when bin ≈ interval width), hash-join
    on the bin key, then apply the exact range predicate. Each matching
    (interval, point) pair meets in exactly one bin (the point's own), so
    no dedup is needed. One equi-shuffle, partial-aggregatable count."""
    b = int(bin_days)
    iv = intervals.select(
        F.col(key_col).alias("_key"),
        F.col(start_day_col).alias("_s"), F.col(end_day_col).alias("_e"))
    exploded = iv.where(F.col("_e") > F.col("_s")).select(
        "_key", "_s", "_e",
        F.explode(
            F.sequence(F.floor(F.col("_s") / b),
                       F.floor((F.col("_e") - 1) / b))
        ).alias("_bin"),
    )
    pts = points.select(
        F.col(point_day_col).alias("_d"),
        F.floor(F.col(point_day_col) / b).alias("_bin"))
    matched = (
        exploded.join(pts, "_bin")
        .where((F.col("_d") >= F.col("_s")) & (F.col("_d") < F.col("_e")))
        .groupBy("_key").agg(F.count("*").alias("_n"))
    )
    return (
        iv.select("_key").distinct()
        .join(matched, "_key", "left")
        .select(F.col("_key").alias(key_col),
                F.coalesce("_n", F.lit(0)).alias("n_points"))
    )


def cohort_retention(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Weekly cohort-retention matrix: users are cohorted by the ISO week
    (Monday-truncated) of their FIRST event; for every (cohort_week,
    week_offset) the count of distinct cohort users active that week.
    The standard growth-analytics rollup, and a pure three-shuffle plan:
    min-per-user (partial-agg), join events back on user (co-partitioned
    with the first shuffle), distinct-count per (cohort, offset).
    All outputs are strings/integers — exact in any engine."""
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.to_date(F.date_trunc("week", F.col(ts_col))).alias("week"))
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("week", "cohort_week") / 7).cast("long")
            .alias("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


def burst_days(events: DataFrame, type_col: str = "event_type",
               ts_col: str = "ts", round_digits: int = 6) -> DataFrame:
    """Per-(event_type, day) burst z-scores: how many sample standard
    deviations the day's event count sits from that type's all-days
    mean — the standard volume-anomaly screen. Returns every (type, day)
    with (n_events, z).

    Exactness: the mean and variance come from EXACT integer sums
    (n, sum x, sum x^2; variance = (n*sum_x2 - sum_x^2) / (n*(n-1)) —
    integer arithmetic until ONE division), so the only floats are one
    division, one sqrt and one subtraction, bit-reproducible in any
    engine; z is rounded on top. Degenerate types (single day or zero
    variance) report z = 0.0 rather than NULL/inf.

    Scale shape: one (type, day) count (partial-aggregatable), one
    per-type rollup of 3 integer sums over day rows (tiny), one
    broadcastable join back — no windows over the raw stream."""
    daily = (
        events.groupBy(
            F.col(type_col).alias("event_type"),
            F.date_format(F.col(ts_col), "yyyy-MM-dd").alias("day"))
        .agg(F.count("*").alias("n_events"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("nd"),
        F.sum("n_events").alias("sx"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("sx2"),
    )
    num = F.col("nd") * F.col("sx2") - F.col("sx") * F.col("sx")
    den = F.col("nd") * (F.col("nd") - 1)
    z = ((F.col("n_events") - F.col("sx") / F.col("nd"))
         / F.sqrt(num / den))
    return (
        daily.join(stats, "event_type")
        .select(
            "event_type", "day", "n_events",
            F.when((F.col("nd") > 1) & (num > 0),
                   F.round(z, round_digits)).otherwise(0.0).alias("z"))
    )


def funnel_steps(events: DataFrame, steps: list[str],
                 user_col: str = "user_id", type_col: str = "event_type",
                 ts_col: str = "ts", round_digits: int = 8) -> DataFrame:
    """Ordered-funnel analysis: for each step k, the number of users who
    performed steps[0..k] IN ORDER (each step strictly after the first
    qualifying time of the previous one), plus the conversion fraction
    vs the first step. The ClickHouse-``windowFunnel``-style sequence
    match (without the window bound), expressed as pure relational
    algebra — an extension beyond the reference's snapshot model.

    Semantics: t_0(u) = min ts of steps[0]; t_k(u) = min ts of steps[k]
    with ts > t_{k-1}(u). A user counts for step k iff t_k exists.
    Strict ``>`` means simultaneous events never satisfy two stages.

    Scale shape: the stream is filtered to funnel types once, then each
    stage is one groupBy(user).min + one join on user — all k shuffles
    share the user_id key, so AQE reuses the exchange across stages;
    per-stage state is ONE row per surviving user. The whole funnel is
    a SINGLE lazy plan (k tiny per-stage count aggregates unioned, one
    k-row window for the conversion fraction) — zero driver actions
    inside the operator. No windows over the raw stream, no
    collect_list of events."""
    from pyspark.sql import Window

    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("event_type"),
        F.col(ts_col).alias("ts"),
    ).where(F.col("event_type").isin(*steps) & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull())
    cur = (ev.where(F.col("event_type") == steps[0])
           .groupBy("user_id").agg(F.min("ts").alias("t")))
    stage_counts = []
    for i, step in enumerate(steps):
        if i > 0:
            cur = (ev.where(F.col("event_type") == step)
                   .join(cur.select("user_id", F.col("t").alias("prev_t")),
                         "user_id")
                   .where(F.col("ts") > F.col("prev_t"))
                   .groupBy("user_id").agg(F.min("ts").alias("t")))
        stage_counts.append(cur.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).alias("step_idx"), F.lit(step).alias("step"),
            F.col("n_users").cast("long").alias("n_users")))
    out = stage_counts[0]
    for sc in stage_counts[1:]:
        out = out.unionByName(sc)
    # constant partition key: the window only ever sees k (stage-count)
    # rows, the dummy key keeps WindowExec off the single-partition warn
    w = (Window.partitionBy(F.lit(1)).orderBy("step_idx")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    first_n = F.first("n_users").over(w)
    return out.withColumn(
        "frac_of_first",
        F.when(first_n > 0,
               F.round(F.col("n_users") / first_n, round_digits))
        .otherwise(F.lit(0.0)))


def rolling_active_users(events: DataFrame, window_days: int = 7,
                         user_col: str = "user_id", ts_col: str = "ts",
                         round_digits: int = 8) -> DataFrame:
    """Per-day DAU / rolling-WAU / stickiness: for every day with >=1
    event, the distinct users active that day (dau), the distinct users
    active in the ``window_days``-day window ENDING that day (wau), and
    dau/wau (the DAU/MAU-style stickiness ratio). The standard
    engagement rollup.

    Scale shape: the raw stream collapses to DISTINCT (user, day) first
    (partial-aggregatable — the only pass over the events); the rolling
    window is a bounded explode of the DEDUPED pairs (each contributes
    to <= window_days report days, a fixed small fan-out, never a
    per-day self-join of the raw stream), then one distinct-count per
    report day restricted to days that actually occur. No range
    windows over event time."""
    ud = (events.select(F.col(user_col).alias("user_id"),
                        F.to_date(F.col(ts_col)).alias("day"))
          .where(F.col("user_id").isNotNull() & F.col("day").isNotNull())
          .distinct())
    days = ud.select("day").distinct()
    expanded = ud.select(
        "user_id",
        F.explode(F.sequence(
            F.col("day"), F.date_add(F.col("day"), window_days - 1)))
        .alias("rday"))
    wau = (expanded.join(days.withColumnRenamed("day", "rday"), "rday")
           .groupBy("rday")
           .agg(F.count_distinct("user_id").alias("wau")))
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    return (dau.join(wau, dau.day == wau.rday)
            .select(F.date_format("day", "yyyy-MM-dd").alias("day"),
                    "dau", "wau",
                    F.round(F.col("dau") / F.col("wau"),
                            round_digits).alias("stickiness")))


def burstiness(events: DataFrame, type_col: str = "event_type",
               user_col: str = "user_id", ts_col: str = "ts",
               order_tiebreak: str = "event_id",
               round_digits: int = 8) -> DataFrame:
    """Goh–Barabási burstiness per event type: B = (σ−μ)/(σ+μ) over the
    inter-event gaps within each user's stream of that type — B→−1 for
    clockwork streams, 0 for Poisson, →1 for extreme bursts. The
    standard temporal-network heterogeneity measure.

    Exactness: gaps are integer SECONDS (epoch-micro difference div
    1e6 — deterministic floor in any engine); with population variance
    the n cancels and B = (sqrt(D) − Σg)/(sqrt(D) + Σg) where
    D = n·Σg² − (Σg)² is EXACT integer arithmetic — one sqrt and one
    division are the only floats. Degenerate types (fewer than 2 gaps,
    or all-zero gaps) report B = 0.0.

    Scale shape: one window per (user, type) — bounded by a user's
    stream, never the corpus — then a partial-aggregatable 3-sum rollup
    per type."""
    from pyspark.sql import Window

    w = (Window.partitionBy(user_col, type_col)
         .orderBy(ts_col, order_tiebreak))
    us = _epoch_us(events, ts_col)
    gaps = (events.select(
        F.col(type_col).alias("event_type"),
        (us - F.lag(us).over(w)).cast("long").alias("d"))
        .where(F.col("d").isNotNull())
        .select("event_type", F.expr("d div 1000000").alias("g")))
    agg = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.sum("g").alias("sg"),
        F.sum(F.col("g") * F.col("g")).alias("sg2"))
    d = F.col("n_gaps") * F.col("sg2") - F.col("sg") * F.col("sg")
    b = ((F.sqrt(d) - F.col("sg")) / (F.sqrt(d) + F.col("sg")))
    return agg.select(
        "event_type", "n_gaps",
        F.round(F.col("sg") / F.col("n_gaps"), round_digits)
        .alias("mean_gap_s"),
        F.when((F.col("n_gaps") >= 2) & ((d > 0) | (F.col("sg") > 0)),
               F.round(b, round_digits)).otherwise(0.0).alias("burstiness"))


def transition_stationary(events: DataFrame, rounds: int = 5,
                          user_col: str = "user_id", ts_col: str = "ts",
                          type_col: str = "event_type",
                          order_tiebreak: str = "event_id",
                          round_digits: int = 8) -> DataFrame:
    """(event_type, pi) — power-iterated stationary distribution of the
    first-order event-transition Markov chain (event_transition_graph's
    fixpoint view): where does user attention settle? π starts uniform
    over the observed source types and runs ``rounds`` of π ← πP; types
    with no outgoing transitions simply stop forwarding mass (their π
    freezes), the substochastic convention matching the transition
    table itself.

    The chain's state space is the EVENT-TYPE vocabulary — inherently
    tiny — so each superstep is a broadcast-scale join; the operator
    still runs as DataFrame supersteps (eager-checkpointed, the katz
    shape) so the same code serves a high-cardinality state column."""
    trans = event_transition_graph(events, user_col, ts_col, type_col,
                                   order_tiebreak)
    trans = trans.select("src_type", "dst_type", "prob") \
        .transform(eager_checkpoint)
    states = (trans.select(F.col("src_type").alias("t"))
              .unionByName(trans.select(F.col("dst_type").alias("t")))
              .distinct())
    states = states.transform(eager_checkpoint)
    n = states.count()
    # static: states with no outgoing transition keep their mass
    no_out = states.join(trans.select(F.col("src_type").alias("t"))
                         .distinct(), "t", "left_anti") \
        .withColumn("_sink", F.lit(True)).transform(eager_checkpoint)
    pi = states.select("t", F.lit(1.0 / n).alias("pi")) \
        .transform(eager_checkpoint)
    for _ in range(rounds):
        moved = (pi.join(trans.withColumnRenamed("src_type", "t"), "t")
                 .groupBy(F.col("dst_type").alias("t"))
                 .agg(F.sum(F.col("pi") * F.col("prob")).alias("m")))
        # full state table every round: a state that forwards all its
        # mass and receives none must stay at pi = 0, not vanish
        pi = (pi.join(moved, "t", "left")
              .join(no_out, "t", "left")
              .select("t",
                      (F.coalesce("m", F.lit(0.0))
                       + F.when(F.col("_sink").isNotNull(), F.col("pi"))
                       .otherwise(F.lit(0.0))).alias("pi"))
              .transform(eager_checkpoint))
    return pi.select(F.col("t").alias("event_type"),
                     F.round("pi", round_digits).alias("pi"))


def scd2_compact(df: DataFrame, key_col: str, value_col: str,
                 ts_col: str, order_col: str | None = None) -> DataFrame:
    """SCD Type-2 interval compaction (X203): collapse an append-only
    change log (key, ts, value) into versioned validity intervals —
    the slowly-changing-dimension build every warehouse runs when
    snapshotting mutable entities. A new version opens whenever the
    ordered value CHANGES; equal consecutive values fold into one
    interval. The current (open) version has valid_to = NULL.

    Returns (key_col, value_col, valid_from, valid_to, n_rows) — one
    row per version, n_rows = change-log rows folded into it.

    Scale shape: per-KEY window functions only (lag for the change
    flag, running sum for the version id, lead for the close-out
    timestamp) — partitions are single entities, never the table; one
    shuffle on the key, no UDFs, no self-joins. ``order_col`` breaks
    equal-timestamp ties deterministically (defaults to the value).
    """
    from pyspark.sql.window import Window as W

    ob = [F.col(ts_col), F.col(order_col if order_col else value_col)]
    wk = W.partitionBy(key_col).orderBy(*ob)
    chg = F.when(
        F.lag(value_col).over(wk).isNull()
        | (F.lag(value_col).over(wk) != F.col(value_col)), 1).otherwise(0)
    versioned = (df.withColumn("_chg", chg)
                 .withColumn("_ver", F.sum("_chg").over(
                     wk.rowsBetween(W.unboundedPreceding, 0))))
    # every row of a version carries the same value by construction
    vers = (versioned.groupBy(key_col, "_ver")
            .agg(F.min(value_col).alias(value_col),
                 F.min(ts_col).alias("valid_from"),
                 F.count("*").cast("long").alias("n_rows")))
    wv = W.partitionBy(key_col).orderBy("_ver")
    return (vers.withColumn("valid_to", F.lead("valid_from").over(wv))
            .select(key_col, value_col, "valid_from", "valid_to",
                    "n_rows"))


def touch_attribution(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts_us", type_col: str = "event_type",
                      id_col: str = "event_id",
                      touch_types: tuple[str, ...] = ("view", "click"),
                      conversion_type: str = "purchase",
                      lookback_us: int = 7 * 86400 * 1_000_000) -> DataFrame:
    """First/last-touch conversion attribution (X204): for every
    conversion event, find the first and the last touch event (view /
    click) by the same user STRICTLY before it and within the lookback
    window — the standard marketing-attribution primitive, and the
    inverse view of the funnel operator. ``ts_col`` must be an integer
    epoch-microsecond column (the sessionize convention).

    Returns one row per conversion: (user, conversion_id,
    conversion_ts, first_ts/first_id/first_type, last_ts/last_id/
    last_type, n_touches) with NULL touch fields for organic
    conversions.

    Scale shape: ONE per-user range-frame window pass — MIN/MAX of a
    (ts, id, type) struct and a conditional count over
    RANGE [-lookback, -1], so no per-conversion join, no explosion;
    partitions are single users. Struct ordering is lexicographic in
    both engines, and (ts, id) is unique, so attribution is
    deterministic under ties.
    """
    from pyspark.sql.window import Window as W

    w = (W.partitionBy(user_col).orderBy(ts_col)
         .rangeBetween(-int(lookback_us), -1))
    touch = F.col(type_col).isin(*touch_types)
    pack = F.when(touch, F.struct(F.col(ts_col).alias("ts"),
                                  F.col(id_col).alias("eid"),
                                  F.col(type_col).alias("ty")))
    out = (events
           .withColumn("_first", F.min(pack).over(w))
           .withColumn("_last", F.max(pack).over(w))
           .withColumn("_n", F.sum(touch.cast("long")).over(w)))
    return (out.where(F.col(type_col) == conversion_type)
            .select(F.col(user_col),
                    F.col(id_col).alias("conversion_id"),
                    F.col(ts_col).alias("conversion_ts"),
                    F.col("_first.ts").alias("first_ts"),
                    F.col("_first.eid").alias("first_id"),
                    F.col("_first.ty").alias("first_type"),
                    F.col("_last.ts").alias("last_ts"),
                    F.col("_last.eid").alias("last_id"),
                    F.col("_last.ty").alias("last_type"),
                    F.coalesce("_n", F.lit(0)).cast("long")
                    .alias("n_touches")))


def cdc_apply(base: DataFrame, changes: DataFrame, key_col: str,
              value_cols: list[str], op_col: str = "op",
              ts_col: str = "ts", seq_col: str | None = None) -> DataFrame:
    """CDC changelog apply (X215) — the MERGE INTO / upsert semantics
    every lakehouse table format (Delta/Hudi/Iceberg) implements:
    fold a changelog of I(nsert)/U(pdate)/D(elete) operations onto a
    base snapshot with last-writer-wins per key, ordered by
    (ts, seq). The complement of scd2_compact: SCD2 keeps history,
    CDC apply produces the NEW CURRENT snapshot.

    Returns the merged snapshot (key_col, *value_cols, last_op) where
    last_op is 'base' for untouched rows, else the winning operation
    ('I'/'U'); keys whose final operation is 'D' are dropped.

    Scale shape: the winning change per key is ONE max_by-style struct
    aggregation (partial-aggregatable, no window), then one full-outer
    join against the base — both hash-partitioned on the key; no
    driver actions, no UDFs.
    """
    ob = [F.col(ts_col)] + ([F.col(seq_col)] if seq_col else [])
    packed = changes.groupBy(key_col).agg(
        F.max(F.struct(*ob, F.col(op_col).alias("_op"),
                       *[F.col(c).alias(f"_v_{c}") for c in value_cols]))
        .alias("_m"))
    win = packed.select(
        key_col, F.col("_m._op").alias("_op"),
        *[F.col(f"_m._v_{c}").alias(f"_c_{c}") for c in value_cols])
    merged = base.join(win, key_col, "full")
    keep = merged.where(F.col("_op").isNull() | (F.col("_op") != "D"))
    outs = [F.col(key_col)]
    for c in value_cols:
        outs.append(F.when(F.col("_op").isNotNull(), F.col(f"_c_{c}"))
                    .otherwise(F.col(c)).alias(c))
    outs.append(F.coalesce(F.col("_op"), F.lit("base")).alias("last_op"))
    return keep.select(*outs)


def path_trigrams(events: DataFrame, user_col: str = "user_id",
                  ts_col: str = "ts", type_col: str = "event_type",
                  order_tiebreak: str = "event_id",
                  k: int = 20) -> DataFrame:
    """Top-k frequent 3-step behavior paths (X219) — the sequential-
    pattern view one level above the Markov transition graph
    (event_transition_graph): per user, consecutive event-type triples
    in (ts, tiebreak) order, counted corpus-wide, top-k by count with
    a lexicographic tie-break. The product-analytics 'what do users do
    in threes' primitive, and a data-quality lens on synthetic event
    generators (a uniform generator shows a flat trigram profile).

    Returns (step1, step2, step3, n) — at most k rows, count DESC.

    Scale shape: ONE user-keyed window (two LEADs share the single
    exchange+sort), a partial-aggregatable triple count, and a
    TakeOrderedAndProject top-k — no self-joins, no explosion.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    tri = (events.select(
        F.col(type_col).alias("step1"),
        F.lead(type_col, 1).over(w).alias("step2"),
        F.lead(type_col, 2).over(w).alias("step3"))
        .where(F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count("*").cast("long").alias("n")))
    return tri.orderBy(F.desc("n"), "step1", "step2", "step3").limit(k)


def km_churn(events: DataFrame, user_col: str = "user_id",
             ts_col: str = "ts", time_unit_s: int = 86400,
             censor_margin_units: int = 7,
             round_digits: int = 6) -> DataFrame:
    """Kaplan-Meier churn/survival curve (X249): per-user lifetime =
    days between first and last activity; users whose last activity
    falls within ``censor_margin_days`` of the corpus end are CENSORED
    (still alive — their lifetime is a lower bound, which is exactly
    what the KM estimator is for; naive 'average lifetime' silently
    treats them as churned and biases low). S(t) = prod over event
    durations d <= t of (1 - events_d / at_risk_d).

    Returns one row per distinct churn duration: (duration, n_risk,
    n_events, survival).

    Scale shape: two groupBys collapse the event log to one row per
    user and then to one row per DISTINCT duration (<= the day span
    of the corpus — a few thousand rows at any data size); the
    cumulative product runs driver-side over that bounded table in
    ascending-duration order (the same left fold any engine's
    windowed product performs), the engine's tiny-table convention.
    """
    unit = F.floor(F.unix_timestamp(F.col(ts_col)) / time_unit_s)
    u = (events.where(F.col(user_col).isNotNull()
                      & F.col(ts_col).isNotNull())
         .select(F.col(user_col).alias("u"), unit.alias("d"))
         .groupBy("u").agg(F.min("d").alias("fd"),
                           F.max("d").alias("ld")))
    cd = u.agg(F.max("ld")).collect()[0][0]
    if cd is None:
        # no valid (user, ts) rows at all: empty-schema result instead of
        # int(None) below
        return events.sparkSession.createDataFrame(
            [], "duration LONG, n_risk LONG, n_events LONG, "
                "survival DOUBLE")
    t = u.select((F.col("ld") - F.col("fd")).alias("dur"),
                 (F.col("ld") < F.lit(int(cd) - censor_margin_units))
                 .alias("churn"))
    g = (t.groupBy("dur")
         .agg(F.count("*").cast("long").alias("n_total"),
              F.sum(F.col("churn").cast("long")).cast("long")
              .alias("n_events"))
         .orderBy("dur").collect())
    total = sum(int(r["n_total"]) for r in g)
    rows = []
    seen = 0
    s = 1.0
    for r in g:
        dur, n_tot, n_ev = int(r["dur"]), int(r["n_total"]), \
            int(r["n_events"])
        n_risk = total - seen
        if n_ev > 0:
            s = s * (1.0 - n_ev * 1.0 / n_risk)
            rows.append((dur, n_risk, n_ev, round(s, round_digits)))
        seen += n_tot
    return events.sparkSession.createDataFrame(
        rows, "duration LONG, n_risk LONG, n_events LONG, "
              "survival DOUBLE")


def markov_next_event_eval(events: DataFrame,
                           user_col: str = "user_id",
                           ts_col: str = "ts",
                           type_col: str = "event_type",
                           order_tiebreak: str = "event_id",
                           round_digits: int = 6) -> DataFrame:
    """Next-event Markov prediction evaluation (X258): train the
    first-order transition model (X45's graph) on the user_id % 5 != 0
    users, predict each held-out user's next event type as the argmax
    transition count from the current type (ties to the smaller type
    string), and report per-source accuracy plus the
    majority-class-baseline accuracy — the sequential-model
    counterpart of the X165 Naive-Bayes eval: is the click-path graph
    actually predictive, or just the marginal event mix?

    Returns one row per source type: (src_type, pred, n_test,
    n_correct, accuracy, baseline_pred, n_baseline_correct,
    baseline_accuracy) — ``baseline_pred`` ignores the source and
    always predicts the train-split's most common NEXT type.

    Scale shape: one per-user LEAD window each for train and test
    (bounded by a user's stream); the model is a bounded
    (src, dst)-count table with a struct-max argmax; evaluation is one
    broadcast join of the |types|-row model onto the test bigrams.
    ALL integer counts, final rounded divisions.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, order_tiebreak)
    bigr = (events.select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("cur"),
        F.lead(type_col).over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull()))
    train = bigr.where(F.col("u") % 5 != 0)
    test = bigr.where(F.col("u") % 5 == 0)

    counts = train.groupBy("cur", "nxt").agg(F.count("*").alias("n"))
    # argmax next per source: max count, ties to the SMALLER type
    # string -> struct(n, negated-ordering trick avoided: use two-step
    # max on (n, reverse-lexicographic) via orderBy row_number)
    wm = Window.partitionBy("cur").orderBy(F.desc("n"), F.asc("nxt"))
    model = (counts.withColumn("_r", F.row_number().over(wm))
             .where(F.col("_r") == 1)
             .select("cur", F.col("nxt").alias("pred")))
    base = (train.groupBy("nxt").agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("nxt")).limit(1)
            .collect()[0]["nxt"])
    ev = (test.join(F.broadcast(model), "cur", "left")
          .groupBy(F.col("cur").alias("src_type"),
                   F.coalesce("pred", F.lit("")).alias("pred"))
          .agg(F.count("*").cast("long").alias("n_test"),
               F.coalesce(
                   F.sum((F.col("nxt") == F.col("pred")).cast("long")),
                   F.lit(0)).cast("long").alias("n_correct"),
               F.sum((F.col("nxt") == F.lit(base)).cast("long"))
               .cast("long").alias("n_baseline_correct")))
    return ev.select(
        "src_type", "pred", "n_test", "n_correct",
        F.round(F.col("n_correct") / F.col("n_test"), round_digits)
        .alias("accuracy"),
        F.lit(base).alias("baseline_pred"),
        "n_baseline_correct",
        F.round(F.col("n_baseline_correct") / F.col("n_test"),
                round_digits).alias("baseline_accuracy"))


def graph_snapshot_similarity(old_edges: DataFrame,
                              new_edges: DataFrame,
                              round_digits: int = 6) -> DataFrame:
    """Graph snapshot similarity (X262; the DeltaCon-lite drift score
    for crawl slices): three structural agreement numbers between two
    edge sets — VERTEX Jaccard, EDGE Jaccard (canonicalized distinct
    edges), and the total-variation distance between the two DEGREE
    DISTRIBUTIONS (Σ|p_old(d) − p_new(d)|/2 over degree values —
    invariant to graph size, so a crawl that doubled but kept its
    shape scores near 0). The graph-level complement of X56's
    per-vertex snapshot_diff: one row that answers 'did the webgraph
    shift this month?' before anything downstream re-trains.

    Returns ONE row: (v_old, v_new, vertex_jaccard, e_old, e_new,
    edge_jaccard, degree_tv).

    Scale shape: two clean_edges passes, set sizes via semi-join
    counts, and the degree TV over two bounded degree->count
    histograms (full-outer joined on the degree VALUE — rows bounded
    by max degree, never |V|). All integer until the final divisions.
    """
    from credigraph_spark.graph.adjacency import clean_edges

    def prep(e):
        ee = clean_edges(e).select("src", "dst").distinct()
        vv = (ee.select(F.col("src").alias("vid"))
              .unionByName(ee.select(F.col("dst").alias("vid")))
              .distinct())
        deg = (ee.select(F.explode(F.array("src", "dst")).alias("vid"))
               .groupBy("vid").agg(F.count("*").alias("d")))
        hist = deg.groupBy("d").agg(F.count("*").alias("c"))
        return ee.persist(), vv.persist(), hist

    eo, vo, ho = prep(old_edges)
    en, vn, hn = prep(new_edges)
    n_eo, n_en = eo.count(), en.count()
    n_vo, n_vn = vo.count(), vn.count()
    e_common = eo.join(en, ["src", "dst"], "left_semi").count()
    v_common = vo.join(vn, "vid", "left_semi").count()
    if n_vo == 0 or n_vn == 0:
        # an empty snapshot: the degree-TV normalization (ANSI
        # DIVIDE_BY_ZERO) and the jaccard denominators are undefined —
        # emit zero similarities instead of crashing
        tv = 0.0
    else:
        tv_df = (ho.withColumnRenamed("c", "co")
                 .join(hn.withColumnRenamed("c", "cn"), "d", "full_outer")
                 .select((F.abs(F.coalesce("co", F.lit(0)) / float(n_vo)
                                - F.coalesce("cn", F.lit(0)) / float(n_vn)))
                         .alias("ad")))
        tv = tv_df.agg(F.sum("ad")).collect()[0][0] / 2.0
    for x in (eo, vo, en, vn):
        x.unpersist()
    v_den = n_vo + n_vn - v_common
    e_den = n_eo + n_en - e_common
    vj = v_common / v_den if v_den else 0.0
    ej = e_common / e_den if e_den else 0.0
    return old_edges.sparkSession.createDataFrame(
        [(n_vo, n_vn, round(vj, round_digits), n_eo, n_en,
          round(ej, round_digits), round(tv, round_digits))],
        "v_old LONG, v_new LONG, vertex_jaccard DOUBLE, e_old LONG, "
        "e_new LONG, edge_jaccard DOUBLE, degree_tv DOUBLE")
