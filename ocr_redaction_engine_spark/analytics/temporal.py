"""Temporal join operators Spark lacks as built-ins: as-of join and range
join — re-expressed in the shapes that scale (window carry-forward and
bin-bucketed equi-join respectively), per the build brief's custom-operator
ladder (composition of DataFrame ops before Pandas UDFs).

The reference engine has no temporal operators at all (its only time is the
5 s poll sleep, ocrr_engine.py:31); these belong to the training-data
analytics layer over the driver's ``events`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_last_event(events: DataFrame) -> DataFrame:
    """As-of join of ``events`` against itself: for every ``click``
    event, the most recent ``error`` event of the same user at or before
    it (ties on ts broken by event_id: a same-timestamp reference event
    counts only if its event_id is lower — deterministic, documented).

    This is the *merge* formulation of as-of join: ONE window pass over the
    union'd stream instead of an inequality join. One shuffle on the
    partition key (user_id), no pair blow-up, no range predicate — the plan
    survives 100× because the state per key is a single carried value, and
    partial ordering within partitions is all the sort that happens.
    Null ``last_ref_id`` = no reference event precedes the probe.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = events.select(
        "event_id", "user_id", "ts", "event_type",
        F.last(
            F.when(F.col("event_type") == "error", F.col("event_id")),
            ignorenulls=True,
        ).over(w).alias("last_ref_id"),
    )
    return carried.filter(F.col("event_type") == "click").select(
        "event_id", "user_id",
        F.col("ts").cast("string").alias("ts"),
        "last_ref_id",
    )


def range_join_count(events: DataFrame, minutes: int = 5) -> DataFrame:
    """Range join without an equi key: per event, how many OTHER events
    (corpus-wide) fall in the half-open window ``[ts - minutes, ts)``.

    Spark has no range-join optimizer rule (Databricks' range-join hint is
    proprietary); the open-source-scalable shape is **bin bucketing**: floor
    timestamps to window-length bins, explode each probe row to its two
    candidate bins, equi-join on the bin, then apply the exact range
    predicate. One shuffle on a fixed-width long key instead of a
    BroadcastNestedLoopJoin; bin width = window length bounds every
    candidate list to two bins per probe. Skew is events-per-bin, i.e. the
    data's own burst profile — salt the bin with a probe-side suffix if a
    single bin exceeds a task.

    Zero-match events are kept (n_prior = 0) via a final right join back to
    the probe set.
    """
    bin_len = minutes * 60
    epoch = (F.unix_timestamp("ts")).cast("long")
    a = events.select(
        F.col("event_id").alias("a_id"), F.col("ts").alias("a_ts"),
        F.floor(epoch / bin_len).cast("long").alias("a_bin"),
    ).withColumn("bin", F.explode(F.array(F.col("a_bin"), F.col("a_bin") - 1)))
    b = events.select(
        F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts"),
        F.floor(epoch / bin_len).cast("long").alias("bin"),
    )
    window_start = F.col("a_ts") - F.expr(f"INTERVAL {minutes} MINUTES")
    matched = (
        a.join(b, "bin")
        .filter((F.col("b_ts") >= window_start) & (F.col("b_ts") < F.col("a_ts")))
        .groupBy("a_id").agg(F.count("*").alias("n_prior"))
    )
    return (
        matched.join(events.select(F.col("event_id").alias("a_id")), "a_id", "right")
        .select(
            F.col("a_id").alias("event_id"),
            F.coalesce("n_prior", F.lit(0)).alias("n_prior"),
        )
    )


def funnel(events: DataFrame) -> DataFrame:
    """Ordered-funnel analysis: for each user, the earliest time of step 1
    (signup), the earliest step-2 event (click) strictly AFTER it, the
    earliest step-3 event (purchase) strictly after that — the classic
    conversion funnel with strict temporal ordering (a purchase before the
    signup does not count).

    Shape: one filtered min-agg per step plus an equi-join on user_id between
    steps — every agg is map-side partial, every join keys on user_id, so the
    whole funnel is user-partitioned and skew-free (no per-user windows over
    full event history, no event-type cross join). Emits epoch seconds so the
    output is engine-portable.

    Returns (user_id, t1, t2, t3, steps_reached) for users who reached step 1.
    """
    # parquet timestamps arrive as TIMESTAMP_NTZ (no direct long cast);
    # session tz is pinned UTC so the two-step cast is exact epoch seconds
    ep = F.col("ts").cast("timestamp").cast("long")
    s1 = (events.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.min(ep).alias("t1")))
    s2 = (events.filter(F.col("event_type") == "click")
          .join(s1, "user_id")
          .filter(ep > F.col("t1"))
          .groupBy("user_id").agg(F.min(ep).alias("t2")))
    s3 = (events.filter(F.col("event_type") == "purchase")
          .join(s2, "user_id")
          .filter(ep > F.col("t2"))
          .groupBy("user_id").agg(F.min(ep).alias("t3")))
    return (
        s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
        .select(
            "user_id", "t1", "t2", "t3",
            (F.lit(1)
             + F.when(F.col("t2").isNotNull(), 1).otherwise(0)
             + F.when(F.col("t3").isNotNull(), 1).otherwise(0)).alias("steps_reached"))
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Weekly cohort retention matrix: users are assigned to the epoch-week
    of their FIRST event (cohort); for each (cohort, week_offset) cell,
    the distinct users active that many weeks later and the cohort-relative
    retention in basis points (integer-exact: bp = active*10000 DIV size).

    Shape: one min-agg per user (cohort), one distinct (user, week) agg,
    one equi-join on user_id, one (cohort, offset) count-distinct — every
    stage is a user- or cohort-keyed hash-agg with map-side partials; no
    windows over event history, no cross join, so the plan is flat at any
    corpus size. Epoch weeks (days DIV 7) keep both engines integer-exact.
    """
    week = (F.col("ts").cast("timestamp").cast("long") / F.lit(86400)).cast("long")
    ev = events.select("user_id", (week / 7).cast("long").alias("week"))
    cohort = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    cells = (
        active.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    sizes = cohort.groupBy("cohort_week").agg(F.countDistinct("user_id").alias("cohort_size"))
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week", "week_offset", "n_active", "cohort_size",
            F.expr("CAST(n_active * 10000 DIV cohort_size AS BIGINT)").alias("retention_bp"),
        )
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition counts over each user's event stream:
    (prev_type, next_type, n, share_bp of the prev_type row). The classic
    product-analytics 'what do users do next' matrix.

    One lag window per user partition (per-user history is bounded and the
    key count is huge, so partitions stay balanced) feeding a
    (prev, next) hash-agg; row shares are integer basis points so both
    engines agree bit-for-bit. Ties on ts are broken by event_id — the
    deterministic order both engines can reproduce.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy(F.col("event_type").alias("prev_type"), "next_type").agg(
        F.count("*").alias("n"))
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        counts.join(F.broadcast(totals), "prev_type")
        .select("prev_type", "next_type", "n",
                F.expr("CAST(n * 10000 DIV row_total AS BIGINT)").alias("share_bp"))
    )


def hourly_anomalies(events: DataFrame, trailing: int = 24, k: int = 3) -> DataFrame:
    """Spike detector on the hourly event-count series, integer-exact: an
    hour is anomalous when its count deviates from the trailing-``trailing``
    -hour mean by more than ``k`` sample standard deviations. All arithmetic
    stays in integers by clearing denominators:

        (w*n - s)^2  >  k^2 * (w*ss - s^2) / (w-1)   (cross-multiplied by w-1)

    where s/ss are the trailing sum and sum-of-squares over w full prior
    hours — so Spark and the oracle compare identical BIGINTs, never a
    floating stddev. One hourly hash-agg then one ordered window over the
    (tiny) per-hour series per event_type; at warehouse scale the windowed
    series is hours × types, not rows, so this is driver-cheap by design.
    """
    hour = (F.col("ts").cast("timestamp").cast("long") / F.lit(3600)).cast("long")
    hourly = events.groupBy(F.col("event_type"), hour.alias("hour")).agg(
        F.count("*").alias("n"))
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-trailing, -1))
    stats = hourly.select(
        "event_type", "hour", "n",
        F.count("n").over(w).alias("w"),
        F.sum("n").over(w).alias("s"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("ss"),
    ).filter(F.col("w") == trailing)
    dev = (F.col("w") * F.col("n") - F.col("s"))
    var_num = F.col("w") * F.col("ss") - F.col("s") * F.col("s")
    return stats.select(
        "event_type", "hour", "n", "s", "ss",
        ((dev * dev * (F.col("w") - 1)) > (F.lit(k * k) * var_num * F.col("w")))
        .alias("is_spike"),
    )


def value_trend(events: DataFrame) -> DataFrame:
    """Per-group least-squares trend (is this metric drifting?): OLS slope
    of ``value`` against time for each event_type, computed from the five
    classic sufficient statistics in ONE hash-agg:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    Exactness discipline: x (seconds since 2024-01-01 UTC) stays integral
    and y rides as integer CENTS (value cast DECIMAL(18,2) ×100), so every
    Σ is an exact integer DECIMAL and the release is computed with **no floating
    point at all**: slope_e9 is the half-away-from-zero rounding of the
    exact rational num_cc·10⁹ / (100·den), done as a single truncating
    integer division — `(2a + sign(a)·b) DIV (2b)` — which Spark's `DIV`
    and DuckDB's `//` evaluate identically (both truncate toward zero).
    intercept_e9 is *defined* as the same rounding of
    (sy·10⁹ − slope_e9·sx)/n using the already-released integer slope_e9,
    so it too is a pure-integer expression either engine reproduces bit
    for bit. Map-side partial aggregation makes the shuffle |groups| rows
    of five numbers — the textbook reduction for any moment-based
    statistic at 100 TB.

    Precision ceiling (documented, not silent): the widest term is
    num_cc·2·10⁹ with num_cc kept in DECIMAL(27,0), exact up to ~10⁸ rows
    per group at this corpus's x/y magnitudes; past that, release at e6
    scale (drop three digits from the fold) — the formulation is unchanged.
    Groups with zero x-variance release NULL slope/intercept.

    Returns (event_type, n, slope_e9, intercept_e9) with slope/intercept
    scaled ×1e9, exact-integer-rounded for engine-portable hashing.
    """
    x = (F.col("ts").cast("timestamp").cast("long")
         - F.lit(1704067200)).cast("decimal(17,0)")
    y_cc = F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))")
    s = events.groupBy("event_type").agg(
        F.count("*").cast("decimal(13,0)").alias("n"),
        F.sum(x).cast("decimal(17,0)").alias("sx"),
        F.sum(y_cc).cast("decimal(20,0)").alias("sy_cc"),
        F.sum(x * y_cc).cast("decimal(24,0)").alias("sxy_cc"),
        F.sum(x * x).cast("decimal(24,0)").alias("sxx"),
    )
    # every operand is cast so each product's precision is ≤38 — Spark then
    # computes it EXACTLY (no allowPrecisionLoss rounding); the oracle
    # mirrors the same integer expressions in HUGEINT
    combined = s.select(
        "event_type", "n", "sx", "sy_cc",
        F.expr("CAST(n * sxy_cc - sx * sy_cc AS DECIMAL(27,0))").alias("num_cc"),
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(25,0))").alias("den"),
    )
    # sign() returns DOUBLE in Spark, which would demote the arithmetic to
    # floating point — the CASE branches keep everything DECIMAL; every
    # product below is precision-≤38 so Spark computes it exactly
    slope_e9 = F.expr(
        "CASE WHEN den = 0 THEN NULL ELSE "
        "CAST((num_cc * 2000000000 + "
        "(CASE WHEN num_cc < 0 THEN -(den * 100) ELSE den * 100 END)) "
        "DIV (den * 200) AS BIGINT) END")
    out = (
        combined.withColumn("slope_e9", slope_e9)
        .withColumn("n2", F.expr(
            "CAST(sy_cc * 10000000 - CAST(slope_e9 AS DECIMAL(19,0)) * sx "
            # DECIMAL(38,0): operand types allow up to 38 digits, and a
            # 36-wide cast would NULL silently (allowPrecisionLoss) on
            # corpora just past the documented ~10^8-row ceiling
            "AS DECIMAL(38,0))"))
        .withColumn("intercept_e9", F.expr(
            "CASE WHEN den = 0 THEN NULL ELSE "
            "CAST((n2 * CAST(2 AS DECIMAL(1,0)) + "
            "(CASE WHEN n2 < 0 THEN -n ELSE n END)) "
            "DIV (n * CAST(2 AS DECIMAL(1,0))) AS BIGINT) END")))
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        "slope_e9", "intercept_e9",
    )


def type_correlation(events: DataFrame) -> DataFrame:
    """Pearson correlation between every pair of event-type hourly count
    series — the 'which metrics co-move' matrix behind incident dashboards.

    The statistical trap at scale is the grid, not the math: an inner
    self-join on hour silently drops hours where one series is zero and
    biases the correlation, so the series are first DENSIFIED onto the
    (hour × type) grid — built with the pmod-key broadcast join (equi-key,
    always 0, not constant-foldable), never a CartesianProduct — and
    zero-filled with a left join. Per pair, the five sufficient sums are
    exact BIGINTs (hour counts are small); doubles appear only in the
    final corr expression, mirrored operation-for-operation in the oracle.

    Returns (type_a, type_b, n_hours, corr_e6).
    """
    hour = (F.col("ts").cast("timestamp").cast("long") / F.lit(3600)).cast("long")
    hourly = events.groupBy(F.col("event_type"), hour.alias("hour")).agg(
        F.count("*").alias("n"))
    hours = hourly.select("hour").distinct() \
        .withColumn("__k", F.pmod(F.col("hour"), F.lit(1)) * 0)
    types = hourly.select("event_type").distinct() \
        .withColumn("__k", F.pmod(F.length("event_type"), F.lit(1)))
    grid = hours.join(F.broadcast(types), "__k").select("hour", "event_type")
    dense = (
        grid.join(hourly, ["hour", "event_type"], "left")
        .select("hour", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    a = dense.select("hour", F.col("event_type").alias("type_a"), F.col("n").alias("x"))
    b = dense.select("hour", F.col("event_type").alias("type_b"), F.col("n").alias("y"))
    pairs = a.join(b, "hour").filter(F.col("type_a") < F.col("type_b"))
    s = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_hours"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n_hours").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    dx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    dy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    return s.select(
        "type_a", "type_b", "n_hours",
        F.round(num / F.sqrt(dx * dy) * 1e6).cast("long").alias("corr_e6"),
    )


#: The event types user_type_pivot counts, one column each.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def user_type_pivot(events: DataFrame) -> DataFrame:
    """Wide activity matrix: one row per user, one count column per event
    type plus the total — the ``pivot`` reshaping family. The type list is
    the fixed ``EVENT_TYPES`` (Spark's pivot without values would scan
    once just to discover columns; at warehouse scale the schema is a
    contract, not a discovery). Compiles to a single hash-agg with conditional counts —
    no joins, no explode, map-side partials carry all five counters.
    """
    agg = [F.coalesce(F.col(f"`{t}`"), F.lit(0)).cast("long").alias(t)
           for t in EVENT_TYPES]
    wide = events.groupBy("user_id").pivot("event_type", list(EVENT_TYPES)).count()
    out = wide.select("user_id", *agg)
    total = None
    for t in EVENT_TYPES:
        total = F.col(t) if total is None else total + F.col(t)
    return out.withColumn("total", total.cast("long"))


def top_paths(events: DataFrame, k: int = 20, max_len: int = 20) -> DataFrame:
    """Sequence-mining prep: each user's chronologically ordered event-type
    path (first ``max_len`` steps, '>'-joined), then the top-``k`` most
    common paths — 'what journeys do users actually take'.

    The ``max_len`` cap is applied BEFORE anything is collected: a
    row_number window (sort-based, spills to disk) keeps only each user's
    first ``max_len`` events, so the collect_list agg buffer is bounded at
    ``max_len`` structs even for a hostile bot user with 10^8 events —
    collecting the full history and slicing afterwards would hold the whole
    array in one agg buffer. The window and the groupBy share the user_id
    partitioning (one shuffle total), and (ts, event_id) is a unique total
    order, so the capped path is bit-identical to slice-after-collect.
    Returns (path, n_users) ordered by (n_users desc, path asc).
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    first_steps = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_len)
    )
    paths = (
        first_steps.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(
            F.struct("ts", "event_id", "event_type"))).alias("evs"))
        .select(F.concat_ws(">", F.transform(
            F.col("evs"), lambda s: s["event_type"])).alias("path"))
    )
    counted = paths.groupBy("path").agg(F.count("*").alias("n_users"))
    return (
        counted.orderBy(F.col("n_users").desc(), F.col("path").asc()).limit(k)
    )


def sax_symbols(events: DataFrame, segments: int = 16) -> DataFrame:
    """Symbolic time-series representation (PAA + SAX, Lin/Keogh 2003): the
    hourly count series per event_type is piecewise-aggregate-approximated
    into ``segments`` equal-width time segments (mean level per segment)
    and each level discretized to a 4-letter alphabet — the form motif
    mining / whole-series indexing wants.

    Integer-exact variant: segment id and PAA level use integer DIV
    (level in milli-units); the alphabet breakpoints are 50%/100%/150% of
    the series mean via cross-multiplied integer comparisons (documented
    divergence from the Gaussian-quantile breakpoints of the paper — the
    sandbox discipline is bit-identical cross-engine results). Shape: two
    hash-aggs and a broadcast of |types| extents/means — the series never
    leaves the cluster, only segments do.

    Returns (event_type, segment, n_hours, paa_e3, symbol).
    """
    hour = (F.col("ts").cast("timestamp").cast("long") / F.lit(3600)).cast("long")
    hourly = events.groupBy(F.col("event_type"), hour.alias("hour")).agg(
        F.count("*").alias("n"))
    ext = hourly.groupBy("event_type").agg(
        F.min("hour").alias("mn"), F.max("hour").alias("mx"),
        F.sum("n").alias("total"), F.count("*").alias("n_hours_all"))
    seg = (F.col("hour") - F.col("mn")) * segments / (F.col("mx") - F.col("mn") + 1)
    segd = (
        hourly.join(F.broadcast(ext), "event_type")
        .withColumn("segment", seg.cast("long"))
        .groupBy("event_type", "segment")
        .agg(F.count("*").alias("n_hours"), F.sum("n").alias("s"),
             F.first("total").alias("total"), F.first("n_hours_all").alias("nh"))
    )
    paa = F.expr("s * 1000 DIV n_hours")
    mean = F.expr("total * 1000 DIV nh")
    symbol = (
        F.when(paa * 2 < mean, "a")
        .when(paa <= mean, "b")
        .when(paa * 2 <= mean * 3, "c")
        .otherwise("d")
    )
    return segd.select(
        "event_type", "segment", "n_hours",
        paa.cast("long").alias("paa_e3"), symbol.alias("symbol"))


def active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU / WAU / stickiness per day — with the scalable shape for a
    sliding DISTINCT: a windowed count-distinct over raw events would drag
    each user's whole history through every frame, so instead the
    (user, day) DISTINCT pairs (tiny) are EXPLODED to the ``window_days``
    future days they remain 'active in the trailing window' for, and WAU
    is a plain per-day count-distinct — two hash-aggs and a map-only
    explode, no window over event history. Days where the trailing window
    would reach before the corpus start are dropped (partial windows lie).

    Zero-activity days INSIDE the corpus range still appear: DAU is
    left-joined onto the WAU day spine (WAU is nonzero for any day whose
    trailing window saw activity), with dau coalesced to 0 — an inner join
    would silently drop gap days from the series. A day can only vanish
    entirely when the whole trailing window is dead, in which case WAU
    itself is undefined-zero and stickiness would divide by zero.

    Returns (day, dau, wau, stickiness_bp) with integer basis points.
    """
    day = (F.col("ts").cast("timestamp").cast("long") / F.lit(86400)).cast("long")
    ud = events.select("user_id", day.alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    spread = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + (window_days - 1)))
        .alias("day"))
    wau = spread.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    ext = ud.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    ext = ext.withColumn("__k", F.pmod(F.col("mn"), F.lit(1)) * 0)
    joined = (
        wau.join(dau, "day", "left")
        .withColumn("dau", F.coalesce("dau", F.lit(0)))
        .withColumn("__k", F.pmod(F.col("day"), F.lit(1)) * 0)
        .join(F.broadcast(ext), "__k")
        .filter((F.col("day") >= F.col("mn") + window_days - 1)
                & (F.col("day") <= F.col("mx")))
    )
    return joined.select(
        "day", "dau", "wau",
        F.expr("CAST(dau * 10000 DIV wau AS BIGINT)").alias("stickiness_bp"))


def cohort_ltv(orders: DataFrame) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by month offset since that first order —
    the "how much is a January customer worth after six months" table
    ([[events_retention]] tracks activity; this tracks money).

    Integer end-to-end: months as year·12+month, revenue in cents
    (round(price·100), the orders_rfm convention), per-customer averages
    by truncating DIV. Scale shape: a per-customer min-agg, one equi-join
    back on o_custkey (both sides co-keyed — one shuffle), a (cohort,
    offset) hash-agg, then cumulative windows over |cohorts|×|offsets|
    rows. Output is months², not customers.
    """
    from pyspark.sql import Window

    month = (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
    base = orders.select(
        "o_custkey", month.alias("m"),
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)").alias("cents"))
    firsts = base.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    joined = base.join(firsts, "o_custkey").select(
        "o_custkey", "cohort_m", (F.col("m") - F.col("cohort_m")).alias("offset_m"),
        "cents")
    cohort_sizes = firsts.groupBy("cohort_m").agg(
        F.countDistinct("o_custkey").alias("n_custs"))
    per = joined.groupBy("cohort_m", "offset_m").agg(
        F.sum("cents").alias("rev_cents"))
    w = (Window.partitionBy("cohort_m").orderBy("offset_m")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (per
            .withColumn("cum_rev_cents", F.sum("rev_cents").over(w))
            .join(F.broadcast(cohort_sizes), "cohort_m")
            .select("cohort_m", "offset_m", "n_custs", "rev_cents",
                    "cum_rev_cents",
                    F.expr("CAST(cum_rev_cents DIV n_custs AS BIGINT)")
                     .alias("cum_per_cust_cents")))


def volume_changepoints(events: DataFrame, min_delta_e6: int = 300000) -> DataFrame:
    """Change-point detection on per-type daily event volume: for every
    candidate split day the |mean-before − mean-after| gap is scored in
    exact integer arithmetic (cross-multiplied, ×1e6), and the argmax
    split is reported per event type with a ``shifted`` flag when the gap
    clears ``min_delta_e6`` — the level-shift monitor that catches a
    producer outage or double-fire the hourly z-score
    ([[events_hourly_anomaly]]) smooths over.

    Scale shape: one (type, day) hash-agg over the scan; cumulative sums,
    split scoring and the argmax window all ride |types|×|days| rows.
    Ties break to the earliest split day.
    """
    from pyspark.sql import Window

    day = F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 86400")
    daily = events.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    cum = (daily
           .withColumn("i", F.row_number().over(w))
           .withColumn("cum", F.sum("n").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
           .withColumn("m", F.count("*").over(Window.partitionBy("event_type")))
           .withColumn("tot", F.sum("n").over(Window.partitionBy("event_type"))))
    dec = "DECIMAL(38,0)"
    scored = (cum.where((F.col("i") >= 1) & (F.col("i") < F.col("m")))
              .select(
                  "event_type", F.col("day").alias("split_day"),
                  F.expr(f"CAST(CAST(cum AS {dec}) * 1000000 DIV i AS BIGINT)")
                   .alias("mean_before_e6"),
                  F.expr(f"CAST(CAST(tot - cum AS {dec}) * 1000000"
                         " DIV (m - i) AS BIGINT)").alias("mean_after_e6"),
                  F.expr(
                      f"CAST(abs(CAST(cum AS {dec}) * (m - i)"
                      f" - CAST(tot - cum AS {dec}) * i) * 1000000"
                      " DIV (CAST(i AS DECIMAL(38,0)) * (m - i)) AS BIGINT)")
                   .alias("delta_e6")))
    pick = Window.partitionBy("event_type").orderBy(
        F.col("delta_e6").desc(), F.col("split_day").asc())
    return (scored.withColumn("rn", F.row_number().over(pick))
            .where(F.col("rn") == 1)
            .select("event_type", "split_day", "mean_before_e6",
                    "mean_after_e6", "delta_e6",
                    (F.col("delta_e6") >= min_delta_e6).alias("shifted")))


def seasonal_naive_backtest(events: DataFrame, season: int = 7) -> DataFrame:
    """Forecast-baseline backtest over daily event volume: seasonal-naive
    (forecast = value ``season`` days ago) vs naive-1 (yesterday), scored
    by MAE in ×1e6 integer units per event type — the sanity floor every
    volume forecast must beat before it ships, and a cheap seasonality
    detector (seasonal winning ⇒ weekly structure exists).

    One (type, day) hash-agg over the scan; forecasts attach by DAY-keyed
    equi-joins (day−season, day−1), not row-offset lags — a zero-volume
    day would silently shift a row lag and misalign every forecast after
    it. Scored days are those where BOTH forecasts exist, so the two
    models compare on identical days; MAEs ride |types|×|days| rows.
    """
    day = F.expr("CAST(floor(unix_timestamp(ts)) AS BIGINT) DIV 86400")
    daily = events.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.count("*").alias("n"))
    fs = daily.select("event_type", (F.col("day") + season).alias("day"),
                      F.col("n").alias("f_season"))
    fn = daily.select("event_type", (F.col("day") + 1).alias("day"),
                      F.col("n").alias("f_naive"))
    lagged = (daily.join(fs, ["event_type", "day"])
              .join(fn, ["event_type", "day"]))
    dec = "DECIMAL(38,0)"
    return (lagged.groupBy("event_type")
            .agg(F.count("*").alias("n_days"),
                 F.sum(F.abs(F.col("n") - F.col("f_season"))).alias("ae_s"),
                 F.sum(F.abs(F.col("n") - F.col("f_naive"))).alias("ae_n"))
            .select(
                "event_type", "n_days",
                F.expr(f"CAST(CAST(ae_s AS {dec}) * 1000000 DIV n_days"
                       " AS BIGINT)").alias("mae_seasonal_e6"),
                F.expr(f"CAST(CAST(ae_n AS {dec}) * 1000000 DIV n_days"
                       " AS BIGINT)").alias("mae_naive_e6"))
            .withColumn("seasonal_wins",
                        F.col("mae_seasonal_e6") < F.col("mae_naive_e6")))
