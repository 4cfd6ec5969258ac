"""§2.18 round-6 additions, part 3 (EXT): lifecycle / robust-stats /
product-analytics breadth.

Six operators a warehouse-analytics user reaches for right after the
§2.17 set: cohort LTV curves, robust (Theil–Sen) trend estimation,
ABC/Pareto classification, the Wald–Wolfowitz runs test, winsorized
group statistics, and top session paths.  Every key follows the
FIXTURES.md determinism rules: exact integer units (cents) end to end,
order-free integer/DECIMAL sums, `div` for integer division (§8.7),
magnitude-aware rounding (§8.14) on the one interpolated statistic,
identical double algebra on both engines for every final ratio, and a
full tie-break chain under every rank/limit."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .. import windows as win  # noqa: F401
from ..io import epoch_us, load_table  # noqa: F401
from ..session import persist_bounded
from ._core import (  # noqa: F401
    ORACLE_SQL,
    QUERIES,
    register,
)

#: 30-minute inactivity gap — MUST match keys_ext._SESSION_GAP_US so
#: q_session_paths segments identically to q_sessionize.
_SESSION_GAP_US = 30 * 60 * 1_000_000

#: q_session_paths keeps the first PATH_LEN event types per session.
_PATH_LEN = 3

#: q_session_paths reports the top-k most common paths.
_PATH_TOPK = 20

#: Conditional-aggregation path slots, generated from _PATH_LEN so the
#: constant actually drives BOTH engines (a hardcoded 3-slot concat
#: would silently ignore a changed _PATH_LEN).
_PATH_SLOTS_SQL = ",\n           ".join(
    f"MAX(CASE WHEN r = {i} THEN event_type END)"
    for i in range(1, _PATH_LEN + 1)
)


# ========================================================================
# q_cohort_ltv — monthly-cohort cumulative LTV / retention curve
# ========================================================================


@register(
    "q_cohort_ltv",
    oracle="""
WITH t AS (
  SELECT o_custkey,
         EXTRACT(YEAR FROM o_orderdate) * 12
           + EXTRACT(MONTH FROM o_orderdate) - 1 AS ym,
         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
),
m AS (
  SELECT *, MIN(ym) OVER (PARTITION BY o_custkey) AS m0 FROM t
),
g AS (
  SELECT m0, CAST(ym - m0 AS BIGINT) AS age,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
         CAST(SUM(cents) AS BIGINT) AS c
  FROM m GROUP BY m0, ym - m0
),
w AS (
  SELECT m0, age, n_active, c,
         CAST(SUM(c) OVER cw AS BIGINT) AS cum,
         FIRST_VALUE(n_active) OVER cw AS size
  FROM g
  WINDOW cw AS (PARTITION BY m0 ORDER BY age NULLS LAST
                ROWS UNBOUNDED PRECEDING)
)
SELECT PRINTF('%04d-%02d', m0 // 12, m0 % 12 + 1) AS cohort,
       age, n_active,
       CAST(c AS DOUBLE) / 100 AS revenue,
       CAST(cum AS DOUBLE) / (100.0 * size) AS cum_ltv,
       CAST(n_active AS DOUBLE) / size AS retention
FROM w
""",
)
def q_cohort_ltv(spark, sf_dir):
    """Monthly-cohort LTV curve: customers cohorted by first-order
    month; per cohort-age, the active-customer count, revenue, the
    CUMULATIVE revenue per original cohort member (the LTV curve
    finance reads), and retention — the canonical subscription /
    repeat-purchase lifecycle report.

    Every customer's first order is in their cohort month, so
    cohort size == n_active at age 0 and is picked up for free as
    FIRST_VALUE over the same cumulative window — no second scan, no
    join.  Physically: one orders scan → per-customer window (shuffle
    on o_custkey) → (cohort, age) aggregate → windows over the
    BOUNDED cohort×age grid (≤ months² rows regardless of SF).
    Months as integer ym = y*12+m-1; revenue in exact integer cents;
    ltv/retention are single divisions of exact integers (the 100.0 *
    size product is float-exact), so both engines produce identical
    doubles unrounded."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
            "ym"
        ),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    m = t.withColumn(
        "m0", F.min("ym").over(Window.partitionBy("o_custkey"))
    )
    g = m.groupBy("m0", (F.col("ym") - F.col("m0")).alias("age")).agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("cents").alias("c"),
    )
    # Explicit NULLS LAST: Spark defaults ASC NULLS FIRST while DuckDB
    # defaults ASC NULLS LAST — a NULL-derived age (NULL o_orderdate
    # after a fixture regeneration) would otherwise shift every
    # cumulative value of its cohort on one engine only (the same
    # hardening q_topk_movers carries for period 0).
    cw = (
        Window.partitionBy("m0")
        .orderBy(F.col("age").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w = g.select(
        "m0",
        "age",
        "n_active",
        "c",
        F.sum("c").over(cw).alias("cum"),
        F.first("n_active").over(cw).alias("size"),
    )
    return w.select(
        F.format_string(
            "%04d-%02d",
            F.expr("m0 div 12").cast("int"),
            (F.col("m0") % 12 + 1).cast("int"),
        ).alias("cohort"),
        "age",
        "n_active",
        (F.col("c").cast("double") / 100).alias("revenue"),
        (F.col("cum").cast("double") / (100.0 * F.col("size"))).alias(
            "cum_ltv"
        ),
        (F.col("n_active").cast("double") / F.col("size")).alias(
            "retention"
        ),
    )


# ========================================================================
# q_theil_sen_trend — robust daily-revenue trend (median of slopes)
# ========================================================================


@register(
    "q_theil_sen_trend",
    oracle="""
WITH d AS (
  SELECT EPOCH_US(o_orderdate) // 86400000000 AS dayidx,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
  FROM orders GROUP BY 1
),
p AS (
  SELECT CAST(b.c - a.c AS DOUBLE) / (b.dayidx - a.dayidx) AS slope
  FROM d a JOIN d b ON a.dayidx < b.dayidx
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_pairs,
       (SELECT CAST(MAX(dayidx) - MIN(dayidx) AS BIGINT) FROM d)
         AS day_span,
       (SELECT ROUND(MEDIAN(slope) / 100, 6) FROM p)
         AS trend_usd_per_day
""",
)
def q_theil_sen_trend(spark, sf_dir):
    """Theil–Sen robust trend of daily revenue: the MEDIAN of all
    pairwise day-to-day slopes — the outlier-immune alternative to
    OLS (q_linear_regression) that a single flash-sale day cannot
    drag.

    The O(D²) pair set is over the DAY GRAIN, which is bounded by the
    calendar (≤ ~2,500 days for this fixture's 7-year span) and does
    NOT grow with data volume — at 100 TB the only full-data stage is
    still the one groupBy to the day table; the self-join broadcasts
    a few-thousand-row side.  Slopes are single divisions of exact
    integer cents by integer day gaps → bit-identical doubles on both
    engines; the median interpolates the two middle order statistics
    (DuckDB MEDIAN ≡ quantile_cont(0.5)), so the result is reported
    in DOLLARS at round(6) — |slope| < 1e6, digits+scale ≤ 12, safely
    inside the §8.14 magnitude-aware rounding bound (cents at
    round(9) would sit at 17).

    The median itself is a TWO-PHASE DISTRIBUTED RANK SELECTION via
    ``windows.scalable_rank``, not percentile(): Spark's exact
    percentile is a TypedImperative value→count map whose
    partial-merge on ~3 M mostly-distinct doubles measured 13.7 s at
    sf0.1, and a bare global row_number is a one-task sort.  The
    helper buckets by VALUE-DETERMINISTIC slope boundaries (frozen
    driver-side literals — the local-rank and bucket-count lineage
    branches must agree on every row's bucket, and a
    ``spark_partition_id`` stamp only agrees when AQE exchange reuse
    happens to dedupe the exchanges; round-6 adversarial review), then
    per-bucket row_number + broadcast prefix-count offsets = global
    rank → filter the two middle ranks → avg.  Measured 3.4 s warm,
    same value to the last ulp; rank ties among equal slopes are
    value-neutral."""
    p, d = _theil_sen_slopes(spark, sf_dir)
    # Persist the slope table: the rank helper's boundary scan, bucket
    # counts, and bucket windows each traverse it (the branch-DAG
    # persist discipline).  Purely perf — bucket ids are a function of
    # the value, so an evicted/recomputed partition is still
    # consistent — and the returned plan reads it lazily, so the
    # bounded cache pool owns the release.
    p = persist_bounded(p)
    ranked = win.scalable_rank(
        p, [F.col("slope")], "slope", rank_col="_grank", tot_col="_tot"
    )
    sel = ranked.filter(
        (F.col("_grank") == F.expr("(_tot + 1) div 2"))
        | (F.col("_grank") == F.expr("(_tot + 2) div 2"))
    )
    med = sel.agg(
        F.max("_tot").alias("n_pairs"),
        F.round(F.avg("slope") / 100, 6).alias("trend_usd_per_day"),
    )
    span = d.agg(
        (F.max("dayidx") - F.min("dayidx")).cast("long").alias("day_span")
    )
    return med.crossJoin(span).select(
        "n_pairs", "day_span", "trend_usd_per_day"
    )


def _theil_sen_slopes(spark, sf_dir):
    """Slope builder (day grain → broadcast pair join), factored out
    to keep the rank-selection phase readable.  Returns
    (slopes, day_table)."""
    o = load_table(spark, sf_dir, "orders")
    us = epoch_us(o, "o_orderdate")
    d = o.groupBy(
        F.floor(us / F.lit(86_400_000_000)).alias("dayidx")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("c")
    )
    a = d.alias("a")
    b = d.alias("b")
    p = a.join(
        F.broadcast(b), F.col("a.dayidx") < F.col("b.dayidx")
    ).select(
        (
            (F.col("b.c") - F.col("a.c")).cast("double")
            / (F.col("b.dayidx") - F.col("a.dayidx"))
        ).alias("slope")
    )
    return p, d


# ========================================================================
# q_abc_classification — Pareto (80/95) revenue classes over parts
# ========================================================================


@register(
    "q_abc_classification",
    oracle="""
WITH rc AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
m AS (
  SELECT l_partkey, cents,
         CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum,
         CAST(SUM(cents) OVER () AS BIGINT) AS tot
  FROM rc
),
cl AS (
  SELECT CASE WHEN CAST(cum AS DOUBLE) / tot <= 0.80 THEN 'A'
              WHEN CAST(cum AS DOUBLE) / tot <= 0.95 THEN 'B'
              ELSE 'C' END AS abc_class,
         cents FROM m
)
SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS DOUBLE) / 100 AS revenue,
       CAST(SUM(cents) AS DOUBLE)
         / (SELECT CAST(SUM(cents) AS DOUBLE) FROM rc) AS share
FROM cl GROUP BY abc_class ORDER BY abc_class
""",
)
def q_abc_classification(spark, sf_dir):
    """ABC (Pareto) classification of parts by gross revenue: rank
    parts by revenue, class A = the head covering ≤80% of cumulative
    revenue, B = next to 95%, C = tail — the inventory-management /
    catalog-curation classic behind '20% of SKUs drive 80% of
    revenue'.

    Gross extended price (no discount factor) keeps the unit an EXACT
    integer cent sum — the §8.15 half-cent discount ties never arise.
    The global ordered window runs over the PART grain (dimension
    cardinality, not fact cardinality; same single-partition shape as
    q_gains_table), with the full (cents DESC, l_partkey) tie-break
    so cum is reproducible row-by-row; cum/tot are identical doubles
    of exact integers on both engines, so the 0.80/0.95 boundary
    CASE cannot disagree.  3-row output, ordered."""
    li = load_table(spark, sf_dir, "lineitem")
    rc = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        ).alias("cents")
    )
    wcum = Window.orderBy(
        F.col("cents").desc(), F.col("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, 0)
    m = rc.select(
        "cents",
        F.sum("cents").over(wcum).alias("cum"),
        F.sum("cents").over(Window.partitionBy()).alias("tot"),
    )
    share_pos = F.col("cum").cast("double") / F.col("tot")
    cl = m.select(
        F.when(share_pos <= 0.80, F.lit("A"))
        .when(share_pos <= 0.95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "cents",
        "tot",
    )
    return (
        cl.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.sum("cents").cast("double") / 100).alias("revenue"),
            (
                F.sum("cents").cast("double")
                / F.first("tot").cast("double")
            ).alias("share"),
        )
        .orderBy("abc_class")
    )


# ========================================================================
# q_runs_test — Wald–Wolfowitz runs test on daily revenue
# ========================================================================


@register(
    "q_runs_test",
    oracle="""
WITH d AS (
  SELECT EPOCH_US(o_orderdate) // 86400000000 AS dayidx,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS c
  FROM orders GROUP BY 1
),
s AS (
  SELECT dayidx,
         CASE WHEN c * (SELECT COUNT(*) FROM d)
                   > (SELECT SUM(c) FROM d) THEN 1 ELSE 0 END AS sgn
  FROM d
),
r AS (
  SELECT sgn,
         CASE WHEN LAG(sgn) OVER (ORDER BY dayidx) IS NULL
                OR sgn <> LAG(sgn) OVER (ORDER BY dayidx)
              THEN 1 ELSE 0 END AS new_run
  FROM s
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(sgn) AS BIGINT) AS n_above,
         CAST(COUNT(*) - SUM(sgn) AS BIGINT) AS n_below,
         CAST(SUM(new_run) AS BIGINT) AS runs
  FROM r
)
SELECT n_days, n_above, n_below, runs,
       CASE WHEN n_above > 0 AND n_below > 0 THEN
         (runs - (1.0 + ((2.0 * n_above) * n_below) / n_days))
         / SQRT((((2.0 * n_above) * n_below)
                 * ((2.0 * n_above) * n_below - n_days))
                / ((CAST(n_days AS DOUBLE) * n_days) * (n_days - 1.0)))
       END AS z_stat
FROM agg
""",
)
def q_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test for randomness of the daily-revenue
    series: days are signed above/below the global daily mean, runs
    of equal sign are counted, and the run count is z-scored against
    its null mean/variance — the classic screen for serial
    dependence (trend or oscillation) before trusting an i.i.d.
    assumption.

    The above-mean flag is an INTEGER cross-multiplication
    (c·D > ΣC) — no mean division, no float compare.  Runs via lag
    over the bounded day table.  The z algebra uses products of
    counts ≤ ~2,500, all exactly representable, written with
    identical parenthesization on both engines so every intermediate
    double is bit-equal; degenerate series (all days one side) yield
    NULL z on both.  One orders scan; everything after is on the
    ≤2,500-row day grain."""
    o = load_table(spark, sf_dir, "orders")
    us = epoch_us(o, "o_orderdate")
    d = o.groupBy(
        F.floor(us / F.lit(86_400_000_000)).alias("dayidx")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("c")
    )
    wall = Window.partitionBy()
    s = d.select(
        "dayidx",
        F.when(
            F.col("c") * F.count(F.lit(1)).over(wall)
            > F.sum("c").over(wall),
            1,
        )
        .otherwise(0)
        .alias("sgn"),
    )
    lag = F.lag("sgn", 1).over(Window.orderBy("dayidx"))
    r = s.select(
        "sgn",
        F.when(lag.isNull() | (F.col("sgn") != lag), 1)
        .otherwise(0)
        .alias("new_run"),
    )
    agg = r.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("sgn").alias("n_above"),
        (F.count(F.lit(1)) - F.sum("sgn")).alias("n_below"),
        F.sum("new_run").alias("runs"),
    )
    n = F.col("n_days")
    n1 = F.col("n_above")
    n0 = F.col("n_below")
    two_ab = (2.0 * n1) * n0
    mu = 1.0 + two_ab / n
    var = (two_ab * (two_ab - n)) / (
        (n.cast("double") * n) * (n - 1.0)
    )
    return agg.select(
        "n_days",
        "n_above",
        "n_below",
        "runs",
        F.when(
            (n1 > 0) & (n0 > 0),
            (F.col("runs") - mu) / F.sqrt(var),
        ).alias("z_stat"),
    )


# ========================================================================
# q_winsorized_stats — per-nation winsorized (p05/p95) account stats
# ========================================================================


@register(
    "q_winsorized_stats",
    oracle="""
WITH t AS (
  SELECT c_nationkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents,
         c_custkey
  FROM customer
),
w AS (
  SELECT c_nationkey, cents,
         ROW_NUMBER() OVER nw AS rn,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM t WINDOW nw AS (PARTITION BY c_nationkey ORDER BY cents, c_custkey)
),
b AS (
  SELECT c_nationkey, cents, n,
         MAX(CASE WHEN rn = (n + 19) // 20 THEN cents END)
           OVER (PARTITION BY c_nationkey) AS lo,
         MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END)
           OVER (PARTITION BY c_nationkey) AS hi
  FROM w
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(MAX(lo) AS DOUBLE) / 100 AS lo_usd,
       CAST(MAX(hi) AS DOUBLE) / 100 AS hi_usd,
       CAST(SUM(LEAST(GREATEST(cents, lo), hi)) AS DOUBLE)
         / (100.0 * MAX(n)) AS win_mean,
       CAST(SUM(cents) AS DOUBLE) / (100.0 * MAX(n)) AS raw_mean
FROM b GROUP BY c_nationkey
""",
)
def q_winsorized_stats(spark, sf_dir):
    """Per-nation winsorized mean of customer account balances: clip
    each group at its nearest-rank 5th/95th percentile, then average
    — the robust-preprocessing staple that tames fat tails without
    dropping rows (vs q_outlier_mad, which flags; this one repairs).

    NEAREST-RANK bounds, not interpolated: rank k_lo = ceil(n/20) and
    k_hi = ceil(19n/20) via pure INTEGER `div` arithmetic (§8.7 —
    0.05·n float math could straddle an integer), so the clip bounds
    are exact integer cents picked from the sorted group (ties on
    cents make the rank-k value unique regardless of the c_custkey
    tie-break), the clipped sum stays integer, and both means are
    single exact-integer divisions.  Physically ONE exchange: the
    row_number / count / bound windows and the final groupBy all
    cluster on c_nationkey."""
    c = load_table(spark, sf_dir, "customer")
    t = c.select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
        "c_custkey",
    )
    nw = Window.partitionBy("c_nationkey").orderBy("cents", "c_custkey")
    pw = Window.partitionBy("c_nationkey")
    w = t.select(
        "c_nationkey",
        "cents",
        F.row_number().over(nw).alias("rn"),
        F.count(F.lit(1)).over(pw).alias("n"),
    )
    b = w.select(
        "c_nationkey",
        "cents",
        "n",
        F.max(
            F.when(F.col("rn") == F.expr("(n + 19) div 20"), F.col("cents"))
        )
        .over(pw)
        .alias("lo"),
        F.max(
            F.when(
                F.col("rn") == F.expr("(19 * n + 19) div 20"),
                F.col("cents"),
            )
        )
        .over(pw)
        .alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    # group on the RAW key so the aggregate reuses the window's
    # c_nationkey exchange (a cast-in-key is a different expression to
    # Catalyst and would force a second shuffle); cast in the output
    return (
        b.groupBy("c_nationkey")
        .agg(
            F.max("n").alias("n_customers"),
            (F.max("lo").cast("double") / 100).alias("lo_usd"),
            (F.max("hi").cast("double") / 100).alias("hi_usd"),
            (
                F.sum(clipped).cast("double") / (100.0 * F.max("n"))
            ).alias("win_mean"),
            (
                F.sum("cents").cast("double") / (100.0 * F.max("n"))
            ).alias("raw_mean"),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "n_customers",
            "lo_usd",
            "hi_usd",
            "win_mean",
            "raw_mean",
        )
    )


# ========================================================================
# q_session_paths — top event-type paths over 30-min sessions
# ========================================================================


@register(
    "q_session_paths",
    oracle=f"""
WITH t AS (
  SELECT user_id, event_id, EPOCH_US(ts) AS us, event_type FROM events
),
m AS (
  SELECT *,
         CASE WHEN LAG(us) OVER w IS NULL
                OR us - LAG(us) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
s AS (
  SELECT *,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM m
),
rn AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess
                               ORDER BY us, event_id) AS r
  FROM s
),
p AS (
  SELECT CONCAT_WS('>',
           {_PATH_SLOTS_SQL}) AS path
  FROM rn WHERE r <= {_PATH_LEN} GROUP BY user_id, sess
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {_PATH_TOPK}
""",
)
def q_session_paths(spark, sf_dir):
    """Top-20 session-opening paths: sessionize the event stream at
    the 30-minute gap (identical segmentation to q_sessionize), take
    each session's first three event types as a '>'-joined path, and
    rank paths by session count — the product-analytics 'what do
    users do first' report that motivates every funnel.

    The path is built by CONDITIONAL AGGREGATION on the in-session
    row_number (max of rank-1/2/3 types), NOT collect_list — Spark's
    groupBy array_agg has no deterministic order; concat_ws skips the
    NULL slots of short sessions identically on both engines.  All
    three windows and the session groupBy cluster on user_id (the
    (user_id, sess) requirements are satisfied by the user_id
    exchange), so the fact table shuffles ONCE; the path table is
    tiny (≤ |event_type|³) and the top-20 is a
    TakeOrderedAndProject under the full (count DESC, path) order."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "user_id", "event_id", epoch_us(ev).alias("us"), "event_type"
    )
    uw = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us", 1).over(uw)
    s = t.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0),
    ).withColumn(
        "sess",
        F.sum("new_s").over(uw.rowsBetween(Window.unboundedPreceding, 0)),
    )
    rn = s.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("user_id", "sess").orderBy(
                "us", "event_id"
            )
        ),
    ).filter(F.col("r") <= _PATH_LEN)
    p = rn.groupBy("user_id", "sess").agg(
        F.concat_ws(
            ">",
            *[
                F.max(F.when(F.col("r") == i, F.col("event_type")))
                for i in range(1, _PATH_LEN + 1)
            ],
        ).alias("path")
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_PATH_TOPK)
    )
