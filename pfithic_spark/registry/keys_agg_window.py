"""§2.4 aggregation breadth + §2.5 window functions.

Mechanically split out of the flat registry.py (r5); behavior and
registration order unchanged — the façade imports families in the
original section order."""
from __future__ import annotations

import os  # noqa: F401

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .. import aggregates as agg  # noqa: F401
from .. import fixtures as fx  # noqa: F401
from .. import hic  # noqa: F401
from .. import llmops  # noqa: F401
from .. import multimodal  # noqa: F401
from .. import relational as rel  # noqa: F401
from .. import streaming as strm  # noqa: F401
from .. import windows as win  # noqa: F401
from ..io import epoch_us, load_table  # noqa: F401
from ..llmops import dot_double, knuth_hash, l2_norm  # noqa: F401
from ..session import ensure_engine_confs  # noqa: F401
from ._core import (  # noqa: F401
    DIST_HI,
    DIST_LO,
    GOLDEN_ORACLE_KEYS,
    ORACLE_SQL,
    QUERIES,
    _GOLDEN_DIR,
    _golden_oracle,
    register,
)

# ========================================================================
# §2.4 aggregation breadth
# ========================================================================


@register(
    "q_agg_bin",
    oracle=f"""
WITH {fx.contacts_cte()},
b AS (
  SELECT CAST(FLOOR((mid2 - mid1) / 100000.0) AS BIGINT) AS bin_id,
         mid2 - mid1 AS dist, contact_count AS cc
  FROM contacts
)
SELECT bin_id,
       COUNT(*) AS n_pairs,
       CAST(SUM(cc) AS BIGINT) AS sum_cc,
       CAST(SUM(dist * cc) AS DOUBLE) / SUM(cc) AS avg_dist,
       SQRT((CAST(SUM(cc * cc) AS DOUBLE) - CAST(SUM(cc) AS DOUBLE) * SUM(cc) / COUNT(*))
            / NULLIF(COUNT(*) - 1, 0)) / SQRT(COUNT(*)) AS stderr
FROM b
GROUP BY bin_id
""",
)
def q_agg_bin(spark, sf_dir):
    """Per-bin null support stats with count-weighted mean + stderr
    (ref: calculateProbabilities).  stderr from exact integer power sums
    so the float math is order-independent."""
    c = rel.with_distance(fx.fixture_contacts(spark, sf_dir))
    b = c.select(
        F.floor(F.col("dist") / 100000.0).cast("long").alias("bin_id"),
        F.col("dist"),
        F.col("contact_count").alias("cc"),
    )
    n = F.count(F.lit(1))
    s1 = F.sum("cc")
    s2 = F.sum(F.col("cc") * F.col("cc"))
    var = (s2.cast("double") - s1.cast("double") * s1 / n) / F.when(
        n - 1 != 0, n - 1
    )
    return b.groupBy("bin_id").agg(
        n.alias("n_pairs"),
        s1.alias("sum_cc"),
        (F.sum(F.col("dist") * F.col("cc")).cast("double") / s1).alias("avg_dist"),
        (F.sqrt(var) / F.sqrt(n)).alias("stderr"),
    )


@register(
    "q_agg_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def q_agg_distinct(spark, sf_dir):
    """Exact distinct per group (EXT) — expand+dedup handled by Catalyst."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register("q_agg_approx", oracle=_golden_oracle("q_agg_approx"))
def q_agg_approx(spark, sf_dir):
    """Approximate distinct via HyperLogLog++ (EXT).  At 100 TB this is
    the only sane distinct-cardinality path: fixed-size sketch, one pass,
    mergeable across partitions."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.approx_count_distinct("event_id").alias("approx_events"),
    )


_ORDERS_JOINED_SQL = """
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def _orders_joined(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
    )


@register(
    "q_corr_exact",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         -- DECIMAL(24,4) inputs force DuckDB's exact hugeint multiply
         -- (an int64-width (18,4) product overflows past 10^18)
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(24,4)) * CAST(l_quantity AS DECIMAL(24,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(24,4)) * CAST(l_extendedprice AS DECIMAL(24,4)) AS DECIMAL(38,8))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(24,4)) * CAST(l_extendedprice AS DECIMAL(24,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 9) AS corr_qty_price
FROM s
""",
)
def q_corr_exact(spark, sf_dir):
    """Pearson correlation per group via EXACT decimal sufficient
    statistics: the five sums are order-independent DECIMAL aggregates
    (shuffle-safe — a float running sum would make the result depend on
    partition merge order), and only the final closed-form expression
    runs in DOUBLE.  The built-in F.corr streams float moments and is
    NOT reproducible across partitionings; this form is, bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")

    def d18(c):
        return F.col(c).cast("decimal(18,4)")

    def dprod(a, b):
        return (d18(a) * d18(b)).cast("decimal(38,8)")

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d18("l_quantity")).cast("double").alias("sx"),
        F.sum(d18("l_extendedprice")).cast("double").alias("sy"),
        F.sum(dprod("l_quantity", "l_quantity")).cast("double").alias("sxx"),
        F.sum(dprod("l_extendedprice", "l_extendedprice"))
        .cast("double")
        .alias("syy"),
        F.sum(dprod("l_quantity", "l_extendedprice"))
        .cast("double")
        .alias("sxy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "l_returnflag", "n", F.round(corr, 9).alias("corr_qty_price")
    )


@register(
    "q_rollup",
    oracle=f"""
SELECT r_name, n_name,
       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
{_ORDERS_JOINED_SQL}
GROUP BY ROLLUP (r_name, n_name)
""",
)
def q_rollup(spark, sf_dir):
    """Hierarchical totals region→nation→grand (EXT)."""
    return (
        _orders_joined(spark, sf_dir)
        .rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            agg.dsum("o_totalprice").alias("total_price"),
        )
    )


@register(
    "q_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        agg.dsum("l_quantity").alias("sum_qty"),
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""".strip()


@register("q_grouping_sets", oracle=_GROUPING_SETS_SQL)
def q_grouping_sets(spark, sf_dir):
    """Explicit grouping sets — same SQL text on both engines (Spark
    runs it over a namespaced temp view)."""
    view = "pfithic_spark_lineitem_src"
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    return spark.sql(_GROUPING_SETS_SQL.replace("FROM lineitem", f"FROM {view}"))


@register(
    "q_pivot",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_returnflag = 'A') AS DOUBLE) AS qty_A,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_returnflag = 'N') AS DOUBLE) AS qty_N,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS qty_R
FROM lineitem
GROUP BY l_linestatus
""",
)
def q_pivot(spark, sf_dir):
    """Wide per-category aggregates via pivot (EXT).  Pivot values are
    given explicitly — never let Spark scan for distinct values at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(agg.dsum("l_quantity"))
    )
    return p.select(
        "l_linestatus",
        F.col("A").alias("qty_A"),
        F.col("N").alias("qty_N"),
        F.col("R").alias("qty_R"),
    )


# ========================================================================
# §2.5 window functions
# ========================================================================


_BYD_CTE = """
byd AS (
  SELECT mid2 - mid1 AS d,
         CAST(SUM(contact_count) AS BIGINT) AS cc,
         COUNT(*) AS np
  FROM contacts
  GROUP BY mid2 - mid1
)
""".strip()


@register(
    "q_window_running",
    oracle=f"""
WITH {fx.contacts_cte()},
{_BYD_CTE}
SELECT d, cc,
       CAST(SUM(cc) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cc
FROM byd
""",
)
def q_window_running(spark, sf_dir):
    """Global running sum over distance — the heart of equal-occupancy
    binning — via the TWO-PHASE scalable cumsum (§4.4), not a one-task
    global window."""
    c = rel.with_distance(fx.fixture_contacts(spark, sf_dir))
    byd = win.per_distance_totals(c)
    return win.scalable_cumsum(byd, "d", {"running_cc": "cc"}).select(
        "d", "cc", "running_cc"
    )


@register(
    "q_equal_occupancy_binning",
    oracle=f"""
WITH {fx.contacts_cte()},
{_BYD_CTE},
tot AS (SELECT CAST(SUM(cc) AS DOUBLE) / {fx.NBINS_OCC}.0 AS target FROM byd),
cum AS (
  SELECT d, cc, np,
         SUM(cc) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcc
  FROM byd
),
assigned AS (
  SELECT d, cc, np,
         LEAST(CAST(FLOOR((cumcc - cc) / target) AS BIGINT), {fx.NBINS_OCC - 1}) AS bin_id
  FROM cum CROSS JOIN tot
)
SELECT bin_id,
       CAST(MIN(d) AS BIGINT) AS min_dist,
       CAST(MAX(d) AS BIGINT) AS max_dist,
       CAST(SUM(cc) AS BIGINT) AS sum_cc,
       CAST(SUM(np) AS BIGINT) AS n_pairs,
       CAST(SUM(d * cc) AS DOUBLE) / SUM(cc) AS avg_dist
FROM assigned
GROUP BY bin_id
""",
)
def q_equal_occupancy_binning(spark, sf_dir):
    """Full equal-occupancy binning [SC-1]: per-distance compression →
    scalable cumsum → bin assignment → per-bin support stats
    (ref: calculateProbabilities)."""
    c = rel.with_distance(fx.fixture_contacts(spark, sf_dir))
    byd = win.per_distance_totals(c)
    assigned = win.equal_occupancy_assign(byd, fx.NBINS_OCC)
    return win.bin_stats(assigned)


#: BH test count M = possible intra pairs on the 500-bin grid summed
#: over the fixture's chromosomes [SC-3]
POSSIBLE_PAIRS_M = fx.N_CHROMS * fx.NBINS_GRID * (fx.NBINS_GRID - 1) // 2

_SCORED_CTE = """
scored AS (
  SELECT chr1, mid1, chr2, mid2, contact_count,
         CAST((mid1 * 31 + mid2 * 17 + contact_count * 7919) % 1000003 AS DOUBLE) / 1000003.0 AS p_value
  FROM contacts
)
""".strip()


@register(
    "q_bh_fdr",
    oracle=f"""
WITH {fx.contacts_cte()},
{_SCORED_CTE},
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_value, chr1, mid1, mid2) AS rk FROM scored
),
q0 AS (
  SELECT *, LEAST(1.0, p_value * {POSSIBLE_PAIRS_M}.0 / rk) AS q_raw FROM ranked
)
SELECT chr1, mid1, chr2, mid2, contact_count,
       ROUND(p_value, 9) AS p_value,
       ROUND(MIN(q_raw) OVER (ORDER BY rk DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS q_value
FROM q0
""",
)
def q_bh_fdr(spark, sf_dir):
    """Benjamini–Hochberg with M = possible (not observed) pair count
    [SC-3] over a deterministic synthetic p column (the real pipeline
    plugs binom_sf p-values into the same operator)."""
    c = fx.fixture_contacts(spark, sf_dir)
    scored = c.withColumn(
        "p_value",
        (
            (F.col("mid1") * 31 + F.col("mid2") * 17 + F.col("contact_count") * 7919)
            % 1000003
        ).cast("double")
        / 1000003.0,
    )
    out = win.bh_fdr(
        scored, "p_value", m=POSSIBLE_PAIRS_M, tiebreak=["chr1", "mid1", "mid2"]
    )
    return out.select(
        "chr1",
        "mid1",
        "chr2",
        "mid2",
        "contact_count",
        F.round("p_value", 9).alias("p_value"),
        F.round("q_value", 9).alias("q_value"),
    )


@register(
    "q_window_ntile",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
       ROUND(PERCENT_RANK() OVER w, 9) AS prk,
       ROUND(CUME_DIST() OVER w, 9) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
""",
)
def q_window_ntile(spark, sf_dir):
    """Distribution window functions (ntile / percent_rank / cume_dist)
    per customer — engine-completeness family alongside q_window_rank.
    Deterministic tie-breaker (orderkey) in the ordering."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("prk"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
    )


@register(
    "q_join_outer",
    oracle="""
WITH c AS (
  SELECT c_custkey AS k, c_acctbal FROM customer WHERE c_custkey % 5 < 3
),
o AS (
  SELECT o_custkey AS k, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT COALESCE(c.k, o.k) AS custkey,
       COALESCE(c.c_acctbal, -99999.0) AS acctbal,
       CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders
FROM c FULL OUTER JOIN o ON c.k = o.k
""",
)
def q_join_outer(spark, sf_dir):
    """Full outer join with unmatched rows on BOTH sides (custkey%5
    filter creates order-only keys; customers without orders create
    customer-only keys).  Sentinels instead of NULLs so the value hash
    is engine-portable."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 5 < 3)
        .select(F.col("c_custkey").alias("k"), "c_acctbal")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = cust.join(orders, "k", "full_outer")
    return j.select(
        F.col("k").alias("custkey"),
        F.coalesce("c_acctbal", F.lit(-99999.0)).alias("acctbal"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )


@register(
    "q_window_rank",
    oracle="""
SELECT c_nationkey, c_custkey, c_acctbal,
       CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS BIGINT) AS drnk,
       CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
FROM customer
""",
)
def q_window_rank(spark, sf_dir):
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    wt = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.row_number().over(wt).cast("long").alias("rn"),
    )


@register(
    "q_window_frame",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS moving_sum,
       COUNT(*) OVER w AS n_in_frame,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS moving_avg
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
)
def q_window_frame(spark, sf_dir):
    """Sliding rows-frame aggregates; decimal sums keep the moving
    average bit-deterministic."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-3, W.currentRow)
    )
    msum = F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double")
    cnt = F.count(F.lit(1)).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        msum.alias("moving_sum"),
        cnt.alias("n_in_frame"),
        (msum / cnt).alias("moving_avg"),
    )


@register(
    "q_window_lead_lag",
    oracle="""
WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
SELECT event_id, user_id, us,
       us - LAG(us) OVER w AS delta_us,
       LEAD(event_id) OVER w AS next_event_id
FROM t
WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
""",
)
def q_window_lead_lag(spark, sf_dir):
    """Neighbor access per user ordered by time (epoch-us integers via
    io.epoch_us, so the math is tz-proof)."""
    from pyspark.sql import Window as W

    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "event_id", "user_id", epoch_us(ev_raw).alias("us")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "us",
        (F.col("us") - F.lag("us").over(w)).alias("delta_us"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@register(
    "q_topk_per_group",
    oracle="""
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM r WHERE rn <= 3
""",
)
def q_topk_per_group(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return win.topk_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
