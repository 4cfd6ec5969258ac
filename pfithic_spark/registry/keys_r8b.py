"""§2.21 round-8 additions (EXT-2): model-evaluation metrics /
feature-engineering operators / deterministic sketches.

The operators a training-data pipeline reaches for once the corpus is
curated: is the model any good (ROC-AUC, calibration + Brier, NDCG,
McNemar), which features carry signal (information-gain split scoring,
chi-square token selection, target encoding, the hashing trick), and
the mergeable sketches that summarize 100 TB in kilobytes (HyperLogLog
registers, count-min).  Every key follows FIXTURES.md §4–8: exact
integer counts end-to-end with ONE final double division (§8.13/§8.15),
`div`/`//` pairs for integer splits (§8.21), hi/lo int64 piece-sums
where a square can outgrow int64 (§8.21), cross-engine hashes via the
decimal-string-MD5 ASCII decode (q_stratified_kfold) or the Knuth
multiplicative hash (llmops.knuth_hash), and NULLIF/when() guards on
every empty-group ratio (§8.17).

Rank machinery reuses the q_mann_whitney integer average-rank shape at
value grain (windows.scalable_cumsum is the documented continuous-
metric swap); day-grain O(D) series ride the calendar-bounded grain
(q_theil_sen_trend discipline).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .. import llmops  # noqa: F401
from .. import windows as win  # noqa: F401
from ..io import epoch_us, load_table  # noqa: F401
from ..session import persist_bounded
from ._core import (  # noqa: F401
    ORACLE_SQL,
    QUERIES,
    register,
)

# ========================================================================
# q_target_encoding — smoothed mean-target encoding of a categorical
# ========================================================================

#: Additive-smoothing pseudo-count (the classic m-estimate; m=10 keeps
#: tiny cells near the prior without washing out 100-customer cells).
_TENC_M = 10


@register(
    "q_target_encoding",
    oracle=f"""
WITH y AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
           AS y
  FROM orders GROUP BY o_custkey
),
cy AS (
  SELECT c.c_mktsegment AS segment, c.c_nationkey AS nationkey,
         COALESCE(y.y, 0) AS y
  FROM customer c LEFT JOIN y ON c.c_custkey = y.o_custkey
),
g AS (
  SELECT segment, nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM cy GROUP BY segment, nationkey
),
p AS (
  SELECT CAST(SUM(n_pos) AS DOUBLE) / CAST(SUM(n_cust) AS DOUBLE)
           AS prior
  FROM g
)
SELECT g.segment, CAST(g.nationkey AS BIGINT) AS nationkey,
       g.n_cust, g.n_pos,
       (CAST(g.n_pos AS DOUBLE) + {float(_TENC_M)!r} * p.prior)
         / (CAST(g.n_cust AS DOUBLE) + {float(_TENC_M)!r}) AS enc
FROM g CROSS JOIN p
""",
)
def q_target_encoding(spark, sf_dir):
    """Smoothed mean-target encoding (the m-estimate, m=10) of the
    (segment, nation) categorical cross for the binary target "this
    customer has placed an urgent order" — the leakage-controlled
    categorical featurizer every tabular training pipeline runs before
    a GBM, emitted as the encoding TABLE (125 cells) a scoring join
    broadcasts.  NOTE: the 125-cell grain materializes at
    CONSTRUCTION time (eager localCheckpoint) so the customer-orders
    join runs exactly once.

    100 TB shape: the target collapses to customer grain in one
    map-side-combinable aggregate, ONE equi-join folds it onto the
    dimension (both sides customer-keyed — the only full-data
    operation), and the encoding grain is the bounded categorical
    cross.  Determinism: counts are exact integers; the prior and the
    encoding are fixed-order IEEE chains over int64-exact casts —
    identical in both engines, left unrounded (§8.13)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    y = o.groupBy("o_custkey").agg(
        F.max(
            (F.col("o_orderpriority") == "1-URGENT").cast("int")
        ).alias("y")
    )
    cy = c.join(y, c.c_custkey == y.o_custkey, "left").select(
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    g = cy.groupBy("segment", "nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    # the bounded encoding grain (125 cells) feeds BOTH the prior and
    # the output — materialize it once (eager checkpoint of a bounded
    # table, the q_pmi_bigrams discipline) so the customer-orders join
    # runs exactly once
    g = g.localCheckpoint(eager=True)
    p = g.agg(
        (
            F.sum("n_pos").cast("double") / F.sum("n_cust").cast("double")
        ).alias("prior")
    )
    return g.crossJoin(F.broadcast(p)).select(
        "segment",
        F.col("nationkey").cast("long").alias("nationkey"),
        "n_cust",
        "n_pos",
        (
            (F.col("n_pos").cast("double") + _TENC_M * F.col("prior"))
            / (F.col("n_cust").cast("double") + F.lit(float(_TENC_M)))
        ).alias("enc"),
    )


# ========================================================================
# q_mcnemar — paired-proportions test on within-subject change
# ========================================================================

#: chi2 inverse CDF at 0.95, df=1 (frozen verdict literal — pure math,
#: no fixture-geometry drift risk; scipy.stats.chi2.ppf(0.95, 1)).
_MCNEMAR_CRIT = 3.841458820694124


@register(
    "q_mcnemar",
    oracle=f"""
WITH ab AS (
  SELECT o_custkey,
         MAX(CASE WHEN YEAR(o_orderdate) = 1995
                   AND o_orderpriority = '1-URGENT'
                  THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN YEAR(o_orderdate) = 1996
                   AND o_orderpriority = '1-URGENT'
                  THEN 1 ELSE 0 END) AS b
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
         CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n01
  FROM ab
),
d AS (
  SELECT n_subjects, n10, n01,
         GREATEST(ABS(n10 - n01) - 1, 0) AS dd
  FROM s
)
SELECT n_subjects, n10, n01,
       CASE WHEN n10 + n01 = 0 THEN NULL
            ELSE CAST(dd * dd AS DOUBLE)
                 / CAST(n10 + n01 AS DOUBLE) END AS chi2_cc,
       CASE WHEN n10 + n01 = 0 THEN NULL
            ELSE CAST(dd * dd AS DOUBLE) / CAST(n10 + n01 AS DOUBLE)
                 > {_MCNEMAR_CRIT!r} END AS significant
FROM d
""",
)
def q_mcnemar(spark, sf_dir):
    """McNemar's test (continuity-corrected) for paired binary
    outcomes: did the population of customers CHANGE their
    urgent-ordering behavior between 1995 and 1996?  The
    within-subject A/B verdict a two-proportion z-test
    (q_two_proportion_ztest) gets wrong when the samples are the same
    subjects — only the DISCORDANT pairs carry information.

    100 TB shape: one customer-grain conditional aggregate (map-side
    combinable), then a scalar census — no joins at all.  Determinism:
    the statistic is exact-integer until ONE final division
    ((|n10−n01|−1)² and n10+n01 are int64; both cast hardware-exact,
    §8.21); an all-concordant fixture yields NULL, not a throw
    (§8.17); the 0.95 critical value is a frozen pure-math literal
    compared on identical doubles."""
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    yr = F.year("o_orderdate")
    ab = o.groupBy("o_custkey").agg(
        F.max(((yr == 1995) & urgent).cast("int")).alias("a"),
        F.max(((yr == 1996) & urgent).cast("int")).alias("b"),
    )
    s = ab.agg(
        F.count(F.lit(1)).cast("long").alias("n_subjects"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 0)).cast("int"))
        .cast("long")
        .alias("n10"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 1)).cast("int"))
        .cast("long")
        .alias("n01"),
    )
    dd = F.greatest(F.abs(F.col("n10") - F.col("n01")) - 1, F.lit(0))
    chi2 = (dd * dd).cast("double") / (
        F.col("n10") + F.col("n01")
    ).cast("double")
    empty = (F.col("n10") + F.col("n01")) == 0
    return s.select(
        "n_subjects",
        "n10",
        "n01",
        F.when(empty, F.lit(None).cast("double"))
        .otherwise(chi2)
        .alias("chi2_cc"),
        F.when(empty, F.lit(None).cast("boolean"))
        .otherwise(chi2 > _MCNEMAR_CRIT)
        .alias("significant"),
    )


# ========================================================================
# q_split_information_gain — decision-tree split scoring
# ========================================================================


@register(
    "q_split_information_gain",
    oracle="""
WITH f AS (
  SELECT 'discount' AS feature,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
  UNION ALL
  SELECT 'quantity',
         CAST(ROUND(l_quantity, 0) AS BIGINT),
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
  FROM lineitem
),
g AS (
  SELECT feature, v, COUNT(*) AS ct, SUM(y) AS pos
  FROM f GROUP BY feature, v
),
r AS (
  SELECT feature, v,
         CAST(SUM(ct) OVER (PARTITION BY feature ORDER BY v)
              AS BIGINT) AS nl,
         CAST(SUM(pos) OVER (PARTITION BY feature ORDER BY v)
              AS BIGINT) AS posl,
         CAST(SUM(ct) OVER (PARTITION BY feature) AS BIGINT) AS n,
         CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS posn
  FROM g
),
e AS (
  SELECT feature, v, nl, posl, n, posn,
         n - nl AS nr, posn - posl AS posr
  FROM r WHERE nl < n
)
SELECT feature, v AS threshold, nl AS n_left, posl AS pos_left,
       ROUND(
         (CASE WHEN posn = 0 OR posn = n THEN 0.0 ELSE
           -((CAST(posn AS DOUBLE) / CAST(n AS DOUBLE))
               * LN(CAST(posn AS DOUBLE) / CAST(n AS DOUBLE))
             + (CAST(n - posn AS DOUBLE) / CAST(n AS DOUBLE))
               * LN(CAST(n - posn AS DOUBLE) / CAST(n AS DOUBLE))) END)
         - (CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
           * (CASE WHEN posl = 0 OR posl = nl THEN 0.0 ELSE
               -((CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE))
                   * LN(CAST(posl AS DOUBLE) / CAST(nl AS DOUBLE))
                 + (CAST(nl - posl AS DOUBLE) / CAST(nl AS DOUBLE))
                   * LN(CAST(nl - posl AS DOUBLE)
                        / CAST(nl AS DOUBLE))) END)
         - (CAST(nr AS DOUBLE) / CAST(n AS DOUBLE))
           * (CASE WHEN posr = 0 OR posr = nr THEN 0.0 ELSE
               -((CAST(posr AS DOUBLE) / CAST(nr AS DOUBLE))
                   * LN(CAST(posr AS DOUBLE) / CAST(nr AS DOUBLE))
                 + (CAST(nr - posr AS DOUBLE) / CAST(nr AS DOUBLE))
                   * LN(CAST(nr - posr AS DOUBLE)
                        / CAST(nr AS DOUBLE))) END),
       9) AS info_gain
FROM e
""",
)
def q_split_information_gain(spark, sf_dir):
    """Decision-tree split scoring: information gain (Shannon, nats)
    of every candidate threshold split "x ≤ t" on two numeric features
    (discount, quantity) for the binary label returnflag='R' — the
    inner loop of tree/GBM training and of entropy-based feature
    binning, run as a set-based query instead of a per-node scan.

    100 TB shape: ONE pass per feature collapses to (feature, value)
    grain — bounded by DISTINCT feature values, the q_mann_whitney
    value-grain discipline — then prefix sums over that bounded grain
    give every left/right split census (windows.scalable_cumsum is the
    documented swap for continuous features; binning first is the
    production answer anyway).  Determinism: censuses are exact int64;
    each entropy term is a fixed-order IEEE chain on hardware-exact
    int64→double casts with 0·ln 0 handled by explicit CASE, rounded
    at 9 dp only in the final projection (outputs ≤ ln 2, §8.14
    magnitude-safe).  Thresholds are integer units (§8.7/§8.15:
    discount pct via tie-free ROUND(x·100), quantity integral)."""
    li = load_table(spark, sf_dir, "lineitem")
    # both feature streams ride ONE scan: a 2-element inline array
    # explode (a unionAll of two selects reads the fact twice)
    f = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("discount").alias("feature"),
                    F.round(F.col("l_discount") * 100, 0)
                    .cast("long")
                    .alias("v"),
                ),
                F.struct(
                    F.lit("quantity").alias("feature"),
                    F.round(F.col("l_quantity"), 0)
                    .cast("long")
                    .alias("v"),
                ),
            )
        ).alias("fv"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    ).select("fv.feature", "fv.v", "y")
    g = f.groupBy("feature", "v").agg(
        F.count(F.lit(1)).alias("ct"), F.sum("y").alias("pos")
    )
    wcum = (
        Window.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("feature")
    r = g.select(
        "feature",
        "v",
        F.sum("ct").over(wcum).cast("long").alias("nl"),
        F.sum("pos").over(wcum).cast("long").alias("posl"),
        F.sum("ct").over(wall).cast("long").alias("n"),
        F.sum("pos").over(wall).cast("long").alias("posn"),
    )
    e = r.filter(F.col("nl") < F.col("n")).select(
        "feature",
        "v",
        "nl",
        "posl",
        "n",
        "posn",
        (F.col("n") - F.col("nl")).alias("nr"),
        (F.col("posn") - F.col("posl")).alias("posr"),
    )

    def entropy(pos, tot):
        p1 = pos.cast("double") / tot.cast("double")
        p0 = (tot - pos).cast("double") / tot.cast("double")
        return F.when(
            (pos == 0) | (pos == tot), F.lit(0.0)
        ).otherwise(-(p1 * F.log(p1) + p0 * F.log(p0)))

    ig = (
        entropy(F.col("posn"), F.col("n"))
        - (F.col("nl").cast("double") / F.col("n").cast("double"))
        * entropy(F.col("posl"), F.col("nl"))
        - (F.col("nr").cast("double") / F.col("n").cast("double"))
        * entropy(F.col("posr"), F.col("nr"))
    )
    return e.select(
        "feature",
        F.col("v").alias("threshold"),
        F.col("nl").alias("n_left"),
        F.col("posl").alias("pos_left"),
        F.round(ig, 9).alias("info_gain"),
    )


# ========================================================================
# q_feature_hash — the hashing trick, with collision census
# ========================================================================

#: Hashing-trick bucket count (power of two, the vowpal-wabbit shape).
_FHASH_BUCKETS = 512


def _md5_hex_digit(col, pos):
    """ASCII-decoded hex digit `pos` (1-based) of MD5(col) — the
    cross-engine contract from q_stratified_kfold (conv()/hex-parse
    width and case conventions differ between engines; ASCII
    arithmetic cannot)."""
    a = F.ascii(F.substring(F.md5(col), pos, 1))
    return F.when(a >= 97, a - 87).otherwise(a - 48)


_MD5_DIGIT_SQL = (
    "(CASE WHEN ASCII(SUBSTR(MD5({col}), {pos}, 1)) >= 97 "
    "THEN ASCII(SUBSTR(MD5({col}), {pos}, 1)) - 87 "
    "ELSE ASCII(SUBSTR(MD5({col}), {pos}, 1)) - 48 END)"
)


@register(
    "q_feature_hash",
    oracle=f"""
WITH toks AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
  FROM documents
),
vc AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
b AS (
  SELECT c,
         ({_MD5_DIGIT_SQL.format(col="w", pos=1)} * 256
          + {_MD5_DIGIT_SQL.format(col="w", pos=2)} * 16
          + {_MD5_DIGIT_SQL.format(col="w", pos=3)})
           % {_FHASH_BUCKETS} AS bucket
  FROM vc
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(SUM(c) AS BIGINT) AS n_tokens
FROM b GROUP BY bucket
""",
)
def q_feature_hash(spark, sf_dir):
    """The hashing trick (Weinberger et al.): project an unbounded
    token vocabulary into 512 fixed feature buckets by hashing — the
    constant-memory featurizer for linear models / n-gram classifiers
    at corpus scale — emitted as the per-bucket collision census
    (distinct tokens and total mass per bucket) that tells you whether
    512 buckets is enough before you train.

    100 TB shape: tokenize → ONE vocabulary-grain count aggregate
    (inverted-index shape; the corpus-size stream shuffles once), then
    the hash and the 512-bucket census run on the BOUNDED vocabulary.
    Determinism: the bucket is three ASCII-decoded MD5 hex digits of
    the token (the q_stratified_kfold cross-engine contract — no
    engine hash functions), integer arithmetic end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(llmops.tokens_col("text")).alias("w"))
    vc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    bucket = (
        _md5_hex_digit(F.col("w"), 1) * 256
        + _md5_hex_digit(F.col("w"), 2) * 16
        + _md5_hex_digit(F.col("w"), 3)
    ) % _FHASH_BUCKETS
    return (
        vc.select("c", bucket.alias("bucket"))
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )


# ========================================================================
# q_calibration_bins — reliability diagram + per-bin Brier score
# ========================================================================


@register(
    "q_calibration_bins",
    oracle="""
WITH h AS (
  SELECT ((o_orderkey % 2654435761) * 2654435761) % 4294967296 AS h,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
p AS (
  SELECT (h * 1000000) // 4294967296 AS p6, y FROM h
),
t AS (
  SELECT p6 // 100000 AS bin, p6, y,
         (p6 - y * 1000000) * (p6 - y * 1000000) AS sq
  FROM p
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(p6) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000.0)
         AS mean_pred,
       CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS obs_rate,
       (CAST(SUM(sq // 4294967296) AS DOUBLE) * 4294967296.0
        + CAST(SUM(sq % 4294967296) AS DOUBLE))
         / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0) AS brier
FROM t GROUP BY bin
""",
)
def q_calibration_bins(spark, sf_dir):
    """Reliability diagram + per-bin Brier score for a scored binary
    outcome: decile-bin the predicted probability, report mean
    prediction vs observed rate per bin (the calibration curve) and
    the per-bin Brier contribution — the model-QA table you read
    before trusting any probability a classifier emits.  The score is
    a deterministic Knuth-hash uniform (the engine carries scores, it
    doesn't train models — q_train_test_split's hash discipline).

    100 TB shape: ONE map-side-combinable aggregate at decile grain —
    no joins, no windows.  Determinism: the probability is an exact
    dyadic-rational hash quantized to integer micro-units by FLOOR
    division ((h·10⁶) div 2³², §8.20 — no ROUND tie exists), squared
    errors are exact int64 per row and carried as hi/lo int64
    PIECE-SUMS (sq div 2³² / sq % 2³², §8.21 — a plain Σsq outgrows
    int64 past ~9 M rows) reconstructed with the shared
    hi·2³² + lo spelling; every output is ONE final unrounded double
    division (§8.13)."""
    o = load_table(spark, sf_dir, "orders")
    y = (F.col("o_orderstatus") == "F").cast("long")
    # p6 = (knuth_hash(o_orderkey) · 10⁶) div 2³² — spelled as one
    # expr so the div pairs with the oracle's // (§8.21)
    p = o.select(
        F.expr(
            "((((o_orderkey % 2654435761) * 2654435761) % 4294967296)"
            " * 1000000) div 4294967296"
        ).alias("p6"),
        y.alias("y"),
    )
    t = p.select(
        F.expr("p6 div 100000").alias("bin"),
        "p6",
        "y",
        (
            (F.col("p6") - F.col("y") * 1000000)
            * (F.col("p6") - F.col("y") * 1000000)
        ).alias("sq"),
    )
    g = t.groupBy(F.col("bin").cast("long").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p6").cast("long").alias("sp6"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("sq div 4294967296")).cast("long").alias("shi"),
        F.sum(F.expr("sq % 4294967296")).cast("long").alias("slo"),
    )
    nd = F.col("n").cast("double")
    return g.select(
        "bin",
        "n",
        (F.col("sp6").cast("double") / (nd * F.lit(1000000.0))).alias(
            "mean_pred"
        ),
        (F.col("sy").cast("double") / nd).alias("obs_rate"),
        (
            (
                F.col("shi").cast("double") * F.lit(4294967296.0)
                + F.col("slo").cast("double")
            )
            / (nd * F.lit(1000000000000.0))
        ).alias("brier"),
    )


# ========================================================================
# q_roc_auc — exact tie-corrected AUC via rank sums
# ========================================================================


@register(
    "q_roc_auc",
    oracle="""
WITH t AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
),
g AS (
  SELECT cents,
         SUM(y) AS pos,
         COUNT(*) - SUM(y) AS neg
  FROM t GROUP BY cents
),
r AS (
  SELECT pos, neg,
         COALESCE(SUM(neg) OVER (
           ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_neg
  FROM g
),
s AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * cum_neg + neg)) AS BIGINT) AS two_u
  FROM r
)
SELECT n_pos, n_neg, two_u,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE CAST(two_u AS DOUBLE)
                 / (2.0 * (CAST(n_pos AS DOUBLE)
                           * CAST(n_neg AS DOUBLE))) END AS auc
FROM s
""",
)
def q_roc_auc(spark, sf_dir):
    """Exact tie-corrected ROC-AUC of a score for a binary label (here:
    does order price predict urgency) — THE ranking metric for binary
    classifiers, computed by its rank-sum identity
    AUC = U/(n₊·n₋) where U counts score-ordered (pos, neg) pairs with
    ties at half weight — never by materializing the O(n²) pair set or
    a threshold sweep.

    100 TB shape: q_mann_whitney's machinery — ONE groupBy to score-
    value grain (integer cents, §8.15 tie-free), then the prefix sum
    routes through windows.scalable_cumsum (ADVICE r8: distinct
    prices grow ~linearly with volume, so the value grain is NOT
    domain-bounded here; small_threshold keeps the plain one-task
    window — and the single-scan join-free plan gate — below 2 M
    distinct scores, the two-phase bucket form above), and a scalar
    census.  Determinism: 2U = Σ pos·(2·cum₋
    + neg) is exact int64 (≤ 2·n₊·n₋ — at 8 M balanced rows ~3×10¹³,
    41 margin bits), AUC is ONE double division of hardware-exact
    casts (§8.21), NULL on a single-class corpus (§8.17)."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    g = t.groupBy("cents").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    r = win.scalable_cumsum(
        g, "cents", {"cum_inc": "neg"}, small_threshold=win.SMALL_THRESHOLD_DEFAULT
    ).select(
        "pos",
        "neg",
        (F.col("cum_inc") - F.col("neg")).alias("cum_neg"),
    )
    s = r.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("cum_neg") + F.col("neg")))
        .cast("long")
        .alias("two_u"),
    )
    degenerate = (F.col("n_pos") == 0) | (F.col("n_neg") == 0)
    auc = F.col("two_u").cast("double") / (
        F.lit(2.0)
        * (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    )
    return s.select(
        "n_pos",
        "n_neg",
        "two_u",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(auc)
        .alias("auc"),
    )


# ========================================================================
# q_token_chi2 — chi-square feature selection of tokens vs source
# ========================================================================

#: Minimum corpus document frequency for a token to be scored (the
#: sklearn SelectKBest hygiene floor — df<5 chi2 is noise).
_CHI2_MIN_DF = 5
_CHI2_TOPK = 50


@register(
    "q_token_chi2",
    oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, source, w FROM (
    SELECT doc_id, source,
           UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
    FROM documents
  )
),
ws AS (SELECT w, source, COUNT(*) AS a FROM dt GROUP BY w, source),
wtot AS (
  SELECT w, CAST(SUM(a) AS BIGINT) AS df_w FROM ws GROUP BY w
),
stot AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
),
ntot AS (SELECT COUNT(*) AS n FROM documents),
cells AS (
  SELECT ws.w, ws.source,
         CAST(ws.a AS BIGINT) AS a,
         CAST(wtot.df_w - ws.a AS BIGINT) AS b,
         CAST(stot.n_s - ws.a AS BIGINT) AS c,
         CAST(ntot.n - stot.n_s - (wtot.df_w - ws.a) AS BIGINT) AS d,
         CAST(ntot.n AS BIGINT) AS n,
         wtot.df_w
  FROM ws
  JOIN wtot ON ws.w = wtot.w
  JOIN stot ON ws.source = stot.source
  CROSS JOIN ntot
  WHERE wtot.df_w >= {_CHI2_MIN_DF} AND wtot.df_w < ntot.n
),
scored AS (
  SELECT w, source, a, df_w,
         CAST(ROUND(
           CAST(n AS DOUBLE)
           * (CAST(a * d - b * c AS DOUBLE)
              * CAST(a * d - b * c AS DOUBLE))
           / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
              * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)),
         6) AS DECIMAL(24,6)) AS chi2
  FROM cells
  WHERE (a + c) > 0 AND (b + d) > 0
)
SELECT w AS token, source, a AS df_in_source,
       CAST(df_w AS BIGINT) AS df_total,
       CAST(chi2 AS DOUBLE) AS chi2
FROM scored
ORDER BY scored.chi2 DESC, token, source
LIMIT {_CHI2_TOPK}
""",
)
def q_token_chi2(spark, sf_dir):
    """Chi-square feature selection of tokens against the source label
    (one-vs-rest 2×2 per (token, source) on DOCUMENT frequency) — the
    classic text-classification feature ranker (sklearn chi2 /
    SelectKBest shape): which tokens are evidence of which corpus
    slice.  Top-50 by chi², full (token, source) tie-break.  Scored
    pairs are those where the token OCCURS in the source (a ≥ 1) —
    absence-only evidence surfaces through the complementary sources'
    rows, and a pure absence row can never outrank them.  NOTE: like
    q_adamic_adar, the registered key materializes at CONSTRUCTION
    time (eager checkpoint of the 50-row result while the
    vocab×source cache is alive).

    100 TB shape: per-doc DISTINCT tokens (array_distinct before the
    explode — document frequency, not term frequency), ONE
    vocabulary×source-grain aggregate (inverted-index shape), and the
    marginals DERIVE from it (df_w = Σ_s a — the q_pmi_bigrams
    derived-marginal discipline) on the bounded vocab grain; source
    sizes and N are broadcast scalars.  Determinism: counts exact
    int64; (ad−bc) stays int64 (≤ N² — 8 M docs leaves 20 margin
    bits; hi/lo splits are the documented 100 TB swap, §8.21), is cast
    hardware-exact and squared AS A DOUBLE (§8.21 q_kruskal_wallis
    spelling); the rank is on round(6)→DECIMAL(24,6) — never the raw
    double (§8.16) — with magnitude ≤ N so 6 dp stays within 15
    significant digits (§8.14); degenerate margins are filtered, not
    divided (§8.17: tokens in every doc carry no signal and are cut by
    df_w < N; a+b>0 and a+c>0 hold by construction since a ≥ 1)."""
    d = load_table(spark, sf_dir, "documents")
    dt = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(llmops.tokens_col("text"))
        ).alias("w"),
    )
    ws = dt.groupBy("w", "source").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    # vocab×source-bounded table read twice (marginal + cells) —
    # persisted; released after the 50-row output materializes
    ws = ws.persist()
    wtot = ws.groupBy("w").agg(F.sum("a").cast("long").alias("df_w"))
    # source sizes and N never need the token stream — they are
    # document-table aggregates (one column-pruned scan each)
    stot = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    ntot = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = (
        ws.join(wtot, "w")
        .filter(F.col("df_w") >= _CHI2_MIN_DF)
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(ntot))
        .filter(F.col("df_w") < F.col("n"))
        .select(
            "w",
            "source",
            "a",
            "df_w",
            (F.col("df_w") - F.col("a")).alias("b"),
            (F.col("n_s") - F.col("a")).alias("c"),
            (
                F.col("n") - F.col("n_s") - (F.col("df_w") - F.col("a"))
            ).alias("d"),
            "n",
        )
    )
    det = (
        F.col("a") * F.col("d") - F.col("b") * F.col("c")
    ).cast("double")
    chi2 = (
        F.col("n").cast("double")
        * (det * det)
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d")).cast("double")
            * (F.col("a") + F.col("c")).cast("double")
            * (F.col("b") + F.col("d")).cast("double")
        )
    )
    scored = cells.filter(
        ((F.col("a") + F.col("c")) > 0) & ((F.col("b") + F.col("d")) > 0)
    ).select(
        F.col("w").alias("token"),
        "source",
        F.col("a").alias("df_in_source"),
        F.col("df_w").alias("df_total"),
        F.round(chi2, 6).cast("decimal(24,6)").alias("chi2_dec"),
    )
    # §8.16 round-before-rank on the DECIMAL; the OUTPUT column is a
    # lossless double cast (≤15 significant digits by the §8.14
    # budget) so no registered key ships DecimalType — the driver's
    # value canonicalization treats Decimal('6.104830') and float
    # 6.10483 as different cells (round-9 verdict #1).
    out = (
        scored.orderBy(F.col("chi2_dec").desc(), "token", "source")
        .limit(_CHI2_TOPK)
        .select(
            "token",
            "source",
            "df_in_source",
            "df_total",
            F.col("chi2_dec").cast("double").alias("chi2"),
        )
    )
    try:
        # bounded (50 rows): eager checkpoint materializes while ws is
        # still cached (adamic-adar persist discipline)
        return out.localCheckpoint(eager=True)
    finally:
        ws.unpersist()


# ========================================================================
# q_cross_correlation — lead/lag cross-correlation of two daily series
# ========================================================================

_XCORR_MAX_LAG = 7


@register(
    "q_cross_correlation",
    oracle=f"""
WITH d AS (
  SELECT EPOCH_US(o_orderdate) // 86400000000 AS dayidx,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM orders GROUP BY 1
),
lags AS (
  SELECT UNNEST(GENERATE_SERIES(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG}))
    AS lag
),
p AS (
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN d a ON TRUE
  JOIN d b ON b.dayidx = a.dayidx + l.lag
),
s AS (
  SELECT lag,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM((x * x) // 4294967296) AS BIGINT) AS sxx_hi,
         CAST(SUM((x * x) % 4294967296) AS BIGINT) AS sxx_lo,
         CAST(SUM((y * y) // 4294967296) AS BIGINT) AS syy_hi,
         CAST(SUM((y * y) % 4294967296) AS BIGINT) AS syy_lo,
         CAST(SUM((x * y) // 4294967296) AS BIGINT) AS sxy_hi,
         CAST(SUM((x * y) % 4294967296) AS BIGINT) AS sxy_lo
  FROM p GROUP BY lag
),
c AS (
  SELECT lag, n_days,
         CAST(n_days AS DOUBLE) AS nd,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(sxx_hi AS DOUBLE) * 4294967296.0 + CAST(sxx_lo AS DOUBLE)
           AS sxxd,
         CAST(syy_hi AS DOUBLE) * 4294967296.0 + CAST(syy_lo AS DOUBLE)
           AS syyd,
         CAST(sxy_hi AS DOUBLE) * 4294967296.0 + CAST(sxy_lo AS DOUBLE)
           AS sxyd
  FROM s
)
SELECT lag, n_days,
       CASE WHEN (nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd) <= 0
            THEN NULL
            ELSE (nd * sxyd - sxd * syd)
                 / SQRT((nd * sxxd - sxd * sxd)
                        * (nd * syyd - syd * syd)) END AS xcorr
FROM c
ORDER BY lag
""",
)
def q_cross_correlation(spark, sf_dir):
    """Lead/lag cross-correlation (lags −7..+7) between daily order
    volume and daily urgent-order volume — the "does X lead Y"
    screen run before any causal claim (and the input to transfer-
    function / Granger modeling).  Positive lag ℓ correlates x_t with
    y_{t+ℓ}.  NOTE: the 15-row result materializes at CONSTRUCTION
    time (eager checkpoint through the persisted day grain).

    100 TB shape: both series collapse to the CALENDAR-BOUNDED day
    grain in one pass, so the 15-lag alignment join and the Pearson
    sufficient stats run on ~2,400 rows regardless of data volume
    (q_theil_sen_trend discipline).  Determinism (§8.21): per-day
    counts are int64; per-term products x·x / y·y / x·y stay below
    2⁶² up to ~2×10⁹ events per day; their sums travel as hi/lo int64
    PIECE-SUMS (t div 2³² / t % 2³²) reconstructed with the shared
    hi·2³² + lo spelling; the correlation is a fixed-order double
    chain (sqrt is correctly-rounded IEEE in both engines) left
    UNROUNDED (§8.13); a zero-variance window yields NULL (§8.17).
    Ordered by lag — a 15-row result, no rank machinery."""
    o = load_table(spark, sf_dir, "orders")
    us = epoch_us(o, "o_orderdate")
    d = o.groupBy(
        F.floor(us / F.lit(86_400_000_000)).alias("dayidx")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("long"))
        .cast("long")
        .alias("y"),
    )
    d = d.persist()  # day-grain invariant: both sides of the lag join
    lags = spark.range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("lag")
    )
    a = d.select(F.col("dayidx").alias("di_a"), F.col("x"))
    b = d.select(F.col("dayidx").alias("di_b"), F.col("y"))
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("di_b") == F.col("di_a") + F.col("lag"),
        )
        .select("lag", "x", "y")
    )

    def hi_lo(t, name):
        return [
            F.sum(F.expr(f"({t}) div 4294967296"))
            .cast("long")
            .alias(f"{name}_hi"),
            F.sum(F.expr(f"({t}) % 4294967296"))
            .cast("long")
            .alias(f"{name}_lo"),
        ]

    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        *hi_lo("x * x", "sxx"),
        *hi_lo("y * y", "syy"),
        *hi_lo("x * y", "sxy"),
    )

    def recon(name):
        return F.col(f"{name}_hi").cast("double") * F.lit(
            4294967296.0
        ) + F.col(f"{name}_lo").cast("double")

    nd = F.col("n_days").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    vx = nd * recon("sxx") - sxd * sxd
    vy = nd * recon("syy") - syd * syd
    cov = nd * recon("sxy") - sxd * syd
    out = s.select(
        "lag",
        "n_days",
        F.when((vx * vy) <= 0, F.lit(None).cast("double"))
        .otherwise(cov / F.sqrt(vx * vy))
        .alias("xcorr"),
    ).orderBy("lag")
    try:
        # 15-row result: eager checkpoint materializes through the
        # persisted day grain (adamic-adar discipline)
        return out.localCheckpoint(eager=True)
    finally:
        d.unpersist()


# ========================================================================
# q_hll_sketch — deterministic HyperLogLog distinct-count sketch
# ========================================================================

#: 2^8 registers (b=8): standard-error ≈ 1.04/√256 ≈ 6.5%.
_HLL_M = 256
#: alpha_256 = 0.7213/(1 + 1.079/256) — frozen pure-math literal
#: (§8.18 drift risk is fixture geometry, not mathematical constants).
_HLL_ALPHA = 0.7213 / (1 + 1.079 / 256)


@register(
    "q_hll_sketch",
    oracle=f"""
WITH h AS (
  SELECT ((user_id % 2654435761) * 2654435761) % 4294967296 AS h
  FROM events
),
split AS (
  SELECT h // 16777216 AS bucket, h % 16777216 AS w FROM h
),
reg AS (
  SELECT bucket,
         MAX(CASE WHEN w = 0 THEN 25
                  ELSE 25 - LENGTH(BIN(w)) END) AS rho
  FROM split GROUP BY bucket
),
allb AS (
  SELECT UNNEST(GENERATE_SERIES(0, {_HLL_M - 1})) AS bucket
),
full_reg AS (
  SELECT a.bucket, COALESCE(r.rho, 0) AS rho
  FROM allb a LEFT JOIN reg r ON a.bucket = r.bucket
),
z AS (
  SELECT CAST(SUM(CAST(1 AS BIGINT) << (32 - rho)) AS BIGINT)
           AS z_scaled,
         CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero
  FROM full_reg
),
ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
       FROM events),
est AS (
  SELECT z.z_scaled, z.n_zero, ex.n_exact,
         CAST({_HLL_ALPHA!r} AS DOUBLE)
           * CAST({float(_HLL_M * _HLL_M)!r} AS DOUBLE)
           * CAST(4294967296.0 AS DOUBLE)
           / CAST(z.z_scaled AS DOUBLE) AS e_raw
  FROM z CROSS JOIN ex
)
SELECT CAST({_HLL_M} AS BIGINT) AS m, n_zero, z_scaled, n_exact,
       CASE WHEN e_raw <= CAST({2.5 * _HLL_M!r} AS DOUBLE)
                 AND n_zero > 0
            THEN CAST({float(_HLL_M)!r} AS DOUBLE)
                 * ROUND(LN(CAST({float(_HLL_M)!r} AS DOUBLE)
                            / CAST(n_zero AS DOUBLE)), 9)
            ELSE e_raw END AS estimate
FROM est
""",
)
def q_hll_sketch(spark, sf_dir):
    """HyperLogLog distinct-user sketch (m=256 registers, Flajolet et
    al. 2007) built DETERMINISTICALLY: Knuth-hash → 8-bit bucket +
    24-bit suffix, register = max leading-zero rank — the mergeable
    kilobyte summary that answers COUNT(DISTINCT) at 100 TB (registers
    combine by elementwise MAX across shards/streams; Spark's own
    approx_count_distinct is engine-internal and not cross-engine
    reproducible, which is why the suite builds its own).  The exact
    distinct count rides along as the certification column.

    100 TB shape: ONE map-side-combinable max-aggregate at 256-bucket
    grain (duplicates never shuffle — MAX over repeated hashes equals
    MAX over distinct); the exact COUNT(DISTINCT) branch is the
    EXPENSIVE path the sketch replaces, kept here to grade it.
    Determinism: rho = 25 − LENGTH(BIN(w)) is pure integer/string
    arithmetic (both engines' BIN strips leading zeros; w=0 cased
    explicitly); Z accumulates as EXACT scaled integers
    Σ 2³²⁻ʳ ≤ 256·2³² (empty registers contribute 2³²); the estimate
    is one fixed-order double chain over a frozen pure-math alpha,
    with the standard linear-counting branch on exact integers."""
    ev = load_table(spark, sf_dir, "events")
    h = llmops.knuth_hash("user_id")
    split = ev.select(
        F.expr(
            "(((user_id % 2654435761) * 2654435761) % 4294967296)"
            " div 16777216"
        ).alias("bucket"),
        (h % F.lit(16_777_216)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(25)).otherwise(
        F.lit(25) - F.length(F.bin(F.col("w")))
    )
    reg = split.groupBy("bucket").agg(F.max(rho).alias("rho"))
    allb = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    full_reg = allb.join(F.broadcast(reg), "bucket", "left").select(
        F.coalesce(F.col("rho"), F.lit(0)).alias("rho")
    )
    term = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - rho AS INT))")
    z = full_reg.agg(
        F.sum(term).cast("long").alias("z_scaled"),
        F.sum((F.col("rho") == 0).cast("long"))
        .cast("long")
        .alias("n_zero"),
    )
    ex = ev.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    est = z.crossJoin(F.broadcast(ex)).select(
        "z_scaled",
        "n_zero",
        "n_exact",
        (
            F.lit(_HLL_ALPHA)
            * F.lit(float(_HLL_M * _HLL_M))
            * F.lit(4294967296.0)
            / F.col("z_scaled").cast("double")
        ).alias("e_raw"),
    )
    # JVM Math.log is only 1-ulp accurate vs glibc's correctly-rounded
    # ln (observed split at sf0.01) — round the transcendental at 9 dp
    # (§7); the 2^8 multiply of the then-identical double is exact
    lc = F.lit(float(_HLL_M)) * F.round(
        F.log(F.lit(float(_HLL_M)) / F.col("n_zero").cast("double")), 9
    )
    return est.select(
        F.lit(_HLL_M).cast("long").alias("m"),
        "n_zero",
        "z_scaled",
        "n_exact",
        F.when(
            (F.col("e_raw") <= F.lit(2.5 * _HLL_M))
            & (F.col("n_zero") > 0),
            lc,
        )
        .otherwise(F.col("e_raw"))
        .alias("estimate"),
    )


# ========================================================================
# q_countmin_sketch — count-min frequency sketch with exact grading
# ========================================================================

_CM_W = 1024  # buckets per hash row
_CM_TOPK = 20


@register(
    "q_countmin_sketch",
    oracle=f"""
WITH toks AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
  FROM documents
),
vc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
hashed AS (
  SELECT w, c,
         ({_MD5_DIGIT_SQL.format(col="w", pos=1)} * 256
          + {_MD5_DIGIT_SQL.format(col="w", pos=2)} * 16
          + {_MD5_DIGIT_SQL.format(col="w", pos=3)}) % {_CM_W} AS b0,
         ({_MD5_DIGIT_SQL.format(col="w", pos=4)} * 256
          + {_MD5_DIGIT_SQL.format(col="w", pos=5)} * 16
          + {_MD5_DIGIT_SQL.format(col="w", pos=6)}) % {_CM_W} AS b1
  FROM vc
),
row0 AS (SELECT b0, CAST(SUM(c) AS BIGINT) AS cnt0 FROM hashed GROUP BY b0),
row1 AS (SELECT b1, CAST(SUM(c) AS BIGINT) AS cnt1 FROM hashed GROUP BY b1),
top AS (
  SELECT w, c, b0, b1 FROM hashed ORDER BY c DESC, w LIMIT {_CM_TOPK}
)
SELECT t.w AS token, t.c AS exact_count,
       LEAST(r0.cnt0, r1.cnt1) AS cm_estimate,
       LEAST(r0.cnt0, r1.cnt1) - t.c AS overcount
FROM top t
JOIN row0 r0 ON t.b0 = r0.b0
JOIN row1 r1 ON t.b1 = r1.b1
""",
)
def q_countmin_sketch(spark, sf_dir):
    """Count-min sketch (Cormode–Muthukrishnan; d=2 rows × 1024
    buckets) over the token stream, graded against exact counts for
    the top-20 tokens: estimate = min over rows of the hashed-bucket
    mass, always ≥ the true count — the fixed-memory frequency oracle
    a 100 TB stream keeps when the exact vocabulary groupBy is the
    thing being avoided (rows merge by elementwise ADD across
    shards/streams; the exact column here is the certification the
    sketch replaces).  NOTE: the 20-row result materializes at
    CONSTRUCTION time (eager checkpoint while the vocabulary cache is
    alive).

    100 TB shape: ONE vocabulary-grain count aggregate (persisted —
    vocabulary-bounded, read by both bucket rows and the top-k), then
    the 2×1024 sketch and the top-20 probe all run on the bounded
    vocab grain; the probe joins are broadcasts.  Determinism: bucket
    indexes are ASCII-decoded MD5 hex digits (digits 1–3 and 4–6 — two
    independent hash rows from one digest; q_stratified_kfold
    contract), counts exact int64 end-to-end, top-k fully tie-broken
    by (count desc, token)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(llmops.tokens_col("text")).alias("w"))
    vc = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))

    def bucket(p):
        return (
            _md5_hex_digit(F.col("w"), p) * 256
            + _md5_hex_digit(F.col("w"), p + 1) * 16
            + _md5_hex_digit(F.col("w"), p + 2)
        ) % _CM_W

    hashed = vc.select(
        "w", "c", bucket(1).alias("b0"), bucket(4).alias("b1")
    )
    # vocabulary-bounded invariant read by three consumers (two sketch
    # rows + the top-k probe); corpus-keyed output path does not apply
    # (output is 20 rows) — eager checkpoint at the end releases it
    hashed = hashed.persist()
    row0 = hashed.groupBy("b0").agg(F.sum("c").cast("long").alias("cnt0"))
    row1 = hashed.groupBy("b1").agg(F.sum("c").cast("long").alias("cnt1"))
    top = hashed.orderBy(F.col("c").desc(), "w").limit(_CM_TOPK)
    est = F.least(F.col("cnt0"), F.col("cnt1"))
    out = (
        top.join(F.broadcast(row0), "b0")
        .join(F.broadcast(row1), "b1")
        .select(
            F.col("w").alias("token"),
            F.col("c").alias("exact_count"),
            est.alias("cm_estimate"),
            (est - F.col("c")).alias("overcount"),
        )
    )
    try:
        return out.localCheckpoint(eager=True)
    finally:
        hashed.unpersist()


# ========================================================================
# q_ndcg — normalized discounted cumulative gain per query group
# ========================================================================

_NDCG_K = 10


@register(
    "q_ndcg",
    oracle=f"""
WITH ranked AS (
  SELECT c_nationkey AS nationkey, c_custkey,
         ((c_custkey % 2654435761) * 2654435761) % 4294967296 AS h,
         ROW_NUMBER() OVER (
           PARTITION BY c_nationkey
           ORDER BY CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) DESC,
                    c_custkey
         ) AS pos
  FROM customer
),
top AS (
  SELECT nationkey, c_custkey, pos,
         CAST(CASE h % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
                         WHEN 2 THEN 3 ELSE 7 END AS BIGINT) AS gain
  FROM ranked WHERE pos <= {_NDCG_K}
),
ideal AS (
  SELECT nationkey, pos, gain,
         ROW_NUMBER() OVER (
           PARTITION BY nationkey ORDER BY gain DESC, pos
         ) AS ipos
  FROM top
),
terms AS (
  SELECT nationkey,
         CAST(ROUND(CAST(gain AS DOUBLE)
                    * (LN(CAST(2.0 AS DOUBLE))
                       / LN(CAST(pos + 1 AS DOUBLE))), 9)
              AS DECIMAL(28,9)) AS dcg_term,
         CAST(ROUND(CAST(gain AS DOUBLE)
                    * (LN(CAST(2.0 AS DOUBLE))
                       / LN(CAST(ipos + 1 AS DOUBLE))), 9)
              AS DECIMAL(28,9)) AS idcg_term
  FROM ideal
),
s AS (
  SELECT nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_ranked,
         CAST(SUM(dcg_term) AS DECIMAL(28,9)) AS dcg,
         CAST(SUM(idcg_term) AS DECIMAL(28,9)) AS idcg
  FROM terms GROUP BY nationkey
)
SELECT CAST(nationkey AS BIGINT) AS nationkey, n_ranked,
       CAST(dcg AS DOUBLE) AS dcg,
       CAST(idcg AS DOUBLE) AS idcg,
       CASE WHEN idcg = 0 THEN NULL
            ELSE CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE) END AS ndcg
FROM s
""",
)
def q_ndcg(spark, sf_dir):
    """NDCG@10 per query group (queries = nations, ranking = account
    balance, graded relevance = deterministic hash grade 0/1/3/7 —
    the engine carries rankings and relevance labels, it doesn't
    train the ranker): DCG with the standard 1/log₂(pos+1) discount,
    normalized by the ideal reordering of the SAME retrieved set —
    the search/recommender ranking metric beside classification's
    q_roc_auc.

    100 TB shape: one per-group window prunes to the top-10 BEFORE
    any scoring (rank on tie-free integer cents, §8.15; the group
    count is the bounded query-set size — per-group TakeOrdered heaps
    are the documented swap when groups are few and huge); the ideal
    ranking is a second window over the ≤10-row survivors.
    Determinism: gains are exact ints via Knuth hash; each discount
    term ln 2/ln(pos+1) is transcendental → per-term round(9) →
    DECIMAL sums (q_entropy discipline; pos 1 divides ln 2 by itself
    — exactly 1.0 in both engines); NDCG is ONE double division of
    DECIMAL(28,9) casts whose scaled values stay ≤ 7·10¹⁰ < 2⁶⁴
    (§8.21-safe), NULL on an all-zero-gain group (§8.17)."""
    c = load_table(spark, sf_dir, "customer")
    h = llmops.knuth_hash("c_custkey")
    wrank = Window.partitionBy("c_nationkey").orderBy(
        F.round(F.col("c_acctbal") * 100, 0).cast("long").desc(),
        "c_custkey",
    )
    ranked = c.select(
        F.col("c_nationkey").alias("nationkey"),
        "c_custkey",
        (h % 4).alias("g4"),
        F.row_number().over(wrank).alias("pos"),
    )
    gain = (
        F.when(F.col("g4") == 0, 0)
        .when(F.col("g4") == 1, 1)
        .when(F.col("g4") == 2, 3)
        .otherwise(7)
        .cast("long")
    )
    top = ranked.filter(F.col("pos") <= _NDCG_K).select(
        "nationkey", "pos", gain.alias("gain")
    )
    wideal = Window.partitionBy("nationkey").orderBy(
        F.col("gain").desc(), "pos"
    )
    ideal = top.withColumn("ipos", F.row_number().over(wideal))

    def term(pos_col):
        return F.round(
            F.col("gain").cast("double")
            * (
                F.log(F.lit(2.0))
                / F.log((pos_col + 1).cast("double"))
            ),
            9,
        ).cast("decimal(28,9)")

    s = ideal.select(
        "nationkey",
        term(F.col("pos")).alias("dcg_term"),
        term(F.col("ipos")).alias("idcg_term"),
    ).groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_ranked"),
        F.sum("dcg_term").cast("decimal(28,9)").alias("dcg"),
        F.sum("idcg_term").cast("decimal(28,9)").alias("idcg"),
    )
    # dcg/idcg sums stay ≤ 70.0 at 9 dp (≤ 11 significant digits) so
    # the double cast is lossless; DECIMAL stays internal only —
    # no registered key ships DecimalType (round-9 verdict #1).
    return s.select(
        F.col("nationkey").cast("long").alias("nationkey"),
        "n_ranked",
        F.col("dcg").cast("double").alias("dcg"),
        F.col("idcg").cast("double").alias("idcg"),
        F.when(F.col("idcg") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.col("dcg").cast("double") / F.col("idcg").cast("double")
        )
        .alias("ndcg"),
    )


# ========================================================================
# q_silhouette_score — centroid-based cluster-quality score
# ========================================================================

import os as _os

from ._core import _GOLDEN_DIR as _GDIR

#: Frozen IVF centroids (q_sim_ivf's committed model — training is the
#: one nondeterministic step; scoring is not).
_SIL_CENTROIDS_PATH = _os.path.join(_GDIR, "ivf_centroids.parquet")
#: FLOOR quantum for the per-vector silhouette (§8.20: floor of an
#: identical double is identical; ROUND is not).
_SIL_Q = 1_000_000_000
#: FLOOR quantum for squared-distance terms (q_pq_codes discipline).
_SIL_DQ = 1_000_000_000_000


@register(
    "q_silhouette_score",
    oracle=f"""
WITH dims AS (SELECT UNNEST(GENERATE_SERIES(1, 64)) AS dim),
cb AS (
  SELECT cell, centroid FROM read_parquet('{_SIL_CENTROIDS_PATH}')
),
q AS (
  SELECT e.vec_id, c.cell,
         CAST(SUM(CAST(FLOOR(CAST({_SIL_DQ} AS DOUBLE)
                * ((CAST(e.embedding[d.dim] AS DOUBLE)
                    - c.centroid[d.dim])
                   * (CAST(e.embedding[d.dim] AS DOUBLE)
                      - c.centroid[d.dim])))
              AS BIGINT)) AS BIGINT) AS qdist
  FROM embeddings e
  CROSS JOIN cb c
  JOIN dims d ON TRUE
  GROUP BY 1, 2
),
lst AS (
  SELECT vec_id,
         LIST(struct_pack(q := qdist, c := cell)
              ORDER BY qdist, cell) AS l
  FROM q GROUP BY vec_id
),
ab AS (
  SELECT vec_id, l[1].q AS a, l[1].c AS assigned, l[2].q AS b
  FROM lst
),
sil AS (
  SELECT assigned,
         CAST(FLOOR(CAST({_SIL_Q} AS DOUBLE)
              * (CASE WHEN GREATEST(a, b) = 0 THEN CAST(0.0 AS DOUBLE)
                      ELSE CAST(b - a AS DOUBLE)
                           / CAST(GREATEST(a, b) AS DOUBLE) END))
              AS BIGINT) AS s9
  FROM ab
)
SELECT CAST(assigned AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(s9) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * CAST({_SIL_Q} AS DOUBLE))
         AS mean_silhouette
FROM sil GROUP BY assigned
""",
)
def q_silhouette_score(spark, sf_dir):
    """Simplified (centroid-based) silhouette score per cluster of the
    IVF assignment: s = (b − a)/max(a, b) with a = squared distance to
    the OWN (nearest) centroid and b = to the nearest OTHER centroid —
    the O(n·k) cluster-quality diagnostic that replaces the O(n²)
    pairwise silhouette at corpus scale (the standard sklearn
    trade-off), scored against the committed frozen q_sim_ivf
    centroids (training is the one nondeterministic step; scoring is
    not).  A cluster whose mean silhouette sags is the one to re-split
    before trusting the ANN index built on it.

    100 TB shape: vectors explode to components ONCE, the 16×64
    codebook is a broadcast, per-(vec, cell) distances reduce
    map-side, and the per-vector top-2 selection is a bounded 16-
    element sorted array — no shuffles beyond the (vec, cell) reduce,
    no vector ever compared to another vector.  Determinism
    (q_pq_codes discipline): each squared-dim term FLOOR-quantized at
    1e-12 into EXACT INT64 distance sums (float32→double exact,
    subtraction/square identical IEEE); the per-vector silhouette is
    ONE division of hardware-exact int64 casts, FLOOR-quantized at
    1e-9 (§8.20 — never ROUND an arbitrary quotient feeding a sum)
    into exact integer sums; the mean is ONE final unrounded double
    division (§8.13)."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("dim", "xf"),
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    cbraw = spark.read.parquet(_SIL_CENTROIDS_PATH)
    cbc = cbraw.select(
        "cell", F.posexplode(F.col("centroid")).alias("dim", "cval")
    )
    diff = F.col("x") - F.col("cval")
    q = (
        comp.join(F.broadcast(cbc), "dim")
        .groupBy("vec_id", "cell")
        .agg(
            F.sum(
                F.floor(F.lit(float(_SIL_DQ)) * (diff * diff)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("qdist")
        )
    )
    lst = q.groupBy("vec_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("qdist"), F.col("cell")))
        ).alias("l")
    )
    a = F.col("l")[0]["qdist"]
    b = F.col("l")[1]["qdist"]
    assigned = F.col("l")[0]["cell"]
    s = F.when(
        F.greatest(a, b) == 0, F.lit(0.0)
    ).otherwise(
        (b - a).cast("double") / F.greatest(a, b).cast("double")
    )
    sil = lst.select(
        assigned.alias("assigned"),
        F.floor(F.lit(float(_SIL_Q)) * s).cast("long").alias("s9"),
    )
    return sil.groupBy(
        F.col("assigned").cast("long").alias("cluster")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        (
            F.sum("s9").cast("double")
            / (
                F.count(F.lit(1)).cast("double")
                * F.lit(float(_SIL_Q))
            )
        ).alias("mean_silhouette"),
    )


# ========================================================================
# q_cochran_armitage — trend-in-proportions across ordered categories
# ========================================================================

#: N(0,1) two-sided 0.95 critical value (frozen pure-math literal).
_CA_CRIT = 1.959963984540054


@register(
    "q_cochran_armitage",
    oracle=f"""
WITH g AS (
  SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS w,
         CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS r_g
  FROM orders GROUP BY 1
),
s AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(r_g) AS BIGINT) AS r,
         CAST(SUM(w * n_g) AS BIGINT) AS swn,
         CAST(SUM(w * r_g) AS BIGINT) AS swr,
         CAST(SUM(w * w * n_g) AS BIGINT) AS sw2n
  FROM g
),
c AS (
  SELECT n, r, swn, swr, sw2n,
         CAST(r AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
         CAST(swr AS DOUBLE)
           - (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
             * CAST(swn AS DOUBLE) AS num,
         (CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
           * (1.0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
           * (CAST(sw2n AS DOUBLE)
              - (CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE))
                / CAST(n AS DOUBLE)) AS var
  FROM s
)
SELECT n, r, swr,
       CASE WHEN var <= 0 THEN NULL ELSE num / SQRT(var) END AS z,
       CASE WHEN var <= 0 THEN NULL
            ELSE ABS(num / SQRT(var)) > {_CA_CRIT!r} END AS significant
FROM c
""",
)
def q_cochran_armitage(spark, sf_dir):
    """Cochran–Armitage trend test: does the order-failure proportion
    trend MONOTONICALLY across the five ordered priorities (scores
    1..5 from the priority prefix digit)?  The dose-response test a
    plain chi-square (q_chi_square) cannot express — chi² sees
    association, this sees DIRECTION, with one degree of freedom.

    100 TB shape: one 5-cell conditional aggregate (map-side
    combinable), then scalar algebra — no joins, no windows.
    Determinism: every sufficient statistic is an exact int64 (Σw·n ≤
    5N — 40 margin bits at 8 M), the z statistic is one fixed-order
    double chain over hardware-exact casts (divisions and sqrt are
    IEEE-correctly-rounded in both engines — no libm terms, rule 22
    does not apply), NULL when the outcome is constant (§8.17)."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("w")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum((F.col("o_orderstatus") == "F").cast("int"))
        .cast("long")
        .alias("r_g"),
    )
    s = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("r_g").cast("long").alias("r"),
        F.sum(F.col("w") * F.col("n_g")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("r_g")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("w") * F.col("n_g"))
        .cast("long")
        .alias("sw2n"),
    )
    nd = F.col("n").cast("double")
    pbar = F.col("r").cast("double") / nd
    num = F.col("swr").cast("double") - pbar * F.col("swn").cast("double")
    var = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("sw2n").cast("double")
            - (
                F.col("swn").cast("double") * F.col("swn").cast("double")
            )
            / nd
        )
    )
    z = num / F.sqrt(var)
    return s.select(
        "n",
        "r",
        "swr",
        F.when(var <= 0, F.lit(None).cast("double")).otherwise(z).alias(
            "z"
        ),
        F.when(var <= 0, F.lit(None).cast("boolean"))
        .otherwise(F.abs(z) > _CA_CRIT)
        .alias("significant"),
    )


# ========================================================================
# q_cliffs_delta — ordinal effect size between two cohorts
# ========================================================================


@register(
    "q_cliffs_delta",
    oracle="""
WITH t AS (
  SELECT value AS v, user_id % 2 AS grp FROM events
  WHERE value IS NOT NULL
),
g AS (
  SELECT v,
         SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS c0,
         SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS c1
  FROM t GROUP BY v
),
r AS (
  SELECT c0, c1,
         COALESCE(SUM(c1) OVER (
           ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum1_before
  FROM g
),
s AS (
  SELECT CAST(SUM(c0) AS BIGINT) AS n0,
         CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c0 * (2 * cum1_before + c1)) AS BIGINT) AS two_u0
  FROM r
),
d AS (
  SELECT n0, n1,
         CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
              ELSE CAST(two_u0 - n0 * n1 AS DOUBLE)
                   / CAST(n0 * n1 AS DOUBLE) END AS delta
  FROM s
)
SELECT n0, n1, delta,
       CASE WHEN delta IS NULL THEN NULL
            WHEN ABS(delta) < 0.147 THEN 'negligible'
            WHEN ABS(delta) < 0.33 THEN 'small'
            WHEN ABS(delta) < 0.474 THEN 'medium'
            ELSE 'large' END AS magnitude
FROM d
""",
)
def q_cliffs_delta(spark, sf_dir):
    """Cliff's delta between the two event cohorts: the ORDINAL effect
    size P(x>y) − P(x<y) — what q_cohens_d's standardized mean
    difference overstates under skew/outliers, and the size statistic
    to report NEXT TO q_mann_whitney's significance (significance at
    8 M rows is free; size is the decision input).  Romano bands
    classify the magnitude.

    100 TB shape: the q_roc_auc value-grain machinery verbatim — ONE
    groupBy to value grain, then the prefix sum routes through
    windows.scalable_cumsum (ADVICE r8: distinct metric values grow
    ~linearly with volume, so the value grain is NOT domain-bounded;
    small_threshold keeps the plain window below 2 M distinct
    values), scalar census.
    Determinism: 2U₀ = Σ c₀·(2·cum₁ + c₁) counts ties at half weight
    exactly (δ = (2U₀ − n₀n₁)/(n₀n₁) — all int64), ONE final division;
    the band cuts compare identical doubles against frozen literals;
    single-cohort input yields NULL (§8.17)."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.filter(F.col("value").isNotNull()).select(
        F.col("value").alias("v"), (F.col("user_id") % 2).alias("grp")
    )
    g = t.groupBy("v").agg(
        F.sum((F.col("grp") == 0).cast("long")).alias("c0"),
        F.sum((F.col("grp") == 1).cast("long")).alias("c1"),
    )
    r = win.scalable_cumsum(
        g, "v", {"cum1_inc": "c1"}, small_threshold=win.SMALL_THRESHOLD_DEFAULT
    ).select(
        "c0",
        "c1",
        (F.col("cum1_inc") - F.col("c1")).alias("cum1_before"),
    )
    s = r.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c0") * (2 * F.col("cum1_before") + F.col("c1")))
        .cast("long")
        .alias("two_u0"),
    )
    degenerate = (F.col("n0") == 0) | (F.col("n1") == 0)
    delta = (
        F.col("two_u0") - F.col("n0") * F.col("n1")
    ).cast("double") / (F.col("n0") * F.col("n1")).cast("double")
    d = s.select(
        "n0",
        "n1",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(delta)
        .alias("delta"),
    )
    mag = (
        F.when(F.col("delta").isNull(), F.lit(None).cast("string"))
        .when(F.abs(F.col("delta")) < 0.147, "negligible")
        .when(F.abs(F.col("delta")) < 0.33, "small")
        .when(F.abs(F.col("delta")) < 0.474, "medium")
        .otherwise("large")
    )
    return d.select("n0", "n1", "delta", mag.alias("magnitude"))


# ========================================================================
# q_ab_srm — sample-ratio-mismatch check on a hash split
# ========================================================================

#: chi2(0.999, df=1) — SRM checks alarm at 0.001, not 0.05 (an SRM is
#: a BUG signal, not a hypothesis; industry-standard threshold).
_SRM_CRIT = 10.827566170662733


@register(
    "q_ab_srm",
    oracle=f"""
WITH assign AS (
  SELECT CASE WHEN ((c_custkey % 2654435761) * 2654435761)
                   % 4294967296 % 2 = 0
              THEN 'A' ELSE 'B' END AS arm
  FROM customer
),
s AS (
  SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b
  FROM assign
)
SELECT n_a, n_b,
       CASE WHEN n_a + n_b = 0 THEN NULL
            ELSE CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE) END AS chi2,
       CASE WHEN n_a + n_b = 0 THEN NULL
            ELSE CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / CAST(n_a + n_b AS DOUBLE) > {_SRM_CRIT!r} END
         AS srm_detected
FROM s
""",
)
def q_ab_srm(spark, sf_dir):
    """Sample-ratio-mismatch check of a 50/50 hash split — the FIRST
    validity gate any experimentation pipeline runs before reading a
    metric: chi² goodness-of-fit of the realized A/B counts against
    the designed ratio (for 50/50 it reduces to (n_A−n_B)²/N, df=1),
    alarmed at 0.001 (an SRM is a telemetry/assignment BUG signal, not
    a hypothesis test).  The split is the same deterministic Knuth-
    hash assignment q_train_test_split ships, so this key certifies
    that assignment's balance.

    100 TB shape: one map-side-combinable scalar census — no joins.
    Determinism: exact int64 until ONE division (§8.21 hardware-exact
    casts); frozen chi²(0.999, 1) literal; NULL on empty input
    (§8.17)."""
    c = load_table(spark, sf_dir, "customer")
    arm = F.when(
        llmops.knuth_hash("c_custkey") % 2 == 0, "A"
    ).otherwise("B")
    s = c.select(arm.alias("arm")).agg(
        F.sum((F.col("arm") == "A").cast("int")).cast("long").alias("n_a"),
        F.sum((F.col("arm") == "B").cast("int")).cast("long").alias("n_b"),
    )
    tot = F.col("n_a") + F.col("n_b")
    diff = F.col("n_a") - F.col("n_b")
    chi2 = (diff * diff).cast("double") / tot.cast("double")
    return s.select(
        "n_a",
        "n_b",
        F.when(tot == 0, F.lit(None).cast("double"))
        .otherwise(chi2)
        .alias("chi2"),
        F.when(tot == 0, F.lit(None).cast("boolean"))
        .otherwise(chi2 > _SRM_CRIT)
        .alias("srm_detected"),
    )


# ========================================================================
# q_granger_lag1 — lag-1 Granger causality on the day grain
# ========================================================================

#: F(0.95; 1, inf) = chi2(0.95, 1) — frozen asymptotic verdict literal
#: (the q_brown_forsythe convention: T-3 is ~2,400 at the day grain,
#: indistinguishable from the asymptote at 3 decimals).
_GRANGER_CRIT = 3.841458820694124


@register(
    "q_granger_lag1",
    oracle="""
WITH d AS (
  SELECT EPOCH_US(o_orderdate) // 86400000000 AS dayidx,
         CAST(COUNT(*) AS BIGINT) AS y,
         CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                       THEN 1 ELSE 0 END) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
p AS (
  SELECT cur.y AS yy, prev.y AS l, prev.x AS xx
  FROM d cur JOIN d prev ON cur.dayidx = prev.dayidx + 1
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(yy) AS BIGINT) AS sy,
         CAST(SUM(l) AS BIGINT) AS sl,
         CAST(SUM(xx) AS BIGINT) AS sx,
         CAST(SUM((yy * yy) // 4294967296) AS BIGINT) AS syy_hi,
         CAST(SUM((yy * yy) % 4294967296) AS BIGINT) AS syy_lo,
         CAST(SUM((l * l) // 4294967296) AS BIGINT) AS sll_hi,
         CAST(SUM((l * l) % 4294967296) AS BIGINT) AS sll_lo,
         CAST(SUM((xx * xx) // 4294967296) AS BIGINT) AS sxx_hi,
         CAST(SUM((xx * xx) % 4294967296) AS BIGINT) AS sxx_lo,
         CAST(SUM((l * yy) // 4294967296) AS BIGINT) AS sly_hi,
         CAST(SUM((l * yy) % 4294967296) AS BIGINT) AS sly_lo,
         CAST(SUM((xx * yy) // 4294967296) AS BIGINT) AS sxy_hi,
         CAST(SUM((xx * yy) % 4294967296) AS BIGINT) AS sxy_lo,
         CAST(SUM((l * xx) // 4294967296) AS BIGINT) AS slx_hi,
         CAST(SUM((l * xx) % 4294967296) AS BIGINT) AS slx_lo
  FROM p
),
c AS (
  SELECT t,
         CAST(t AS DOUBLE) AS td,
         CAST(sy AS DOUBLE) AS syd,
         CAST(sl AS DOUBLE) AS sld,
         CAST(sx AS DOUBLE) AS sxd,
         CAST(syy_hi AS DOUBLE) * 4294967296.0 + CAST(syy_lo AS DOUBLE)
           AS syyd,
         CAST(sll_hi AS DOUBLE) * 4294967296.0 + CAST(sll_lo AS DOUBLE)
           AS slld,
         CAST(sxx_hi AS DOUBLE) * 4294967296.0 + CAST(sxx_lo AS DOUBLE)
           AS sxxd,
         CAST(sly_hi AS DOUBLE) * 4294967296.0 + CAST(sly_lo AS DOUBLE)
           AS slyd,
         CAST(sxy_hi AS DOUBLE) * 4294967296.0 + CAST(sxy_lo AS DOUBLE)
           AS sxyd,
         CAST(slx_hi AS DOUBLE) * 4294967296.0 + CAST(slx_lo AS DOUBLE)
           AS slxd
  FROM s
),
m AS (
  SELECT t,
         syyd - (syd * syd) / td AS cyy,
         slld - (sld * sld) / td AS cll,
         sxxd - (sxd * sxd) / td AS cxx,
         slyd - (sld * syd) / td AS cly,
         sxyd - (sxd * syd) / td AS cxy,
         slxd - (sld * sxd) / td AS clx
  FROM c
),
f AS (
  SELECT t, cyy, cll, cxx, cly, cxy, clx,
         cll * cxx - clx * clx AS det
  FROM m
),
r AS (
  SELECT t,
         cyy - (cly * cly) / NULLIF(cll, 0) AS rss_r,
         cyy - ((cly * cxx - cxy * clx) / NULLIF(det, 0)) * cly
             - ((cxy * cll - cly * clx) / NULLIF(det, 0)) * cxy
           AS rss_u,
         cll, det
  FROM f
)
SELECT t AS n_obs,
       CASE WHEN cll <= 0 THEN NULL ELSE rss_r END AS rss_r,
       CASE WHEN cll <= 0 OR det <= 0 THEN NULL ELSE rss_u END
         AS rss_u,
       CASE WHEN t <= 3 OR cll <= 0 OR det <= 0 OR rss_u <= 0
            THEN NULL
            ELSE (rss_r - rss_u) / (rss_u / CAST(t - 3 AS DOUBLE)) END
         AS f_stat,
       CASE WHEN t <= 3 OR cll <= 0 OR det <= 0 OR rss_u <= 0
            THEN NULL
            ELSE (rss_r - rss_u) / (rss_u / CAST(t - 3 AS DOUBLE))
                 > 3.841458820694124 END AS x_causes_y
FROM r
""",
)
def q_granger_lag1(spark, sf_dir):
    """Lag-1 Granger causality: does yesterday's URGENT order volume
    improve today's TOTAL volume forecast beyond what yesterday's
    total already explains?  Restricted AR(1) vs unrestricted
    two-regressor OLS, F-test on the RSS drop — the causal-direction
    verdict q_cross_correlation's symmetric lead/lag screen cannot
    give.  NOTE: the 1-row result materializes at CONSTRUCTION time
    (eager checkpoint through the persisted day grain).

    100 TB shape: both series collapse to the CALENDAR-BOUNDED day
    grain, the lag alignment is one self-join on adjacent days over
    ~2,400 rows, and both regressions are CLOSED FORMS of ten scalar
    sufficient statistics (no iterative solver, no matrix library —
    the 2×2 normal equations solve by Cramer in four multiplies).
    Determinism (§8.21): per-day counts int64; products carried as
    hi/lo piece-sums, reconstructed with the shared hi·2³² + lo
    spelling; then ONE fixed-order double chain (divisions only — no
    libm terms, rule 22 not in play) mirrored textually in the
    oracle; degenerate inputs (constant regressors, T ≤ 3, perfect
    fit) yield NULL (§8.17).  Asymptotic F(0.95; 1, ∞) frozen verdict
    literal (q_brown_forsythe convention)."""
    o = load_table(spark, sf_dir, "orders")
    us = epoch_us(o, "o_orderdate")
    d = o.groupBy(
        F.floor(us / F.lit(86_400_000_000)).alias("dayidx")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("y"),
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("long"))
        .cast("long")
        .alias("x"),
    )
    d = d.persist()  # day-grain invariant: both sides of the lag join
    cur = d.select(F.col("dayidx").alias("di_c"), F.col("y").alias("yy"))
    prev = d.select(
        F.col("dayidx").alias("di_p"),
        F.col("y").alias("l"),
        F.col("x").alias("xx"),
    )
    p = cur.join(
        F.broadcast(prev), F.col("di_c") == F.col("di_p") + 1
    ).select("yy", "l", "xx")

    def hi_lo(t, name):
        return [
            F.sum(F.expr(f"({t}) div 4294967296"))
            .cast("long")
            .alias(f"{name}_hi"),
            F.sum(F.expr(f"({t}) % 4294967296"))
            .cast("long")
            .alias(f"{name}_lo"),
        ]

    s = p.agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("yy").cast("long").alias("sy"),
        F.sum("l").cast("long").alias("sl"),
        F.sum("xx").cast("long").alias("sx"),
        *hi_lo("yy * yy", "syy"),
        *hi_lo("l * l", "sll"),
        *hi_lo("xx * xx", "sxx"),
        *hi_lo("l * yy", "sly"),
        *hi_lo("xx * yy", "sxy"),
        *hi_lo("l * xx", "slx"),
    )

    def recon(name):
        return F.col(f"{name}_hi").cast("double") * F.lit(
            4294967296.0
        ) + F.col(f"{name}_lo").cast("double")

    td = F.col("t").cast("double")
    syd, sld, sxd = (
        F.col("sy").cast("double"),
        F.col("sl").cast("double"),
        F.col("sx").cast("double"),
    )
    cyy = recon("syy") - (syd * syd) / td
    cll = recon("sll") - (sld * sld) / td
    cxx = recon("sxx") - (sxd * sxd) / td
    cly = recon("sly") - (sld * syd) / td
    cxy = recon("sxy") - (sxd * syd) / td
    clx = recon("slx") - (sld * sxd) / td
    det = cll * cxx - clx * clx
    # NULLIF-equivalent guards: ANSI Spark throws on /0 where DuckDB
    # emits inf (§8.17) — divide by NULL instead, which both engines
    # propagate as NULL
    cll_nz = F.when(cll == 0, F.lit(None).cast("double")).otherwise(cll)
    det_nz = F.when(det == 0, F.lit(None).cast("double")).otherwise(det)
    rss_r = cyy - (cly * cly) / cll_nz
    rss_u = (
        cyy
        - ((cly * cxx - cxy * clx) / det_nz) * cly
        - ((cxy * cll - cly * clx) / det_nz) * cxy
    )
    f_stat = (rss_r - rss_u) / (rss_u / (F.col("t") - 3).cast("double"))
    bad = (
        (F.col("t") <= 3) | (cll <= 0) | (det <= 0) | (rss_u <= 0)
    )
    out = s.select(
        F.col("t").alias("n_obs"),
        F.when(cll <= 0, F.lit(None).cast("double"))
        .otherwise(rss_r)
        .alias("rss_r"),
        F.when((cll <= 0) | (det <= 0), F.lit(None).cast("double"))
        .otherwise(rss_u)
        .alias("rss_u"),
        F.when(bad, F.lit(None).cast("double"))
        .otherwise(f_stat)
        .alias("f_stat"),
        F.when(bad, F.lit(None).cast("boolean"))
        .otherwise(f_stat > _GRANGER_CRIT)
        .alias("x_causes_y"),
    )
    try:
        # 1-row result: eager checkpoint materializes through the
        # persisted day grain (q_cross_correlation discipline)
        return out.localCheckpoint(eager=True)
    finally:
        d.unpersist()


# ========================================================================
# q_fisher_exact — Fisher's exact test on a calendar-bounded 2×2
# ========================================================================


@register(
    "q_fisher_exact",
    oracle="""
WITH d AS (
  SELECT EPOCH_US(o_orderdate) // 86400000000 AS dayidx,
         CAST(MIN(EXTRACT(MONTH FROM o_orderdate)) AS BIGINT) AS mon,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
med AS (SELECT MEDIAN(cents) AS med FROM d),
cls AS (
  SELECT CASE WHEN d.mon <= 6 THEN 1 ELSE 0 END AS h1,
         CASE WHEN CAST(d.cents AS DOUBLE) > m.med THEN 1 ELSE 0 END
           AS hi
  FROM d CROSS JOIN med m
),
tab AS (
  SELECT CAST(SUM(h1 * hi) AS BIGINT) AS a,
         CAST(SUM(h1 * (1 - hi)) AS BIGINT) AS b,
         CAST(SUM((1 - h1) * hi) AS BIGINT) AS c,
         CAST(SUM((1 - h1) * (1 - hi)) AS BIGINT) AS d
  FROM cls
),
lf AS (
  SELECT k,
         CAST(COALESCE(SUM(CAST(ROUND(LN(CAST(k2 AS DOUBLE)), 9)
                                AS DECIMAL(28,9)))
                       OVER (ORDER BY k), 0) AS DECIMAL(28,9)) AS lnf
  FROM (
    SELECT k, k AS k2
    FROM (SELECT UNNEST(GENERATE_SERIES(0,
           (SELECT CAST(a + b + c + d AS INTEGER) FROM tab))) AS k)
    WHERE k >= 1
    UNION ALL SELECT 0, NULL
  )
),
marg AS (
  SELECT a, b, c, d,
         a + b AS r1, c + d AS r2, a + c AS c1,
         a + b + c + d AS n
  FROM tab
),
ks AS (
  SELECT m.*, g.k
  FROM marg m,
       (SELECT UNNEST(GENERATE_SERIES(0,
          (SELECT CAST(LEAST(a + b, a + c) AS INTEGER) FROM tab)))
          AS k) g
  WHERE g.k >= GREATEST(0, m.c1 - m.r2)
),
logp AS (
  SELECT ks.k, ks.a,
         CAST(
           (l_r1.lnf - l_k.lnf - l_r1k.lnf)
           + (l_r2.lnf - l_c1k.lnf - l_r2c1k.lnf)
           - (l_n.lnf - l_c1.lnf - l_nc1.lnf)
         AS DECIMAL(28,9)) AS lp
  FROM ks
  JOIN lf l_r1 ON l_r1.k = ks.r1
  JOIN lf l_k ON l_k.k = ks.k
  JOIN lf l_r1k ON l_r1k.k = ks.r1 - ks.k
  JOIN lf l_r2 ON l_r2.k = ks.r2
  JOIN lf l_c1k ON l_c1k.k = ks.c1 - ks.k
  JOIN lf l_r2c1k ON l_r2c1k.k = ks.r2 - (ks.c1 - ks.k)
  JOIN lf l_n ON l_n.k = ks.n
  JOIN lf l_c1 ON l_c1.k = ks.c1
  JOIN lf l_nc1 ON l_nc1.k = ks.n - ks.c1
),
obs AS (SELECT lp AS lp_obs FROM logp WHERE k = a),
psum AS (
  SELECT CAST(SUM(CAST(ROUND(EXP(CAST(l.lp AS DOUBLE)), 12)
                       AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS p2
  FROM logp l CROSS JOIN obs o
  WHERE l.lp <= o.lp_obs
)
SELECT t.a, t.b, t.c, t.d,
       CASE WHEN t.b = 0 OR t.c = 0 THEN NULL
            ELSE (CAST(t.a AS DOUBLE) * CAST(t.d AS DOUBLE))
                 / (CAST(t.b AS DOUBLE) * CAST(t.c AS DOUBLE)) END
         AS odds_ratio,
       CAST(p.p2 AS DOUBLE) AS p_two_sided
FROM tab t CROSS JOIN psum p
""",
)
def q_fisher_exact(spark, sf_dir):
    """Fisher's EXACT test on a calendar-bounded 2×2: are
    above-median-revenue days associated with the first calendar half
    (month ≤ 6)?  The hypergeometric tail sum a chi-square only
    approximates — and the one combinatorial-exact test in the suite.
    Two-sided convention: sum P(k) over all tables whose log-
    probability is ≤ the observed table's, compared as EXACT DECIMALS
    (scipy's 1+1e-7 relative fudge replaced by a deterministic
    decimal comparison — documented semantic choice).

    100 TB shape: the 2×2 lives on the DAY grain, so N ≈ 2,400 AT ANY
    DATA VOLUME — the ln-factorial table (a bounded decimal cumsum),
    the k-range sweep (≤ min margin), and the nine lnfact lookups per
    k are all calendar-bounded broadcast joins; only the day-grain
    collapse touches full data (q_theil_sen_trend discipline).
    Exact-test semantics are inherently small-N — the day grain is
    what makes them honest at scale.  Determinism: lnfact(k) =
    Σ round(ln i, 9)→DECIMAL (rule 22: every libm term rounds), lnC
    and logp stay exact decimal arithmetic; each probability term
    round(exp(logp), 12)→DECIMAL(38,12) order-free sum; odds ratio is
    a fixed-order double chain with NULL zero-cell guard (§8.17);
    the median day-revenue cut mirrors q_outlier_mad's
    percentile/MEDIAN interpolation contract."""
    o = load_table(spark, sf_dir, "orders")
    us = epoch_us(o, "o_orderdate")
    d = o.groupBy(
        F.floor(us / F.lit(86_400_000_000)).alias("dayidx")
    ).agg(
        F.min(F.month("o_orderdate")).cast("long").alias("mon"),
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("cents"),
    )
    med = d.agg(F.expr("percentile(cents, 0.5D)").alias("med"))
    cls = d.crossJoin(F.broadcast(med)).select(
        F.when(F.col("mon") <= 6, 1).otherwise(0).alias("h1"),
        F.when(F.col("cents").cast("double") > F.col("med"), 1)
        .otherwise(0)
        .alias("hi"),
    )
    tab = cls.agg(
        F.sum(F.col("h1") * F.col("hi")).cast("long").alias("a"),
        F.sum(F.col("h1") * (1 - F.col("hi"))).cast("long").alias("b"),
        F.sum((1 - F.col("h1")) * F.col("hi")).cast("long").alias("c"),
        F.sum((1 - F.col("h1")) * (1 - F.col("hi")))
        .cast("long")
        .alias("d"),
    )
    # the 2x2 is four scalars at the bounded day grain — driver-sync
    # here is the q_hic_significance <=100-row precedent, and the
    # lnfact/k-range tables below need its values as literals
    trow = tab.collect()[0]
    # SUM over zero rows is NULL in both engines — an empty slice is
    # the all-zero table (test_empty_inputs contract: degenerate row,
    # never a stack trace)
    a_ = trow["a"] or 0
    b_ = trow["b"] or 0
    c_ = trow["c"] or 0
    d_ = trow["d"] or 0
    r1, r2, c1 = a_ + b_, c_ + d_, a_ + c_
    n_ = a_ + b_ + c_ + d_
    if n_ == 0:
        return spark.createDataFrame(
            [(0, 0, 0, 0, None, None)],
            "a long, b long, c long, d long, odds_ratio double, "
            "p_two_sided double",
        )
    lf = (
        spark.range(0, n_ + 1)
        .select(F.col("id").alias("k"))
        .select(
            "k",
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("k") >= 1,
                        F.round(F.log(F.col("k").cast("double")), 9).cast(
                            "decimal(28,9)"
                        ),
                    )
                ).over(
                    Window.orderBy("k").rowsBetween(
                        Window.unboundedPreceding, 0
                    )
                ),
                F.lit(0).cast("decimal(28,9)"),
            )
            .cast("decimal(28,9)")
            .alias("lnf"),
        )
    )
    lfm = {r["k"]: r["lnf"] for r in lf.collect()}

    def lnC(nn, kk):
        return lfm[nn] - lfm[kk] - lfm[nn - kk]

    klo, khi = max(0, c1 - r2), min(r1, c1)
    rows = []
    for k in range(klo, khi + 1):
        lp = lnC(r1, k) + lnC(r2, c1 - k) - lnC(n_, c1)
        rows.append((k, lp))
    lp_obs = dict(rows)[a_]
    logp = spark.createDataFrame(rows, "k long, lp decimal(28,9)")
    psum = logp.filter(F.col("lp") <= F.lit(lp_obs)).agg(
        F.sum(
            F.round(F.exp(F.col("lp").cast("double")), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("decimal(38,12)")
        .alias("p2")
    )
    orr = (
        F.col("a").cast("double") * F.col("d").cast("double")
    ) / (F.col("b").cast("double") * F.col("c").cast("double"))
    return tab.crossJoin(F.broadcast(psum)).select(
        "a",
        "b",
        "c",
        "d",
        F.when(
            (F.col("b") == 0) | (F.col("c") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(orr)
        .alias("odds_ratio"),
        F.col("p2").cast("double").alias("p_two_sided"),
    )


# ========================================================================
# q_knn_classify — k-nearest-neighbor label prediction over embeddings
# ========================================================================

_KNN_K = 5


@register(
    "q_knn_classify",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec, label AS true_label
  FROM embeddings WHERE vec_id < 10
),
cand AS (
  SELECT vec_id AS e_id, embedding AS e_vec, label AS nbr_label
  FROM embeddings WHERE vec_id >= 10
),
pairs AS (
  SELECT q.q_id, q.true_label, c.e_id, c.nbr_label,
         ROUND(
           LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
             i -> CAST(q.q_vec[i] AS DOUBLE)
                  * CAST(c.e_vec[i] AS DOUBLE)))
           / (SQRT(LIST_SUM(LIST_TRANSFORM(q.q_vec,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * SQRT(LIST_SUM(LIST_TRANSFORM(c.e_vec,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS cosine
  FROM q JOIN cand c ON TRUE
),
nn AS (
  SELECT q_id, true_label, nbr_label,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine DESC, e_id) AS rn
  FROM pairs
),
votes AS (
  SELECT q_id, true_label, nbr_label, COUNT(*) AS n_votes
  FROM nn WHERE rn <= {_KNN_K}
  GROUP BY q_id, true_label, nbr_label
),
pred AS (
  SELECT q_id, true_label, nbr_label AS pred_label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY n_votes DESC, nbr_label) AS pr
  FROM votes
)
SELECT q_id, CAST(true_label AS BIGINT) AS true_label,
       CAST(pred_label AS BIGINT) AS pred_label,
       CAST(n_votes AS BIGINT) AS n_votes,
       pred_label = true_label AS correct
FROM pred WHERE pr = 1
""",
)
def q_knn_classify(spark, sf_dir):
    """k-NN classification (k=5, cosine) of held-out query vectors
    against the labeled corpus — majority vote with a deterministic
    (count desc, label) tie-break — the zero-training classifier that
    closes the ANN stack (q_sim_topk retrieves, this PREDICTS; IVF/LSH
    pruning swaps in for the brute-force scan the same way).

    100 TB shape: the bounded query side ships by closure into ONE
    Arrow pass over the corpus (llmops.cosine_topk_gemm — round 14;
    per-batch top-k, so the rank window sees ≤ k·q·n_batches rows,
    never n·q), the corpus is read once and never self-joins.
    Determinism: q_sim_topk's rank convention (round(6) cosine with
    e_id tie-break — ties are measure-zero on sqrt-normalized dots);
    votes and the majority rank are exact integers with full
    tie-break chains."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10)
    cand = e.filter(F.col("vec_id") >= 10)
    nn = llmops.cosine_topk_gemm(cand, queries, k=_KNN_K)
    lbl = cand.select(
        F.col("vec_id").alias("e_id"), F.col("label").alias("nbr_label")
    )
    tl = queries.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    )
    votes = (
        nn.join(lbl, "e_id")
        .groupBy("q_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wmaj = Window.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), "nbr_label"
    )
    pred = votes.withColumn("pr", F.row_number().over(wmaj)).filter(
        F.col("pr") == 1
    )
    return pred.join(F.broadcast(tl), "q_id").select(
        "q_id",
        F.col("true_label").cast("long").alias("true_label"),
        F.col("nbr_label").cast("long").alias("pred_label"),
        F.col("n_votes").cast("long").alias("n_votes"),
        (F.col("nbr_label") == F.col("true_label")).alias("correct"),
    )


# ========================================================================
# q_readability — Flesch reading ease from deterministic text counts
# ========================================================================


@register(
    "q_readability",
    oracle="""
WITH t AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS BIGINT)
           AS n_words,
         CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1)
              AS BIGINT) AS n_sentences,
         CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(TRIM(text)), '[aeiouy]+'))
              AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CAST(206.835 AS DOUBLE)
         - CAST(1.015 AS DOUBLE)
           * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         - CAST(84.6 AS DOUBLE)
           * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
         AS flesch
FROM t
""",
)
def q_readability(spark, sf_dir):
    """Flesch reading-ease per document from fully deterministic text
    counts (words = whitespace tokens, sentences = terminal-punct
    runs clamped ≥ 1, syllables ≈ vowel-group count — the standard
    cheap heuristic) — the grade-level quality signal a curation
    stack runs beside q_quality_score's length/punct ratios and
    q_lm_score's perplexity (readability bands are a common training-
    mix steering feature).

    100 TB shape: three regexp counters in one narrow projection —
    zero shuffles, zero joins; output stays on the partition that
    read the document.  Determinism: all three counts are exact
    integers from character-class regexes (identical RE semantics in
    both engines — the q_token_count contract); the score is one
    fixed-order double chain over hardware-exact casts (constants
    CAST to DOUBLE on the oracle side — DuckDB parses bare decimal
    literals as DECIMAL); n_words ≥ 1 always (split of an empty
    string yields one token), n_sentences clamped, so no division
    guard is needed."""
    d = load_table(spark, sf_dir, "documents")
    nt = llmops.norm_text("text")
    t = d.select(
        "doc_id",
        F.size(F.split(nt, " ")).cast("long").alias("n_words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("n_sentences"),
        F.regexp_count(nt, F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (
            F.col("n_words").cast("double")
            / F.col("n_sentences").cast("double")
        )
        - F.lit(84.6)
        * (
            F.col("n_syllables").cast("double")
            / F.col("n_words").cast("double")
        )
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch.alias("flesch"),
    )


# ========================================================================
# q_intersect_all / q_except_all — bag-semantics set operators
# ========================================================================


@register(
    "q_intersect_all",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT ALL
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_intersect_all(spark, sf_dir):
    """INTERSECT ALL (bag semantics): each nation key survives
    min(customer-side multiplicity, supplier-side multiplicity) times
    — the SQL surface q_intersect's DISTINCT form cannot express
    (multiplicity carries the answer to "how many matched slots", the
    reconciliation-count shape).

    100 TB shape: Spark plans intersectAll as a count-aggregate per
    side + generate (one shuffle per side on the compared columns,
    never a row-by-row pairing); identical physical story to the
    DISTINCT form plus a replicate."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersectAll(s)


@register(
    "q_except_all",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT ALL
SELECT s_nationkey AS nationkey FROM supplier
""",
)
def q_except_all(spark, sf_dir):
    """EXCEPT ALL (bag semantics): each nation key survives
    max(0, customer multiplicity − supplier multiplicity) times — the
    surplus-per-key operator (unmatched-slot reconciliation) that
    DISTINCT EXCEPT collapses to a membership test.

    Same physical story as q_intersect_all: per-side count aggregate
    + generate, one shuffle per side."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.exceptAll(s)


# ========================================================================
# q_record_linkage — Fellegi–Sunter probabilistic record linkage
# ========================================================================

#: Frozen per-field match weights in MICRO-NATS (w = round(1e6·ln(m/u))
#: / round(1e6·ln((1−m)/(1−u))) for the agree / disagree case),
#: hardcoded as integer literals so no runtime ln (rule 22) and no
#: host-dependent rounding can enter:
#:   name_digit  m=0.95, u=0.10   → +2251292 / −2890372
#:   bal_band    m=0.90, u=0.05   → +2890372 / −2251292
#:   key_hash    m=0.85, u=1/97   → +4412192 / −1886757
_RL_W = {
    "f_name": (2251292, -2890372),
    "f_band": (2890372, -2251292),
    "f_hash": (4412192, -1886757),
}
#: link / possible thresholds in micro-nats (upper ≈ 4 nats ≈ odds
#: ratio e⁴ ≈ 55:1; lower = even odds).
_RL_UPPER = 4_000_000
_RL_LOWER = 0
#: Per-block member cap (the EDIT_DEDUP_MAX_BLOCK discipline): a block
#: of B members fans C(B,2) pairs — rank members by key and keep the
#: first 100, so one mega-block cannot go quadratic.
_RL_MAX_BLOCK = 100


@register(
    "q_record_linkage",
    oracle=f"""
WITH m AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         SUBSTR(c_name, LENGTH(c_name), 1) AS name_digit,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) // 100000 AS band,
         c_custkey % 97 AS keyhash,
         ROW_NUMBER() OVER (
           PARTITION BY c_nationkey, c_mktsegment ORDER BY c_custkey
         ) AS rn
  FROM customer
),
k AS (SELECT * FROM m WHERE rn <= {_RL_MAX_BLOCK}),
pairs AS (
  SELECT (CASE WHEN a.name_digit = b.name_digit
               THEN {_RL_W["f_name"][0]} ELSE {_RL_W["f_name"][1]} END
        + CASE WHEN a.band = b.band
               THEN {_RL_W["f_band"][0]} ELSE {_RL_W["f_band"][1]} END
        + CASE WHEN a.keyhash = b.keyhash
               THEN {_RL_W["f_hash"][0]} ELSE {_RL_W["f_hash"][1]} END)
           AS w
  FROM k a JOIN k b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.rn < b.rn
),
cls AS (
  SELECT CASE WHEN w >= {_RL_UPPER} THEN 'link'
              WHEN w >= {_RL_LOWER} THEN 'possible'
              ELSE 'non_link' END AS classification,
         w
  FROM pairs
)
SELECT classification,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(w) AS BIGINT) AS sum_w_micro,
       CAST(SUM(w) AS DOUBLE)
         / (CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS avg_w_nats
FROM cls GROUP BY classification
""",
)
def q_record_linkage(spark, sf_dir):
    """Fellegi–Sunter probabilistic record linkage over the customer
    table: blocked candidate pairs scored by summed per-field
    agreement log-odds (name terminal digit, account-balance band,
    key-hash — frozen m/u priors), classified link / possible /
    non-link against decision thresholds — the identity-resolution
    classic that completes the dedup family (every other form matches
    CONTENT; this one weighs EVIDENCE per field).  Output is the
    per-class census a linkage run is judged by before anyone reads
    pairs.

    100 TB shape: candidate pairs exist ONLY within
    (nation, segment) blocks — an equi-join, never a cross product —
    and each block is CAPPED at 100 ranked members before the
    self-join (C(B,2) dies at the cap, the EDIT_DEDUP_MAX_BLOCK
    discipline; the cap fires deterministically on custkey rank).
    Determinism: weights are hardcoded INTEGER micro-nat literals (no
    runtime ln — rule 22 cannot enter), so pair scores and their sums
    are exact int64 (≤ 9.6 nats·10⁶ per pair); the block key uses
    tie-free integer cents banding (§8.15) with div/`//` truncation
    pairing (§8.21 — balances go negative); ONE final double division
    per class row (§8.13)."""
    c = load_table(spark, sf_dir, "customer")
    wblock = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "c_custkey"
    )
    m = c.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.substring(
            F.col("c_name"), F.length("c_name"), 1
        ).alias("name_digit"),
        F.expr(
            "CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) div 100000"
        ).alias("band"),
        (F.col("c_custkey") % 97).alias("keyhash"),
        F.row_number().over(wblock).alias("rn"),
    ).filter(F.col("rn") <= _RL_MAX_BLOCK)
    a = m.alias("a")
    b = m.alias("b")
    w = (
        F.when(
            F.col("a.name_digit") == F.col("b.name_digit"),
            F.lit(_RL_W["f_name"][0]),
        ).otherwise(F.lit(_RL_W["f_name"][1]))
        + F.when(
            F.col("a.band") == F.col("b.band"), F.lit(_RL_W["f_band"][0])
        ).otherwise(F.lit(_RL_W["f_band"][1]))
        + F.when(
            F.col("a.keyhash") == F.col("b.keyhash"),
            F.lit(_RL_W["f_hash"][0]),
        ).otherwise(F.lit(_RL_W["f_hash"][1]))
    )
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.rn") < F.col("b.rn")),
    ).select(w.cast("long").alias("w"))
    cls = pairs.select(
        F.when(F.col("w") >= _RL_UPPER, "link")
        .when(F.col("w") >= _RL_LOWER, "possible")
        .otherwise("non_link")
        .alias("classification"),
        "w",
    )
    return cls.groupBy("classification").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("w").cast("long").alias("sum_w_micro"),
        (
            F.sum("w").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0))
        ).alias("avg_w_nats"),
    )


# ========================================================================
# q_weighted_quantile — weight-carried quantiles at value grain
# ========================================================================


@register(
    "q_weighted_quantile",
    oracle="""
WITH g AS (
  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         CAST(SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT cents, w,
         CAST(SUM(w) OVER (ORDER BY cents) AS BIGINT) AS cumw,
         CAST(SUM(w) OVER () AS BIGINT) AS tot
  FROM g
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(MIN(tot) AS BIGINT) AS total_weight,
       CAST(MIN(CASE WHEN 4 * cumw >= tot THEN cents END) AS BIGINT)
         AS p25_cents,
       CAST(MIN(CASE WHEN 2 * cumw >= tot THEN cents END) AS BIGINT)
         AS p50_cents,
       CAST(MIN(CASE WHEN 4 * cumw >= 3 * tot THEN cents END) AS BIGINT)
         AS p75_cents
FROM c
""",
)
def q_weighted_quantile(spark, sf_dir):
    """Weight-carried quantiles: the quantity-WEIGHTED quartiles of
    unit price — "the price below which half the UNITS (not half the
    rows) were sold", the inventory/revenue-mass location statistic
    every plain percentile key answers wrongly on weighted questions.
    Lower weighted-quantile convention: smallest value whose
    cumulative weight reaches q·W (nearest-rank, no interpolation —
    the convention is part of the contract and is exactly integral).

    100 TB shape: ONE groupBy to the value grain (integer cents,
    §8.15 tie-free), then the prefix sum AND the global total ride
    one windows.scalable_cumsum pass (distinct price cents grow
    ~linearly with volume, so the value grain is NOT domain-bounded;
    small_threshold keeps the plain window below 2 M distinct values),
    and one conditional-min census.
    Determinism: INTEGERS END TO END — weights are exact unit counts,
    thresholds cut by integer cross-multiply (4·cumw ≥ q·W, §8.19 —
    never a double quotient), outputs are integer cents; there is no
    floating-point operation anywhere in this key."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents")
    ).agg(
        F.sum(F.round(F.col("l_quantity"), 0).cast("long"))
        .cast("long")
        .alias("w")
    )
    c = win.scalable_cumsum(
        g,
        "cents",
        sums={"cumw": "w"},
        tots={"tot": "w"},
        small_threshold=win.SMALL_THRESHOLD_DEFAULT,
    ).select(
        "cents",
        F.col("cumw").cast("long").alias("cumw"),
        F.col("tot").cast("long").alias("tot"),
    )
    return c.agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.min("tot").cast("long").alias("total_weight"),
        F.min(
            F.when(4 * F.col("cumw") >= F.col("tot"), F.col("cents"))
        )
        .cast("long")
        .alias("p25_cents"),
        F.min(
            F.when(2 * F.col("cumw") >= F.col("tot"), F.col("cents"))
        )
        .cast("long")
        .alias("p50_cents"),
        F.min(
            F.when(
                4 * F.col("cumw") >= 3 * F.col("tot"), F.col("cents")
            )
        )
        .cast("long")
        .alias("p75_cents"),
    )


# ========================================================================
# q_quantile_normalize — rank-align per-source distributions
# ========================================================================


@register(
    "q_quantile_normalize",
    oracle="""
WITH r AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY n_chars, doc_id
         ) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_s
  FROM documents
),
p AS (
  SELECT n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS grk,
         COUNT(*) OVER () AS n
  FROM documents
),
d AS (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS decile),
src_pts AS (
  SELECT r.source, d.decile, r.n_chars AS raw_chars
  FROM r JOIN d ON r.rk = (d.decile * r.n_s + 9) // 10
),
pool_pts AS (
  SELECT d.decile, p.n_chars AS normalized_chars
  FROM p JOIN d ON p.grk = (d.decile * p.n + 9) // 10
)
SELECT s.source, CAST(s.decile AS BIGINT) AS decile,
       CAST(s.raw_chars AS BIGINT) AS raw_chars,
       CAST(pp.normalized_chars AS BIGINT) AS normalized_chars
FROM src_pts s JOIN pool_pts pp ON s.decile = pp.decile
""",
)
def q_quantile_normalize(spark, sf_dir):
    """Quantile normalization (rank alignment) of each source's
    document-length distribution onto the POOLED corpus distribution —
    the batch-effect corrector (microarray/omics classic, and the
    fair-mixing answer when one crawl source runs systematically
    long): a source's d-th decile value maps to the pooled d-th decile
    value.  Emitted as the per-(source, decile) mapping table a
    normalizing join would broadcast.  Nearest-rank convention
    (ceil(d·n/10), integer — no interpolation) is part of the
    contract.

    100 TB shape: one per-source rank window + one global rank via
    windows.scalable_rank (value buckets + broadcast prefix offsets —
    never a one-task corpus-grain sort; the VERDICT r8 `weak` fix)
    over a column-pruned (source, n_chars, doc_id) projection;
    the decile-position probe joins a broadcast 10-row grid on exact
    rank equality, so only ~10 rows per source survive to the final
    broadcast join.  Determinism: ranks are total orders on
    (n_chars, doc_id); positions are integer ceil-divisions spelled
    (d·n + 9) div 10 ↔ `// ` (§8.7, non-negative); INTEGERS END TO
    END."""
    d = load_table(spark, sf_dir, "documents")
    wsrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wsn = Window.partitionBy("source")
    r = d.select(
        "source",
        "n_chars",
        F.row_number().over(wsrc).alias("rk"),
        F.count(F.lit(1)).over(wsn).alias("n_s"),
    )
    p = win.scalable_rank(
        d.select("n_chars", "doc_id"),
        [F.col("n_chars"), F.col("doc_id")],
        "n_chars",
        rank_col="grk",
        tot_col="n",
    ).drop("_pid", "doc_id")
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    src_pts = r.crossJoin(F.broadcast(deciles)).filter(
        F.col("rk")
        == F.expr("(decile * n_s + 9) div 10")
    ).select("source", "decile", F.col("n_chars").alias("raw_chars"))
    pool_pts = p.crossJoin(F.broadcast(deciles)).filter(
        F.col("grk") == F.expr("(decile * n + 9) div 10")
    ).select("decile", F.col("n_chars").alias("normalized_chars"))
    return src_pts.join(F.broadcast(pool_pts), "decile").select(
        "source",
        F.col("decile").cast("long").alias("decile"),
        F.col("raw_chars").cast("long").alias("raw_chars"),
        F.col("normalized_chars").cast("long").alias("normalized_chars"),
    )


# ========================================================================
# q_changepoint_binary — best single split of the daily revenue series
# ========================================================================


@register(
    "q_changepoint_binary",
    oracle="""
WITH d AS (
  SELECT EPOCH_US(o_orderdate) // 86400000000 AS dayidx,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
c AS (
  SELECT dayidx,
         CAST(ROW_NUMBER() OVER (ORDER BY dayidx) AS BIGINT) AS k,
         CAST(SUM(cents) OVER (ORDER BY dayidx) AS BIGINT) AS cum,
         CAST(SUM(cents) OVER () AS BIGINT) AS tot,
         CAST(COUNT(*) OVER () AS BIGINT) AS nd
  FROM d
),
g AS (
  SELECT dayidx, k, nd,
         (CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE))
           / CAST(k AS DOUBLE)
         + (CAST(tot - cum AS DOUBLE) * CAST(tot - cum AS DOUBLE))
           / CAST(nd - k AS DOUBLE)
         - (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))
           / CAST(nd AS DOUBLE) AS gain,
         CAST(cum AS DOUBLE) / CAST(k AS DOUBLE) AS mean_left_cents,
         CAST(tot - cum AS DOUBLE) / CAST(nd - k AS DOUBLE)
           AS mean_right_cents
  FROM c WHERE k < nd
)
SELECT dayidx AS split_after_day, k AS n_left,
       nd - k AS n_right, gain, mean_left_cents, mean_right_cents
FROM g
ORDER BY gain DESC, dayidx
LIMIT 1
""",
)
def q_changepoint_binary(spark, sf_dir):
    """Binary-segmentation changepoint: the single split of the daily
    revenue series that maximizes the SSE reduction
    L²/n_l + R²/n_r − T²/n (the exact sum-identity form — no per-day
    residual pass), i.e. the first step of binary segmentation and the
    LOCATION complement to q_cusum_changepoint's drift alarm.

    100 TB shape: the series collapses to the CALENDAR-BOUNDED day
    grain; prefix sums and the O(D) candidate sweep ride ~2,400 rows
    regardless of volume (q_theil_sen_trend discipline).  Determinism:
    day cents and their prefix sums are exact int64; the gain is one
    fixed-order double chain over int64 casts (hardware-correct at any
    magnitude in both engines, §8.21 — divisions only, no libm), so
    the ORDER BY ranks IDENTICAL doubles with a dayidx tie-break;
    means are single unrounded divisions (§8.13)."""
    o = load_table(spark, sf_dir, "orders")
    us = epoch_us(o, "o_orderdate")
    d = o.groupBy(
        F.floor(us / F.lit(86_400_000_000)).alias("dayidx")
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("cents")
    )
    wcum = Window.orderBy("dayidx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.orderBy("dayidx").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = d.select(
        "dayidx",
        F.row_number().over(Window.orderBy("dayidx"))
        .cast("long")
        .alias("k"),
        F.sum("cents").over(wcum).cast("long").alias("cum"),
        F.sum("cents").over(wall).cast("long").alias("tot"),
        F.count(F.lit(1)).over(wall).cast("long").alias("nd"),
    )
    cumd = F.col("cum").cast("double")
    rd = (F.col("tot") - F.col("cum")).cast("double")
    kd = F.col("k").cast("double")
    nrd = (F.col("nd") - F.col("k")).cast("double")
    totd = F.col("tot").cast("double")
    ndd = F.col("nd").cast("double")
    gain = (
        (cumd * cumd) / kd + (rd * rd) / nrd - (totd * totd) / ndd
    )
    g = c.filter(F.col("k") < F.col("nd")).select(
        F.col("dayidx").alias("split_after_day"),
        F.col("k").alias("n_left"),
        (F.col("nd") - F.col("k")).alias("n_right"),
        gain.alias("gain"),
        (cumd / kd).alias("mean_left_cents"),
        (rd / nrd).alias("mean_right_cents"),
    )
    return g.orderBy(F.col("gain").desc(), "split_after_day").limit(1)


# ========================================================================
# q_oov_rate — out-of-vocabulary rate per source vs the pooled top-k
# ========================================================================

_OOV_VOCAB_K = 1000


@register(
    "q_oov_rate",
    oracle=f"""
WITH toks AS (
  SELECT source, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
  FROM documents
),
ws AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w),
pooled AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM ws GROUP BY w),
vocab AS (
  SELECT w FROM pooled ORDER BY cw DESC, w LIMIT {_OOV_VOCAB_K}
)
SELECT ws.source,
       CAST(SUM(ws.c) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.w IS NULL THEN ws.c ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST(SUM(CASE WHEN v.w IS NULL THEN ws.c ELSE 0 END) AS DOUBLE)
         / CAST(SUM(ws.c) AS DOUBLE) AS oov_rate
FROM ws LEFT JOIN vocab v ON ws.w = v.w
GROUP BY ws.source
""",
)
def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per source against the pooled top-1000
    vocabulary — the tokenizer-coverage / domain-shift signal a
    curation stack reads before fixing a training mix (a source whose
    OOV rate spikes is the one blowing up the token budget or the
    fertility).

    100 TB shape: ONE corpus explode to the vocab×source grain
    (persisted, q_pmi_bigrams derived-marginal discipline); the pooled
    counts DERIVE from it (Σ over sources), the top-k vocabulary is a
    TakeOrdered over the bounded vocab grain and broadcasts back onto
    the same cached table — the token stream never shuffles twice.
    Determinism: integer counts end to end with full (count desc,
    token) tie-break on the vocabulary cut; ONE final division
    (§8.13; n_tokens ≥ 1 whenever a source row exists)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(llmops.tokens_col("text")).alias("w")
    )
    ws = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ws = persist_bounded(ws)
    pooled = ws.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    vocab = (
        pooled.orderBy(F.col("cw").desc(), "w")
        .limit(_OOV_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    j = ws.join(F.broadcast(vocab), "w", "left")
    oov_c = F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(
        F.lit(0)
    )
    return j.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(oov_c).cast("long").alias("n_oov"),
        (
            F.sum(oov_c).cast("double") / F.sum("c").cast("double")
        ).alias("oov_rate"),
    )
