"""Round-9 §2.22 registry keys (EXT-3): pipeline-assembly operators —
entity resolution READ side + golden-record survivorship, maintained
dedup indexes, per-group corpus subsampling, mixture allocation +
importance reweighting, sequence mining, retrieval fusion, score
calibration, conformal intervals, sliced/variance-reduced experiment
reads, two-sample value-unit drift, mergeable quantile/membership
summaries with a certified merge operator, co-occurrence graph
projections, ANN-graph construction, private count release, and
holdout-integrity gates.

Every key follows the house determinism contract (FIXTURES.md):
exact integer counts, cross-engine hashes only (Knuth / MD5-ASCII),
transcendentals round(9)-before-use (rule 22), rank keys on
round(6)→DECIMAL or pure integers (§8.16), div/`//` truncation pairs
on non-negative operands (§8.7), hi/lo int64 piece-sums where a sum
exceeds the int64 budget (§8.21), NULL on degenerate inputs (§8.17),
and full tie-break chains on every rank/limit.

Provenance: like §2.20/§2.21 these are mandated EXT breadth (the
LLM-training-data-pipeline completeness surface), not reconstructions
of reference behavior — the reference mount is empty (SURVEY §0), so
no [P] citation is possible; semantics follow the cited public
classics (Fellegi–Sunter 1969 read side, Efraimidis–Spirakis 2006,
Vovk split-conformal, Székely–Rizzo energy distance, Charikar 2002
simhash banding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from .. import llmops  # noqa: F401
from .. import windows as win  # noqa: F401
from ..io import epoch_us, load_table  # noqa: F401
from ._core import (  # noqa: F401
    register,
)
from .keys_r8b import _RL_MAX_BLOCK, _RL_UPPER, _RL_W

# ========================================================================
# q_er_clusters — entity-resolution clusters from record-linkage links
# ========================================================================


def _rl_kept_members(spark, sf_dir) -> DataFrame:
    """The capped block-member table shared with q_record_linkage
    (keys_r8b.py): per-(nation, segment) block, the first
    _RL_MAX_BLOCK members by custkey, with the three comparison
    fields.  Kept in one place so the linkage WRITE side (pair
    census) and this READ side (clusters) can never drift apart."""
    c = load_table(spark, sf_dir, "customer")
    wblock = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "c_custkey"
    )
    return c.select(
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


@register(
    "q_er_clusters",
    oracle=f"""
WITH RECURSIVE m AS (
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
lp AS (
  SELECT a.c_custkey AS id1, b.c_custkey AS id2
  FROM k a JOIN k b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.rn < b.rn
  WHERE (CASE WHEN a.name_digit = b.name_digit
              THEN {_RL_W["f_name"][0]} ELSE {_RL_W["f_name"][1]} END
       + CASE WHEN a.band = b.band
              THEN {_RL_W["f_band"][0]} ELSE {_RL_W["f_band"][1]} END
       + CASE WHEN a.keyhash = b.keyhash
              THEN {_RL_W["f_hash"][0]} ELSE {_RL_W["f_hash"][1]} END)
        >= {_RL_UPPER}
),
e2 AS (SELECT id1 AS a, id2 AS b FROM lp
       UNION ALL SELECT id2, id1 FROM lp),
walk(v, l) AS (
  SELECT c_custkey, c_custkey FROM k
  UNION
  SELECT e.b, w.l FROM walk w JOIN e2 e ON w.v = e.a
),
lab AS (SELECT v, MIN(l) AS entity_id FROM walk GROUP BY v)
SELECT lab.v AS c_custkey, lab.entity_id,
       CAST(COUNT(*) OVER (PARTITION BY lab.entity_id) AS BIGINT)
         AS entity_size
FROM lab
""",
)
def q_er_clusters(spark, sf_dir):
    """Entity-resolution CLUSTERS — the READ side of
    q_record_linkage (keys_r8b.py): pairs scored ≥ the link
    threshold become edges, connected components give each customer
    an entity_id (= min custkey of the component) and entity_size —
    the step between pairwise linkage and a usable golden-record
    table (linkage is transitive in practice; representatives come
    from components, not pairs — the q_dedup_clusters argument on
    identity instead of content).

    100 TB shape: the pair generator is the linkage key's verbatim
    (nation, segment) block equi-join with the _RL_MAX_BLOCK rank
    cap BELOW the self-join, so the edge set is bounded at
    blocks × C(cap, 2); components run through
    llmops.connected_components (pointer-jumping min-label
    propagation, O(log diameter) rounds; small edge sets take the
    driver union-find fast path).  Node universe = the KEPT members
    (the linkage scope); non-kept rows are by definition outside
    this linkage run.  Determinism: integer micro-nat scores (no
    runtime ln), min-label ids, exact integer sizes."""
    k = _rl_kept_members(spark, sf_dir)
    a, b = k.alias("a"), k.alias("b")
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
    links = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.rn") < F.col("b.rn")),
        )
        .filter(w >= _RL_UPPER)
        .select(
            F.col("a.c_custkey").alias("id1"),
            F.col("b.c_custkey").alias("id2"),
        )
    )
    cc = llmops.connected_components(
        links, k.select("c_custkey"), id_col="c_custkey"
    )
    return cc.select(
        "c_custkey",
        F.col("cluster_id").alias("entity_id"),
        F.col("cluster_size").alias("entity_size"),
    )


# ========================================================================
# q_group_reservoir — per-source A-ES weighted reservoir sample
# ========================================================================

_GRES_K = 20


@register(
    "q_group_reservoir",
    oracle=f"""
WITH h AS (
  SELECT source, doc_id, n_chars,
         (((doc_id % 2654435761) * 2654435761) % 4294967296 + 1)
           / 4294967297.0 AS u
  FROM documents
),
r AS (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ROUND(LN(u), 9) / n_chars DESC, doc_id
         ) AS rk
  FROM h
)
SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= {_GRES_K}
""",
)
def q_group_reservoir(spark, sf_dir):
    """PER-SOURCE weighted reservoir sample (k=20 per source,
    weight = n_chars) — the partitioned Efraimidis–Spirakis A-ES
    draw beside the GLOBAL q_weighted_sample: a balanced per-source
    corpus subsample where long documents are proportionally
    likelier WITHIN their source, and no source can crowd out
    another (the stratified token-budget sampler a mixing recipe
    actually runs).

    Key = round(ln(u), 9) / n_chars with the deterministic Knuth
    uniform (q_weighted_sample's exact spelling — one
    correctly-rounded IEEE division of identical doubles by an exact
    integer weight, bit-identical cross-engine), ranked per source
    with doc_id tie-break.  Scale shape: stateless per-row hash →
    per-group top-k window (WindowGroupLimit pushes the k filter
    into the sort; parallelism = source count × AQE splits, and the
    reservoir property keeps per-partition candidates mergeable —
    at 100 TB this is one shuffle of k·|sources| survivors, not a
    global order)."""
    d = load_table(spark, sf_dir, "documents")
    u = (llmops.knuth_hash("doc_id") + 1) / F.lit(4294967297.0)
    key = F.round(F.log(u), 9) / F.col("n_chars")
    wsrc = Window.partitionBy("source").orderBy(key.desc(), "doc_id")
    return (
        d.select("source", "doc_id", "n_chars")
        .withColumn("rk", F.row_number().over(wsrc).cast("long"))
        .filter(F.col("rk") <= _GRES_K)
    )


# ========================================================================
# q_session_ngrams — sliding event-type trigrams within sessions
# ========================================================================

_SESSION_GAP_US = 30 * 60 * 1_000_000  # = keys_r6b.q_sessionize contract
_NGRAM_TOPK = 20


@register(
    "q_session_ngrams",
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
g AS (
  SELECT event_type,
         LEAD(event_type, 1) OVER w2 AS t2,
         LEAD(event_type, 2) OVER w2 AS t3
  FROM s WINDOW w2 AS (PARTITION BY user_id, sess ORDER BY us, event_id)
)
SELECT CONCAT_WS('>', event_type, t2, t3) AS trigram,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM g WHERE t3 IS NOT NULL
GROUP BY 1
ORDER BY n_occurrences DESC, trigram
LIMIT {_NGRAM_TOPK}
""",
)
def q_session_ngrams(spark, sf_dir):
    """Top-20 SLIDING event-type trigrams within sessions
    — sequence-mining lite, generalizing q_session_paths (which
    keeps only each session's OPENING path) to every consecutive
    3-step subsequence: the "what do users do next, anywhere in the
    visit" report, and the n-gram table a next-event model trains
    on.

    Same 30-minute-gap segmentation contract as q_sessionize /
    q_session_paths (drift between the three would be a bug).  Both
    lead() windows and the sessionization windows cluster on
    user_id, so the event stream shuffles ONCE; the trigram table is
    bounded at |event_type|³ regardless of volume and the top-k is a
    TakeOrderedAndProject under the full (count DESC, trigram)
    order.  Strings + exact counts end to end."""
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
    sw = Window.partitionBy("user_id", "sess").orderBy("us", "event_id")
    g = s.select(
        "event_type",
        F.lead("event_type", 1).over(sw).alias("t2"),
        F.lead("event_type", 2).over(sw).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        g.select(
            F.concat_ws(
                ">", F.col("event_type"), F.col("t2"), F.col("t3")
            ).alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "trigram")
        .limit(_NGRAM_TOPK)
    )


# ========================================================================
# q_lift_deciles — score-decile lift / capture table
# ========================================================================


@register(
    "q_lift_deciles",
    oracle="""
WITH resp AS (
  SELECT o_custkey FROM orders
  WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
),
c AS (
  SELECT c_custkey,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS score_cents,
         CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS responded
  FROM customer LEFT JOIN resp r ON c_custkey = r.o_custkey
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score_cents DESC, c_custkey)
    AS rk,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM c
),
nt AS (
  SELECT *, CAST((10 * rk - 1) // n + 1 AS BIGINT) AS decile FROM rk
),
d AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(responded) AS BIGINT) AS n_resp
  FROM nt GROUP BY decile
),
m AS (
  SELECT decile, n_customers, n_resp,
         CAST(SUM(n_resp) OVER () AS BIGINT) AS tot_resp,
         CAST(SUM(n_customers) OVER () AS BIGINT) AS tot_n,
         CAST(SUM(n_resp) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_resp
  FROM d
)
SELECT CAST(decile AS BIGINT) AS decile, n_customers, n_resp,
       CASE WHEN tot_resp = 0 THEN NULL ELSE
         (CAST(n_resp AS DOUBLE) / CAST(n_customers AS DOUBLE))
         / (CAST(tot_resp AS DOUBLE) / CAST(tot_n AS DOUBLE)) END
         AS lift,
       CASE WHEN tot_resp = 0 THEN NULL ELSE
         CAST(cum_resp AS DOUBLE) / CAST(tot_resp AS DOUBLE) END
         AS cum_capture
FROM m
""",
)
def q_lift_deciles(spark, sf_dir):
    """Decile LIFT table of a score against a binary response
    (score = account balance, response = placed ≥1 urgent order) —
    the campaign-calibration curve beside q_gains_table: gains ranks
    by the TARGET itself (share of revenue), lift ranks by a
    PREDICTOR and asks how concentrated the response is (decile
    response rate / overall rate, plus cumulative capture) — the
    table a targeting model is judged by (q_roc_auc's threshold-free
    verdict, made spend-decision-shaped).

    Determinism: decile derives ARITHMETICALLY from the global rank
    under the fully deterministic (score cents DESC, custkey) total
    order — decile = (10·rk − 1) div n + 1, identical integer math in
    both engines (and equal to ceil-split NTILE whenever n ≡ 0 mod
    10); exact integer counts; lift is the IDENTICAL fixed-order
    double chain (a/b)/(c/d) on hardware-exact casts; NULL when no
    one responded (§8.17).  Scale shape: response collapses to
    customer grain (semi-join shape), ONE customer-keyed join; the
    global rank runs through windows.scalable_rank (value buckets +
    broadcast prefix-count offsets — never a one-task customer-grain
    NTILE window, the §4.4 collapse this key shipped in round 9,
    VERDICT r9 #3); all margins ride the 10-row decile table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    resp = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.lit(1).alias("responded"))
    )
    base = c.join(
        resp, c["c_custkey"] == resp["o_custkey"], "left"
    ).select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0)
        .cast("long")
        .alias("score_cents"),
        F.coalesce(F.col("responded"), F.lit(0)).alias("responded"),
    )
    ranked = win.scalable_rank(
        base,
        [F.desc("score_cents"), F.col("c_custkey")],
        "score_cents",
        rank_col="rk",
        tot_col="n",
        descending=True,
    )
    nt = ranked.select(
        "responded",
        F.expr("(10 * rk - 1) div n + 1").cast("long").alias("decile"),
    )
    d = nt.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("responded").cast("long").alias("n_resp"),
    )
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    m = d.select(
        "decile",
        "n_customers",
        "n_resp",
        F.sum("n_resp").over(wall).cast("long").alias("tot_resp"),
        F.sum("n_customers").over(wall).cast("long").alias("tot_n"),
        F.sum("n_resp").over(wcum).cast("long").alias("cum_resp"),
    )
    lift = (
        F.col("n_resp").cast("double") / F.col("n_customers").cast("double")
    ) / (F.col("tot_resp").cast("double") / F.col("tot_n").cast("double"))
    return m.select(
        F.col("decile").cast("long").alias("decile"),
        "n_customers",
        "n_resp",
        F.when(F.col("tot_resp") == 0, F.lit(None).cast("double"))
        .otherwise(lift)
        .alias("lift"),
        F.when(F.col("tot_resp") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.col("cum_resp").cast("double")
            / F.col("tot_resp").cast("double")
        )
        .alias("cum_capture"),
    )


# ========================================================================
# q_simhash_band_index — maintained dedup band index (write path)
# ========================================================================

#: Portable 16-bit simhash: bit b = strict majority over the doc's
#: DISTINCT tokens of the parity of hex nibble b of md5(token).  The
#: registry's heavy-duty 64-bit signature (llmops.simhash_signatures,
#: xxhash64) is NOT DuckDB-expressible, so the INDEX key uses this
#: md5-nibble variant to stay fully oracle-backed; band structure,
#: maintenance semantics and the banding math are identical.
_SIMIDX_BITS = 16
_SIMIDX_BANDS = 4  # 4 bands x 4 bits => Hamming radius 3 candidates

@register(
    "q_simhash_band_index",
    oracle=f"""
WITH dt AS (
  SELECT DISTINCT doc_id, w FROM (
    SELECT doc_id,
           UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
    FROM documents
  )
),
bits AS (
  SELECT doc_id, COUNT(*) AS n,
         {", ".join(
             f"SUM(CASE WHEN SUBSTR(MD5(w), {b + 1}, 1) IN "
             f"('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END)"
             f" AS o{b}"
             for b in range(_SIMIDX_BITS)
         )}
  FROM dt GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         ({" + ".join(
             f"CASE WHEN 2 * o{b} > n THEN {1 << b} ELSE 0 END"
             for b in range(_SIMIDX_BITS)
         )}) AS sig16
  FROM bits
)
SELECT doc_id, CAST(band.band AS BIGINT) AS band,
       CAST((sig16 // ([1, 16, 256, 4096])[band.band + 1]) % 16
            AS BIGINT) AS band_key,
       CAST(sig16 AS BIGINT) AS sig16
FROM sig
CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {_SIMIDX_BANDS - 1}))
            AS band) band
""",
)
def q_simhash_band_index(spark, sf_dir):
    """The MAINTAINED dedup index — dedup as a TABLE, not a query:
    per document, a 16-bit portable simhash and its 4
    band keys, emitted as the (doc_id, band, band_key, sig16) rows a
    streaming ingest upserts so near-dup candidates of a NEW batch
    are found by equi-joining band keys against the standing index
    (radius-3 banding: two docs within Hamming 3 of each other agree
    on ≥1 of 4 bands — q_dedup_simhash's pigeonhole, persisted).
    q_dedup_simhash answers "which pairs exist today"; this key
    writes the structure that answers it INCREMENTALLY tomorrow.

    Hash portability: bit b = strict majority (2·ones > n, the
    llmops.simhash_signatures vote) of md5-hex nibble-b parity over
    the doc's DISTINCT tokens — MD5 is byte-identical cross-engine
    (the q_countmin_sketch contract); parity is a pure string
    membership test, no integer parsing of hex anywhere.  Scale
    shape: ONE token-stream aggregate to doc grain (16 conditional
    sums — partial-aggregable, no collect_list), then a 4-row
    broadcast band grid; integers end to end."""
    d = load_table(spark, sf_dir, "documents")
    return llmops.simhash16_band_rows(d)


# ========================================================================
# q_conformal_interval — split-conformal prediction interval + coverage
# ========================================================================

#: Conformal miscoverage level: 1 - alpha = 90% target coverage.
_CONF_PERMILLE = 900


@register(
    "q_conformal_interval",
    oracle=f"""
WITH t AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y,
         l_orderkey % 2 AS half
  FROM lineitem
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(x AS DECIMAL(24,4)) * CAST(x AS DECIMAL(24,4))
              AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(x AS DECIMAL(24,4)) * CAST(y AS DECIMAL(24,4))
              AS DECIMAL(38,8))) AS DOUBLE) AS sxy
  FROM t WHERE half = 0
),
fit AS (
  SELECT n AS n_cal,
         ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
         ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
               / n, 6) AS intercept
  FROM s
),
cal AS (
  SELECT ROUND(ABS(t.y - (fit.intercept + fit.slope * t.x)), 6) AS r6
  FROM t CROSS JOIN fit WHERE t.half = 0
),
vg AS (
  SELECT r6, COUNT(*) AS cnt FROM cal GROUP BY r6
),
cum AS (
  SELECT r6,
         SUM(cnt) OVER (ORDER BY r6
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM vg
),
qh AS (
  SELECT MIN(r6) AS qhat
  FROM cum CROSS JOIN fit
  WHERE 1000 * cum >= {_CONF_PERMILLE} * (fit.n_cal + 1)
),
test AS (
  SELECT COUNT(*) AS n_test,
         SUM(CASE WHEN
               ROUND(ABS(t.y - (fit.intercept + fit.slope * t.x)), 6)
                 <= qh.qhat THEN 1 ELSE 0 END) AS n_covered
  FROM t CROSS JOIN fit CROSS JOIN qh WHERE t.half = 1
)
SELECT CAST(fit.n_cal AS BIGINT) AS n_cal,
       CAST(test.n_test AS BIGINT) AS n_test,
       fit.slope, fit.intercept, qh.qhat,
       CAST(test.n_covered AS BIGINT) AS n_covered,
       CAST(test.n_covered AS DOUBLE) / CAST(test.n_test AS DOUBLE)
         AS coverage
FROM fit CROSS JOIN qh CROSS JOIN test
""",
)
def q_conformal_interval(spark, sf_dir):
    """Split-conformal 90% prediction interval (Vovk/Papadopoulos
    classic, the distribution-free uncertainty wrapper every deployed
    regressor needs): fit OLS price~quantity on the CALIBRATION half
    (even orderkeys — the deterministic split), take the
    ceil(0.9·(n+1))-th smallest absolute residual as the interval
    half-width q̂, then report EMPIRICAL coverage on the held-out
    half — the finite-sample guarantee (coverage ≥ 0.9 in
    expectation) made checkable as a census row.

    Determinism: the OLS is q_linear_regression's exact-decimal
    sufficient-stat spelling verbatim (slope round(9), intercept
    round(6)); residuals are ONE identical fixed-order IEEE chain on
    hardware-exact casts, rounded to 6 dp BEFORE any ranking (§8.16
    — never rank a raw double); the conformal rank uses the §8.19
    integer cross-multiply 1000·cum ≥ 900·(n+1) (no ceil, no float
    quantile); coverage compares identical round(6) doubles.

    100 TB shape: three pruned 4-column fact scans, each executed
    ONCE (calibration stats / calibration residuals / test census —
    persisting the fact would be worse; the 1-row fit and q̂ frames
    are eager-localCheckpointed so no crossJoin branch re-executes
    a scan, plan-gated to one scan in the returned plan); the
    residual prefix sum runs at ROUND(6)-residual VALUE grain
    through windows.scalable_cumsum (small_threshold keeps the
    one-task window at fixture/bench scales; the two-phase bucket
    form takes over beyond 2M distinct residuals — the q_roc_auc
    convention, needed here because residual values grow with
    volume); q̂ broadcasts as one row onto the test-half census."""
    li = load_table(spark, sf_dir, "lineitem")
    t = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
        (F.col("l_orderkey") % 2).alias("half"),
    )

    def d18(c):
        return F.col(c).cast("decimal(18,4)")

    s = (
        t.filter(F.col("half") == 0)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d18("x")).cast("double").alias("sx"),
            F.sum(d18("y")).cast("double").alias("sy"),
            F.sum((d18("x") * d18("x")).cast("decimal(38,8)"))
            .cast("double")
            .alias("sxx"),
            F.sum((d18("x") * d18("y")).cast("decimal(38,8)"))
            .cast("double")
            .alias("sxy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    # 1-row coefficient frame: eager localCheckpoint (the
    # q_huber_regression discipline) so the three consumers below
    # (calibration residuals, test census, final select) reuse ONE
    # materialized row instead of re-executing the stats scan per
    # crossJoin branch
    fit = s.select(
        F.col("n").alias("n_cal"),
        F.round(slope, 9).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    ).localCheckpoint(eager=True)
    r6 = F.round(
        F.abs(
            F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x"))
        ),
        6,
    )
    cal = (
        t.filter(F.col("half") == 0)
        .crossJoin(F.broadcast(fit))
        .select(r6.alias("r6"), "n_cal")
    )
    vg = cal.groupBy("r6", "n_cal").agg(F.count(F.lit(1)).alias("cnt"))
    cum = win.scalable_cumsum(
        vg, "r6", {"cum": "cnt"}, small_threshold=win.SMALL_THRESHOLD_DEFAULT
    )
    qh = (
        cum.filter(
            1000 * F.col("cum") >= _CONF_PERMILLE * (F.col("n_cal") + 1)
        )
        .agg(F.min("r6").alias("qhat"))
        .localCheckpoint(eager=True)
    )
    test = (
        t.filter(F.col("half") == 1)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(qh))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(r6 <= F.col("qhat"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        fit.crossJoin(F.broadcast(qh))
        .crossJoin(F.broadcast(test))
        .select(
            F.col("n_cal").cast("long").alias("n_cal"),
            "n_test",
            "slope",
            "intercept",
            "qhat",
            "n_covered",
            (
                F.col("n_covered").cast("double")
                / F.col("n_test").cast("double")
            ).alias("coverage"),
        )
    )


# ========================================================================
# q_energy_distance — exact two-sample energy distance at value grain
# ========================================================================


@register(
    "q_energy_distance",
    oracle="""
WITH t AS (
  SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g
  FROM orders
),
vx AS (SELECT cents, COUNT(*) AS nx FROM t WHERE g = 1 GROUP BY cents),
vy AS (SELECT cents, COUNT(*) AS ny FROM t WHERE g = 0 GROUP BY cents),
sp AS (
  SELECT COALESCE(vx.cents, vy.cents) AS v,
         COALESCE(vx.nx, 0) AS nxv,
         COALESCE(vy.ny, 0) AS nyv
  FROM vx FULL OUTER JOIN vy ON vx.cents = vy.cents
),
c AS (
  SELECT v, nxv, nyv,
         SUM(nxv) OVER w - nxv AS fx,
         SUM(nxv * v) OVER w - nxv * v AS gx,
         SUM(nyv) OVER w - nyv AS fy,
         SUM(nyv * v) OVER w - nyv * v AS gy,
         SUM(nxv) OVER () AS nx,
         SUM(nxv * v) OVER () AS sx,
         SUM(nyv) OVER () AS ny,
         SUM(nyv * v) OVER () AS sy
  FROM sp WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
terms AS (
  SELECT nx, ny,
         nxv * ((v * (2 * fy) - 2 * gy) + (sy - v * ny)) AS txy,
         nxv * ((v * (2 * fx) - 2 * gx) + (sx - v * nx)) AS txx,
         nyv * ((v * (2 * fy) - 2 * gy) + (sy - v * ny)) AS tyy
  FROM c
),
agg AS (
  SELECT MAX(nx) AS n_x, MAX(ny) AS n_y,
         CAST(SUM(txy // 2097152) AS BIGINT) AS sxy_hi,
         CAST(SUM(txy % 2097152) AS BIGINT) AS sxy_lo,
         CAST(SUM(txx // 2097152) AS BIGINT) AS sxx_hi,
         CAST(SUM(txx % 2097152) AS BIGINT) AS sxx_lo,
         CAST(SUM(tyy // 2097152) AS BIGINT) AS syy_hi,
         CAST(SUM(tyy % 2097152) AS BIGINT) AS syy_lo
  FROM terms
)
SELECT CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
       CASE WHEN n_x = 0 OR n_y = 0 THEN NULL ELSE
         2.0 * (CAST(sxy_hi AS DOUBLE) * 2097152.0
                + CAST(sxy_lo AS DOUBLE))
             / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))
         - (CAST(sxx_hi AS DOUBLE) * 2097152.0 + CAST(sxx_lo AS DOUBLE))
             / (CAST(n_x AS DOUBLE) * CAST(n_x AS DOUBLE))
         - (CAST(syy_hi AS DOUBLE) * 2097152.0 + CAST(syy_lo AS DOUBLE))
             / (CAST(n_y AS DOUBLE) * CAST(n_y AS DOUBLE)) END
         AS energy_cents
FROM agg
""",
)
def q_energy_distance(spark, sf_dir):
    """Exact two-sample ENERGY DISTANCE (Székely–Rizzo V-statistic,
    in cents units) between urgent and non-urgent order prices:
    E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| — the drift statistic that sees
    what KS/PSI cannot (magnitude of separation in VALUE units, all
    moments, no binning), computed EXACTLY from value-grain prefix
    sums, never the O(n²) pair set.

    The pairwise identity: Σᵢⱼ|aᵢ−bⱼ| over sorted value grain =
    Σ_v n_a(v)·[2·v·F_b(v⁻) − 2·G_b(v⁻) + (S_b − v·N_b)]
    with F/G = exclusive prefix count/sum — equal values contribute
    |v−v| = 0, so NO tie term appears (the planted two-point test
    pins this; an erroneous +n_b(v) tie term survives the DuckDB
    parity gate because both engines would share it).
    Determinism/overflow (§8.21): per-row terms are exact int64
    (≤ nxv·1.6e15 — the 2²¹ SPLIT below is what makes the SUM safe);
    each term splits as hi = t div 2²¹ / lo = t mod 2²¹, so
    Σlo ≤ N·2²¹ ≈ 1.7e13 and Σhi ≤ Σ|pairs|/2²¹ ≈ 1.4e15 at 8M rows
    × 5e7-cent range — both inside int64; reconstruction
    hi·2²¹ + lo runs in doubles with the SHARED spelling (identical
    rounded adds both engines); THREE final divisions, unrounded,
    NULL on an empty side (§8.17).

    100 TB shape: one orders scan to (cents, group) value grain; all
    four prefix sums and all four global totals ride ONE
    windows.scalable_cumsum pass (as in q_roc_auc: distinct price
    cents grow ~linearly with volume, so the value grain is NOT
    domain-bounded; small_threshold keeps the plain one-task window —
    and the single-scan join-free plan gate — below 2 M distinct
    values, the shared-bucketing two-phase form above); the census is
    a scalar reduce."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("g"),
    )
    sp = t.groupBy("cents").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("nxv"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("nyv"),
    )
    spv = sp.select(
        "cents",
        "nxv",
        "nyv",
        (F.col("nxv") * F.col("cents")).alias("nxvv"),
        (F.col("nyv") * F.col("cents")).alias("nyvv"),
    )
    cum = win.scalable_cumsum(
        spv,
        "cents",
        sums={"cfx": "nxv", "cgx": "nxvv", "cfy": "nyv", "cgy": "nyvv"},
        tots={"nx": "nxv", "sx": "nxvv", "ny": "nyv", "sy": "nyvv"},
        small_threshold=win.SMALL_THRESHOLD_DEFAULT,
    )
    c = cum.select(
        F.col("cents").alias("v"),
        "nxv",
        "nyv",
        (F.col("cfx") - F.col("nxv")).alias("fx"),
        (F.col("cgx") - F.col("nxvv")).alias("gx"),
        (F.col("cfy") - F.col("nyv")).alias("fy"),
        (F.col("cgy") - F.col("nyvv")).alias("gy"),
        "nx",
        "sx",
        "ny",
        "sy",
    )
    vv = F.col("v")
    txy = F.col("nxv") * (
        (vv * (2 * F.col("fy")) - 2 * F.col("gy"))
        + (F.col("sy") - vv * F.col("ny"))
    )
    txx = F.col("nxv") * (
        (vv * (2 * F.col("fx")) - 2 * F.col("gx"))
        + (F.col("sx") - vv * F.col("nx"))
    )
    tyy = F.col("nyv") * (
        (vv * (2 * F.col("fy")) - 2 * F.col("gy"))
        + (F.col("sy") - vv * F.col("ny"))
    )
    terms = c.select(
        "nx",
        "ny",
        txy.alias("txy"),
        txx.alias("txx"),
        tyy.alias("tyy"),
    )
    # hi/lo split via integer div/% (terms are sums of |v−y| ≥ 0, so
    # the §8.7 non-negative truncation pairing holds); a double-side
    # `/` here would round past 2^53 — the split exists precisely
    # because these sums don't fit hardware-exact doubles
    agg_row = terms.agg(
        F.max("nx").cast("long").alias("n_x"),
        F.max("ny").cast("long").alias("n_y"),
        F.sum(F.expr("txy div 2097152")).cast("long").alias("sxy_hi"),
        F.sum(F.expr("txy % 2097152")).cast("long").alias("sxy_lo"),
        F.sum(F.expr("txx div 2097152")).cast("long").alias("sxx_hi"),
        F.sum(F.expr("txx % 2097152")).cast("long").alias("sxx_lo"),
        F.sum(F.expr("tyy div 2097152")).cast("long").alias("syy_hi"),
        F.sum(F.expr("tyy % 2097152")).cast("long").alias("syy_lo"),
    )
    rec = lambda hi, lo: (  # noqa: E731
        F.col(hi).cast("double") * F.lit(2097152.0)
        + F.col(lo).cast("double")
    )
    energy = (
        F.lit(2.0)
        * rec("sxy_hi", "sxy_lo")
        / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
        - rec("sxx_hi", "sxx_lo")
        / (F.col("n_x").cast("double") * F.col("n_x").cast("double"))
        - rec("syy_hi", "syy_lo")
        / (F.col("n_y").cast("double") * F.col("n_y").cast("double"))
    )
    return agg_row.select(
        "n_x",
        "n_y",
        F.when((F.col("n_x") == 0) | (F.col("n_y") == 0), F.lit(None))
        .otherwise(energy)
        .cast("double")
        .alias("energy_cents"),
    )


# ========================================================================
# q_quantile_sketch — rank-stratified mergeable quantile summary
# ========================================================================

#: Summary capacity: step = smallest power of two with n ≤ cap·step,
#: so the summary holds ≤ cap rows and every quantile estimate is
#: within step ≤ n/cap ranks of exact (a 1/512 uniform rank
#: guarantee).
_QSK_CAP = 512
_QSK_PERMILLES = (10, 50, 250, 500, 750, 950, 990)


@register(
    "q_quantile_sketch",
    oracle=f"""
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         l_orderkey, l_linenumber
  FROM lineitem
),
r AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, l_orderkey, l_linenumber)
           AS rk,
         COUNT(*) OVER () AS n
  FROM v
),
nn AS (SELECT MAX(n) AS n FROM r),
st AS (
  SELECT MIN(CAST(POWER(2, g.k) AS BIGINT)) AS step
  FROM (SELECT UNNEST(GENERATE_SERIES(0, 40)) AS k) g, nn
  WHERE {_QSK_CAP} * CAST(POWER(2, g.k) AS BIGINT) >= nn.n
),
p AS (SELECT UNNEST([{", ".join(str(p) for p in _QSK_PERMILLES)}])
      AS permille),
pr AS (
  SELECT CAST(p.permille AS BIGINT) AS permille,
         (p.permille * nn.n + 999) // 1000 AS tr,
         LEAST(
           ((((p.permille * nn.n + 999) // 1000) + st.step - 1)
             // st.step) * st.step,
           (nn.n // st.step) * st.step) AS er,
         st.step
  FROM p, nn, st
),
ex AS (SELECT pr.permille, r.cents AS exact_cents
       FROM pr JOIN r ON r.rk = pr.tr),
es AS (SELECT pr.permille, r.cents AS est_cents
       FROM pr JOIN r ON r.rk = pr.er)
SELECT pr.permille, CAST(pr.tr AS BIGINT) AS target_rank,
       CAST(pr.er AS BIGINT) AS est_rank,
       es.est_cents, ex.exact_cents,
       CAST(pr.er - pr.tr AS BIGINT) AS rank_gap,
       CAST(pr.step AS BIGINT) AS step
FROM pr JOIN ex USING (permille) JOIN es USING (permille)
""",
)
def q_quantile_sketch(spark, sf_dir):
    """Rank-stratified mergeable quantile SUMMARY (the KLL-family
    single-level compactor, deterministic): keep every step-th value
    of the global (cents, orderkey, linenumber) order where step =
    the smallest power of two with n ≤ 512·step — a ≤512-row summary
    whose every quantile answer is within step ≤ n/512 ranks of
    exact, CERTIFIED in the same query by joining the estimate
    against the true order statistic (the q_tdigest_quantiles
    discipline: the sketch is graded, never trusted).  Two summaries
    MERGE by re-stratifying their union at the doubled step — the
    power-of-two ladder is what makes the structure associative
    (KLL's compaction, with the deterministic keep-every-other rule
    instead of the coin flip, which no two engines would ever agree
    on).

    Determinism: INTEGERS END TO END — the global rank is total
    (full tie-break), step selection is an integer comparison over a
    broadcast power grid (no log2), target rank is the §8.19
    cross-multiply ceil (p·n+999) div 1000, estimate rank rounds up
    to the summary grid and clamps to its top (both pure div/`//`
    on non-negatives, §8.7).

    100 TB shape: the global rank runs through
    windows.scalable_rank (value buckets + broadcast prefix offsets
    — never a one-task sort); the summary filter and both
    order-statistic probes are broadcast-grid equality joins riding
    the same ranked stream (the q_quantile_normalize pattern); no
    driver-side scalar sync — n and step stay in 1-row broadcast
    frames."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    # NOT persisted (round-14 measurement, VERDICT r13 task 5): the
    # ranked stream feeds three consumers and the rank window above the
    # AQE-reused _pid exchange does re-execute per consumer stage, but
    # a tracked persist of the (cents, rk) projection measured FLAT
    # (min-of-6 A/B at sf0.1: 2.66/3.18 persisted vs 2.70/3.06 plain,
    # the persisted side on the better host window) — the key's floor
    # is stage-count overhead, not window recompute.  And at 100 TB
    # the ranked stream is data-grain: MEMORY_AND_DISK-caching it is
    # the exact oversized-cache hazard the probe path releases
    # (_probe_release_if_large), so the cache is wrong at scale too.
    ranked = win.scalable_rank(
        v,
        [F.col("cents"), F.col("l_orderkey"), F.col("l_linenumber")],
        "cents",
        rank_col="rk",
    ).select("cents", "rk")
    # n comes from a plain column-pruned count aggregate — deriving it
    # from the ranked stream (tot_col) would re-execute the whole
    # two-phase rank machinery just to read one scalar
    nn = v.agg(F.count(F.lit(1)).alias("n"))
    grid = spark.range(0, 41).select(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").alias(
            "pw"
        )
    )
    st = (
        grid.crossJoin(F.broadcast(nn))
        .filter(F.lit(_QSK_CAP) * F.col("pw") >= F.col("n"))
        .agg(F.min("pw").alias("step"))
    )
    perm = spark.createDataFrame(
        [(int(p),) for p in _QSK_PERMILLES], "permille long"
    )
    pr = (
        perm.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(st))
        .select(
            "permille",
            F.expr("(permille * n + 999) div 1000").alias("tr"),
            "step",
            "n",
        )
        .withColumn(
            "er",
            F.least(
                F.expr("((tr + step - 1) div step) * step"),
                F.expr("(n div step) * step"),
            ),
        )
    )
    exact = ranked.join(
        F.broadcast(pr.select("permille", "tr")),
        ranked["rk"] == F.col("tr"),
    ).select("permille", F.col("cents").alias("exact_cents"))
    # the summary is the maintained artifact: ranks ≡ 0 (mod step)
    summary = (
        ranked.crossJoin(F.broadcast(st))
        .filter(F.col("rk") % F.col("step") == 0)
        .select("cents", "rk")
    )
    est = summary.join(
        F.broadcast(pr.select("permille", "er")),
        summary["rk"] == F.col("er"),
    ).select("permille", F.col("cents").alias("est_cents"))
    # exact/est are ≤|permille| rows each but derive from the big
    # ranked stream — hint them broadcast so the closing joins never
    # print as SMJ even before AQE replans
    return (
        pr.join(F.broadcast(exact), "permille")
        .join(F.broadcast(est), "permille")
        .select(
            "permille",
            F.col("tr").cast("long").alias("target_rank"),
            F.col("er").cast("long").alias("est_rank"),
            "est_cents",
            "exact_cents",
            (F.col("er") - F.col("tr")).cast("long").alias("rank_gap"),
            F.col("step").cast("long").alias("step"),
        )
    )


# ========================================================================
# q_bipartite_projection — capped co-occurrence projection
# ========================================================================

#: Per-order basket cap applied BEFORE the pair self-join (the
#: q_assoc_rules ASSOC_MAX_BASKET discipline, generalized off rules):
#: an order with B distinct parts fans C(B,2) pairs — rank by partkey
#: and keep the first 8, so a mega-basket cannot go quadratic.
_BIPROJ_MAX_BASKET = 8
_BIPROJ_TOPK = 50


@register(
    "q_bipartite_projection",
    oracle=f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
b AS (
  SELECT l_orderkey, l_partkey,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_partkey) AS rn
  FROM d
),
k AS (SELECT * FROM b WHERE rn <= {_BIPROJ_MAX_BASKET}),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM k a JOIN k b
    ON a.l_orderkey = b.l_orderkey AND a.rn < b.rn
),
w AS (SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS weight
      FROM pairs GROUP BY p1, p2)
SELECT p1, p2, weight
FROM w ORDER BY weight DESC, p1, p2
LIMIT {_BIPROJ_TOPK}
""",
)
def q_bipartite_projection(spark, sf_dir):
    """Bipartite co-occurrence PROJECTION: project the
    (order, part) incidence graph onto parts — edge weight = number
    of orders containing both — and keep the top-50 heaviest edges.
    The q_assoc_rules machinery generalized off baskets-and-
    thresholds into the raw co-purchase GRAPH (the input to
    item-item recommenders, substitute detection, and the
    co-occurrence embeddings word2vec-style trainers consume).

    100 TB shape: the quadratic lever is the per-order basket cap
    (rank ≤ 8 by partkey BEFORE the self-join — C(B,2) dies at the
    cap; one mega-order cannot fan n² pairs), the pair generator is
    an equi-join on orderkey (never a cross product), and the final
    top-k is a TakeOrderedAndProject under the full
    (weight DESC, p1, p2) order.  Exact integer counts end to end;
    ties fully broken."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_orderkey", "l_partkey").distinct()
    wb = Window.partitionBy("l_orderkey").orderBy("l_partkey")
    k = d.withColumn("rn", F.row_number().over(wb)).filter(
        F.col("rn") <= _BIPROJ_MAX_BASKET
    )
    a, b = k.alias("a"), k.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.rn") < F.col("b.rn")),
    ).select(
        F.col("a.l_partkey").alias("p1"),
        F.col("b.l_partkey").alias("p2"),
    )
    return (
        pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .orderBy(F.col("weight").desc(), "p1", "p2")
        .limit(_BIPROJ_TOPK)
    )


# ========================================================================
# q_knn_graph — label-blocked k-NN graph construction census
# ========================================================================

_KNNG_K = 3


@register(
    "q_knn_graph",
    oracle=f"""
WITH s AS (SELECT vec_id, label, embedding FROM embeddings),
pairs AS (
  SELECT a.label, a.vec_id AS src, b.vec_id AS dst,
         ROUND(
           LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
             i -> CAST(a.embedding[i] AS DOUBLE)
                  * CAST(b.embedding[i] AS DOUBLE)))
           / (SQRT(LIST_SUM(LIST_TRANSFORM(a.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * SQRT(LIST_SUM(LIST_TRANSFORM(b.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         6) AS cosine
  FROM s a JOIN s b ON a.label = b.label AND a.vec_id <> b.vec_id
),
e AS (
  SELECT label, src, dst, cosine,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY cosine DESC, dst) AS rn
  FROM pairs
),
edges AS (SELECT * FROM e WHERE rn <= {_KNNG_K}),
mut AS (
  SELECT e1.label, e1.src, e1.dst
  FROM edges e1 JOIN edges e2
    ON e1.src = e2.dst AND e1.dst = e2.src
),
nodes AS (SELECT label, COUNT(*) AS n_nodes FROM s GROUP BY label),
ec AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CAST(ROUND(cosine * 1000000, 0) AS BIGINT))
              AS BIGINT) AS sum_cos_micro
  FROM edges GROUP BY label
),
mc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_mutual
       FROM mut GROUP BY label)
SELECT CAST(nodes.label AS BIGINT) AS label,
       CAST(nodes.n_nodes AS BIGINT) AS n_nodes,
       COALESCE(ec.n_edges, 0) AS n_edges,
       COALESCE(mc.n_mutual, 0) AS n_mutual,
       COALESCE(ec.sum_cos_micro, 0) AS sum_cos_micro
FROM nodes
LEFT JOIN ec ON nodes.label = ec.label
LEFT JOIN mc ON nodes.label = mc.label
""",
)
def q_knn_graph(spark, sf_dir):
    """k-NN GRAPH construction (k=3, cosine, label-blocked) with a
    census output — eager wrapper over knn_graph_lazy (below): the
    bounded label-grain result checkpoints while the edge cache is
    alive, then the cache is released (q_token_chi2 discipline).
    Full semantics documented on knn_graph_lazy."""
    out, invariants = knn_graph_lazy(spark, sf_dir)
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for inv in invariants:
            inv.unpersist()


def knn_graph_lazy(spark, sf_dir):
    """k-NN GRAPH construction (k=3, cosine, label-blocked) with a
    per-label census: directed edge count, MUTUAL (reciprocated)
    edge count, and the exact micro-quantized cosine mass — the
    ANN-index build step (an HNSW layer-0 / NN-Descent ground truth)
    that closes the similarity stack's WRITE side the way
    q_simhash_band_index closes dedup's: q_knn_classify READS
    neighborhoods, this MATERIALIZES them.  Mutuality is the
    standard graph-quality signal (mutual k-NN graphs are what
    clustering/UMAP actually consume).

    100 TB shape: candidate pairs exist only within label blocks (an
    equi-join — the cosine_pairs_blocked discipline; at scale the
    block key is an IVF cell assignment), WindowGroupLimit prunes to
    k per source BEFORE the mutuality self-join (which then runs on
    ≤ k·n edges, never n²), and the census is a bounded label-grain
    aggregate.  Determinism: q_sim_topk's round(6)-cosine/dst rank
    convention; the cosine mass sums ROUND(cos·1e6) int64 (identical
    doubles → identical integers — never a float sum, whose order
    would differ across engines).

    Returns (output DataFrame, [persisted invariants]) — the lazy
    entry exists so plan gates can inspect the EXECUTED shape before
    the eager wrapper's checkpoint hides it (the
    open_order_backlog_lazy convention)."""
    e = load_table(spark, sf_dir, "embeddings")
    s = e.select("vec_id", "label")
    # round 14 (guide §4.2): the pruned edge table comes from ONE
    # grouped-Arrow kernel per label block (llmops.knn_topk_edges_gemm)
    # instead of the n²-pair equi-join + per-pair aggregate(zip_with())
    # fold (CodegenFallback — the measured cost center) + rank-window
    # exchange.  Bit-identical output pinned by
    # test_knn_edges_gemm_equals_catalyst (sequential fold order, exact
    # Spark rounding, same (cosine DESC, dst) rank inside the kernel).
    # The ≤ k·n edge table still feeds THREE consumers (both sides of
    # the mutuality self-join + the census) and the kernel's subtree is
    # python-terminated (no exchange for AQE stage reuse to dedup) —
    # persist it so the kernel executes once (the q_token_chi2
    # persist-then-checkpoint discipline; the bounded label-grain
    # output materializes eagerly while the cache is alive)
    edges = llmops.knn_topk_edges_gemm(e, k=_KNNG_K).persist()
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    mut = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.dst"))
        & (F.col("e1.dst") == F.col("e2.src")),
    ).select(F.col("e1.label").alias("label"))
    nodes = s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    ec = edges.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.round(F.col("cosine") * 1000000, 0).cast("long"))
        .cast("long")
        .alias("sum_cos_micro"),
    )
    mc = mut.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_mutual")
    )
    out = (
        nodes.join(ec, "label", "left")
        .join(mc, "label", "left")
        .select(
            F.col("label").cast("long").alias("label"),
            "n_nodes",
            F.coalesce(F.col("n_edges"), F.lit(0)).alias("n_edges"),
            F.coalesce(F.col("n_mutual"), F.lit(0)).alias("n_mutual"),
            F.coalesce(F.col("sum_cos_micro"), F.lit(0)).alias(
                "sum_cos_micro"
            ),
        )
    )
    return out, [edges]


# ========================================================================
# q_rrf_fusion — reciprocal-rank fusion of two retrieval rankings
# ========================================================================

#: Standard RRF damping constant (Cormack et al. 2009).
_RRF_K = 60
_RRF_TOPK = 20


@register(
    "q_rrf_fusion",
    oracle=f"""
WITH lex AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS r_lex
  FROM documents
),
sem AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY ((doc_id % 2654435761) * 2654435761) % 4294967296,
                    doc_id
         ) AS r_sem
  FROM documents
),
f AS (
  SELECT lex.doc_id,
         CAST(lex.r_lex AS BIGINT) AS rank_lex,
         CAST(sem.r_sem AS BIGINT) AS rank_sem,
         CAST(1000000000000 // ({_RRF_K} + lex.r_lex)
              + 1000000000000 // ({_RRF_K} + sem.r_sem) AS BIGINT)
           AS rrf_micro
  FROM lex JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rank_lex, rank_sem, rrf_micro
FROM f ORDER BY rrf_micro DESC, doc_id
LIMIT {_RRF_TOPK}
""",
)
def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (RRF, k=60 — Cormack et al. 2009) of
    two retrieval rankings — THE hybrid-search combiner: a lexical
    ranking (n_chars DESC as the deterministic BM25-score proxy) and
    a semantic ranking (Knuth hash order as the deterministic
    vector-score proxy) fuse by Σ 1/(60+rankᵢ), top-20.  The operator
    a retrieval pipeline runs between q_bm25 and q_sim_topk — fusing
    RANKS needs no score calibration, which is why RRF beats score
    averaging in practice.

    Determinism: the textbook float 1/(60+r) is replaced by the
    documented SC choice 10¹² div (60+r) — EXACT INTEGER reciprocal
    micro-units (the q_record_linkage micro-nat discipline), so
    fusion scores, their order, and all ties (broken by doc_id) are
    pure int64 — no float enters the key at all.

    100 TB shape: BOTH global rankings run through
    windows.scalable_rank (n_chars- and hash-bucketed two-phase
    ranks — a raw corpus-grain Window.orderBy is the §4.4 collapse;
    plan-gated to _pid-partitioned windows only), a doc_id equi-join
    aligns them, and the top-k is a TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    lex = win.scalable_rank(
        d.select("doc_id", "n_chars"),
        [F.col("n_chars").desc(), F.col("doc_id")],
        "n_chars",
        rank_col="r_lex",
        descending=True,
    ).select("doc_id", "r_lex")
    sem_in = d.select(
        "doc_id", llmops.knuth_hash("doc_id").alias("h")
    )
    sem = win.scalable_rank(
        sem_in,
        [F.col("h"), F.col("doc_id")],
        "h",
        rank_col="r_sem",
    ).select("doc_id", "r_sem")
    f = lex.join(sem, "doc_id").select(
        "doc_id",
        F.col("r_lex").cast("long").alias("rank_lex"),
        F.col("r_sem").cast("long").alias("rank_sem"),
        (
            F.expr(f"CAST(1000000000000 AS BIGINT) div ({_RRF_K} + r_lex)")
            + F.expr(
                f"CAST(1000000000000 AS BIGINT) div ({_RRF_K} + r_sem)"
            )
        )
        .cast("long")
        .alias("rrf_micro"),
    )
    return f.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(_RRF_TOPK)


# ========================================================================
# q_mixture_allocation — capped proportional token-budget allocation
# ========================================================================

#: Budget = this permille of the total available characters.
_MIX_BUDGET_PERMILLE = 500
#: Per-source cap = this permille of the source's own characters (a
#: repetition/epoch cap: never take more than 80% of any one source).
_MIX_CAP_PERMILLE = 800


@register(
    "q_mixture_allocation",
    oracle=f"""
WITH s AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS nd,
         CAST(SUM(n_chars) AS BIGINT) AS avail
  FROM documents GROUP BY source
),
t AS (
  SELECT source, nd, avail,
         CAST((nd * 10000) // SUM(nd) OVER () AS BIGINT) AS w,
         (avail * {_MIX_CAP_PERMILLE}) // 1000 AS cap,
         (SUM(avail) OVER () * {_MIX_BUDGET_PERMILLE}) // 1000 AS budget
  FROM s
),
t2 AS (SELECT *, SUM(w) OVER () AS wtot FROM t),
p1 AS (
  SELECT *, LEAST(cap, (budget * w) // wtot) AS a1,
         CASE WHEN (budget * w) // wtot >= cap THEN 1 ELSE 0 END
           AS capped
  FROM t2
),
p2 AS (
  SELECT *,
         budget - SUM(a1) OVER () AS l1,
         SUM(CASE WHEN capped = 0 THEN w END) OVER () AS w2
  FROM p1
),
fin AS (
  SELECT source, w, cap, a1, capped, l1,
         CASE WHEN capped = 0 AND w2 > 0
              THEN LEAST(cap - a1, (l1 * w) // w2)
              ELSE 0 END AS g
  FROM p2
)
SELECT source, w AS weight_bp, cap AS cap_chars,
       CAST(a1 + g AS BIGINT) AS alloc_chars,
       CAST(ROUND(CAST(a1 + g AS DOUBLE) / CAST(cap AS DOUBLE), 6)
            AS DOUBLE) AS fill_rate
FROM fin
""",
)
def q_mixture_allocation(spark, sf_dir):
    """Training-mixture ALLOCATION: split a token budget (50% of
    total corpus characters) across sources proportionally to weight
    (doc count) under a per-source repetition cap (80% of the
    source's own characters) — the data-mixing step between the
    curation scores and the actual sampling run (q_group_reservoir
    then draws within each source's allocation).  Two deterministic
    passes: capped floor-proportional, then ONE redistribution of
    the leftover among uncapped sources (documented contract — the
    remainder after pass 2 stays unallocated rather than looping;
    a report, not an optimizer).

    Determinism/overflow: INTEGERS END TO END — weights are doc
    SHARES IN BASIS POINTS (w = 10⁴·n_i div N, so budget·w ≤ 10⁴ ×
    the char budget stays int64 for ANY corpus shape — a raw
    doc-count weight wraps at one 10¹⁰-doc source, the §8.21 class),
    every share is a budget·w div W floor division (§8.7
    non-negative pairing); fill_rate is one round(6) division for
    display.  Note sources under 1/10⁴ of the corpus round to weight
    0 and draw only cap-bounded leftovers — the documented
    quantization contract.  Scale shape: everything
    after the ONE corpus scan rides the bounded |sources|-row table
    through margin windows (the q_hhi_concentration one-chain
    discipline)."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("n_chars").cast("long").alias("avail"),
    )
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = s.select(
        "source",
        "avail",
        # weight = doc share in BASIS POINTS, not the raw doc count:
        # budget·w must stay int64 and a raw per-source doc count is
        # unbounded (one 10¹⁰-doc source × a 5·10¹³-char budget wraps
        # — the q_gini/§8.21 class); w ≤ 10⁴ caps the product at
        # budget·10⁴ for ANY corpus shape
        F.expr("(nd * 10000) div (sum(nd) over ())").alias("w"),
        F.expr(f"(avail * {_MIX_CAP_PERMILLE}) div 1000").alias("cap"),
        F.expr(
            f"(sum(avail) over ()) * {_MIX_BUDGET_PERMILLE} div 1000"
        ).alias("budget"),
    ).withColumn("wtot", F.sum("w").over(wall))
    p1 = t.select(
        "*",
        F.least(F.col("cap"), F.expr("(budget * w) div wtot")).alias("a1"),
        F.when(
            F.expr("(budget * w) div wtot") >= F.col("cap"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("capped"),
    )
    p2 = p1.select(
        "*",
        (F.col("budget") - F.sum("a1").over(wall)).alias("l1"),
        F.sum(F.when(F.col("capped") == 0, F.col("w")))
        .over(wall)
        .alias("w2"),
    )
    fin = p2.select(
        "source",
        "w",
        "cap",
        "a1",
        F.when(
            (F.col("capped") == 0) & (F.col("w2") > 0),
            F.least(
                F.col("cap") - F.col("a1"),
                F.expr("(l1 * w) div w2"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("g"),
    )
    return fin.select(
        "source",
        F.col("w").alias("weight_bp"),
        F.col("cap").alias("cap_chars"),
        (F.col("a1") + F.col("g")).cast("long").alias("alloc_chars"),
        F.round(
            (F.col("a1") + F.col("g")).cast("double")
            / F.col("cap").cast("double"),
            6,
        ).alias("fill_rate"),
    )


# ========================================================================
# q_interarrival_stats — per-event-type inter-arrival cadence census
# ========================================================================


@register(
    "q_interarrival_stats",
    oracle="""
WITH t AS (
  SELECT user_id, event_id, event_type, EPOCH_US(ts) AS us FROM events
),
g AS (
  SELECT event_type, user_id, event_id,
         us - LAG(us) OVER (PARTITION BY user_id, event_type
                            ORDER BY us, event_id) AS gap
  FROM t
),
gg AS (SELECT * FROM g WHERE gap IS NOT NULL),
r AS (
  SELECT event_type, gap,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY gap, user_id, event_id) AS rk
  FROM gg
),
n AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap // 1048576) AS BIGINT) AS sg_hi,
         CAST(SUM(gap % 1048576) AS BIGINT) AS sg_lo,
         CAST(MIN(gap) AS BIGINT) AS min_gap_us,
         CAST(MAX(gap) AS BIGINT) AS max_gap_us
  FROM gg GROUP BY event_type
)
SELECT n.event_type, n.n_gaps,
       (CAST(n.sg_hi AS DOUBLE) * 1048576.0 + CAST(n.sg_lo AS DOUBLE))
         / CAST(n.n_gaps AS DOUBLE)
         AS mean_gap_us,
       n.min_gap_us, n.max_gap_us,
       CAST(r.gap AS BIGINT) AS median_gap_us
FROM n JOIN r
  ON n.event_type = r.event_type AND r.rk = (n.n_gaps + 1) // 2
""",
)
def q_interarrival_stats(spark, sf_dir):
    """Per-event-type inter-arrival cadence census: gaps between a
    user's consecutive events of the SAME type (count, exact mean,
    min/max, lower-median) — the arrival-process panel behind rate
    limits, anomaly baselines and session-gap calibration (is 30 min
    the right q_sessionize threshold? this table answers).

    Determinism: gaps are exact integer microseconds; Σgap rides
    2²⁰ hi/lo int64 pieces (§8.21 — a raw sum wraps at ~8M
    decade-apart pairs) reconstructed through the shared double
    spelling into ONE division; the median is the
    nearest-rank (n+1) div 2 order statistic under a FULL
    (gap, user_id, event_id) tie-break — never a percentile
    interpolation (engines disagree on those).

    100 TB shape: the lag window clusters on user_id (one event
    shuffle, shared with the sessionize family); the median rank
    runs through windows.scalable_part_rank (per-(type, bucket)
    row_number + broadcast offsets — a plain per-type window would
    serialize each event type onto ONE task at any volume, the
    q_shuffle_shards lesson); the census is a bounded
    |event_type|-row table."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "user_id", "event_id", "event_type", epoch_us(ev).alias("us")
    )
    uw = Window.partitionBy("user_id", "event_type").orderBy(
        "us", "event_id"
    )
    gg = (
        t.withColumn("gap", F.col("us") - F.lag("us", 1).over(uw))
        .filter(F.col("gap").isNotNull())
        .select("event_type", "user_id", "event_id", "gap")
    )
    r = win.scalable_part_rank(
        gg,
        ["event_type"],
        ["gap", "user_id", "event_id"],
        rank_col="rk",
    )
    # rename the census's type column before joining back onto the
    # ranked stream (both derive from gg — qualified refs would be
    # ambiguous under Spark's self-join analyzer)
    # Σgap worst-case wraps int64 (8M pairs × decade-long 3e14-µs
    # gaps ≈ 2⁷⁰ — the §8.21 class), so the sum rides 2²⁰ hi/lo
    # pieces: Σlo ≤ n·2²⁰, Σhi ≤ Σgap/2²⁰ — both in budget to ~10¹²
    # rows; the mean reconstructs through the shared double spelling
    n = gg.groupBy(F.col("event_type").alias("et")).agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.expr("gap div 1048576")).cast("long").alias("sg_hi"),
        F.sum(F.expr("gap % 1048576")).cast("long").alias("sg_lo"),
        F.min("gap").cast("long").alias("min_gap_us"),
        F.max("gap").cast("long").alias("max_gap_us"),
    )
    med = r.join(
        F.broadcast(n),
        (F.col("event_type") == F.col("et"))
        & (F.col("rk") == F.expr("(n_gaps + 1) div 2")),
    ).select(
        "event_type",
        "n_gaps",
        (
            (
                F.col("sg_hi").cast("double") * F.lit(1048576.0)
                + F.col("sg_lo").cast("double")
            )
            / F.col("n_gaps").cast("double")
        ).alias("mean_gap_us"),
        "min_gap_us",
        "max_gap_us",
        F.col("gap").cast("long").alias("median_gap_us"),
    )
    return med


# ========================================================================
# q_ngram_novelty — held-out trigram novelty per source
# ========================================================================


@register(
    "q_ngram_novelty",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, doc_id % 2 AS half,
         STRING_SPLIT(LOWER(TRIM(text)), ' ') AS tk
  FROM documents
),
tri AS (
  SELECT doc_id, source, half,
         UNNEST(LIST_TRANSFORM(
           GENERATE_SERIES(1, LEN(tk) - 2),
           i -> CONCAT_WS(' ', tk[i], tk[i+1], tk[i+2])
         )) AS g
  FROM toks
),
train AS (SELECT DISTINCT g FROM tri WHERE half = 0),
test AS (
  SELECT t.source, t.g,
         CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END AS novel
  FROM tri t LEFT JOIN train tr ON t.g = tr.g
  WHERE t.half = 1
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_test_trigrams,
       CAST(SUM(novel) AS BIGINT) AS n_novel,
       CAST(SUM(novel) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS novelty_rate
FROM test GROUP BY source
""",
)
def q_ngram_novelty(spark, sf_dir):
    """Held-out trigram NOVELTY per source: split the corpus by
    doc_id parity, build the train half's distinct-trigram set, and
    measure what fraction of each source's test-half trigram
    OCCURRENCES never appear in training — the generalization-gap /
    domain-shift complement to q_contamination (which flags probe
    docs CONTAINED in the corpus; this measures how much of tomorrow
    the corpus has never seen) and the memorization-risk denominator
    (0% novelty = the test half is pure repetition).

    100 TB shape: one corpus scan explodes to the trigram stream;
    the train side collapses to DISTINCT trigrams (inverted-index
    shape, hot trigrams collapse to one row — the join right side
    cannot skew); one hash equi-join flags novelty; the census is a
    bounded |sources|-row aggregate.  Exact counts, ONE final
    division (§8.13), tokenization = the shared llmops.tokens_col
    cross-engine contract."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 2).alias("half"),
        llmops.tokens_col("text").alias("tk"),
    )
    tri = tk.select(
        "doc_id",
        "source",
        "half",
        # guard like llmops.shingles_col: Spark's sequence(1, n-2)
        # turns DESCENDING ([1, 0]) when n < 3 — unlike DuckDB's
        # GENERATE_SERIES, which is empty — so tk[i+1] indexes past
        # the array (ArrayIndexOutOfBounds under ANSI, spurious
        # trigrams with ANSI off); docs shorter than 3 tokens must
        # yield an EMPTY trigram list (round-9 ADVICE, high)
        F.explode(
            F.expr(
                "case when size(tk) >= 3 then"
                " transform(sequence(1, size(tk) - 2),"
                " i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1]))"
                " else cast(array() as array<string>) end"
            )
        ).alias("g"),
    )
    train = (
        tri.filter(F.col("half") == 0).select("g").distinct()
        .withColumn("seen", F.lit(1))
    )
    test = (
        tri.filter(F.col("half") == 1)
        .join(train, "g", "left")
        .select(
            "source",
            F.when(F.col("seen").isNull(), 1).otherwise(0).alias("novel"),
        )
    )
    return test.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_trigrams"),
        F.sum("novel").cast("long").alias("n_novel"),
        (
            F.sum("novel").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("novelty_rate"),
    )


# ========================================================================
# q_length_log2_histogram — per-source log2 doc-length histogram
# ========================================================================


@register(
    "q_length_log2_histogram",
    oracle="""
WITH b AS (
  SELECT source,
         CAST(LENGTH(BIN(CAST(n_chars AS BIGINT))) - 1 AS BIGINT)
           AS log2_bucket
  FROM documents WHERE n_chars >= 1
),
c AS (
  SELECT source, log2_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM b GROUP BY source, log2_bucket
)
SELECT source, log2_bucket, n_docs,
       CAST(n_docs AS DOUBLE)
         / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE)
         AS share
FROM c
""",
)
def q_length_log2_histogram(spark, sf_dir):
    """Per-source log₂ document-length histogram (bucket =
    ⌊log₂ n_chars⌋, share within source) — the standard corpus-panel
    length distribution at a glance (truncation spikes, boilerplate
    shelves, and source length mismatch all show up as bucket-share
    anomalies before any model sees the data).

    Determinism: the bucket is LENGTH(BIN(n)) − 1 — pure
    integer/string arithmetic, byte-identical cross-engine (the
    q_hll_sketch rho trick; a float log2 is 1-ulp fragile exactly at
    the 2^k bucket edges that matter); share is one unrounded
    division of exact counts per §8.13.  Scale shape: ONE
    column-pruned scan → map-side-combinable (source, bucket)-grain
    aggregate (≤ |sources|·64 rows at any volume) → margins on the
    bounded grain."""
    d = load_table(spark, sf_dir, "documents")
    b = d.filter(F.col("n_chars") >= 1).select(
        "source",
        (F.length(F.bin(F.col("n_chars").cast("long"))) - 1)
        .cast("long")
        .alias("log2_bucket"),
    )
    c = b.groupBy("source", "log2_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    wsrc = Window.partitionBy("source")
    return c.select(
        "source",
        "log2_bucket",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(wsrc).cast("double")
        ).alias("share"),
    )


# ========================================================================
# q_auc_by_group — sliced ROC-AUC per customer segment
# ========================================================================


@register(
    "q_auc_by_group",
    oracle="""
WITH t AS (
  SELECT c.c_mktsegment AS segment,
         CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT segment, cents,
         SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
  FROM t GROUP BY segment, cents
),
r AS (
  SELECT segment, pos, neg,
         COALESCE(SUM(neg) OVER (
           PARTITION BY segment ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_neg
  FROM g
),
s AS (
  SELECT segment,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg,
         CAST(SUM(pos * (2 * cum_neg + neg)) AS BIGINT) AS two_u
  FROM r GROUP BY segment
)
SELECT segment, n_pos, n_neg,
       CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
            ELSE CAST(two_u AS DOUBLE)
                 / (2.0 * (CAST(n_pos AS DOUBLE)
                           * CAST(n_neg AS DOUBLE))) END AS auc
FROM s
""",
)
def q_auc_by_group(spark, sf_dir):
    """SLICED ROC-AUC: q_roc_auc's exact tie-corrected rank-sum AUC
    computed PER CUSTOMER SEGMENT — the sliced-evaluation table
    (fairness audits, per-cohort regression hunts: a model that
    holds 0.75 global AUC while one slice sits at 0.5 is broken, and
    only this table shows it).

    Same determinism contract as q_roc_auc (§8.15 integer cents
    value grain, exact int64 2U, ONE division, NULL on single-class
    slices §8.17).  100 TB shape: ONE fact join to attach the slice
    key, groupBy to (segment, cents) grain, then the per-slice prefix
    sum routes through windows.scalable_cumsum's part_cols (a plain
    segment-partitioned window caps parallelism at |segments| = 5
    while each task carries n/5 of a value grain that grows ~linearly
    with volume; the two-phase form runs #segments × #buckets tasks,
    small_threshold keeps the plain partitioned window below 2 M grain
    rows)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    t = o.join(
        c, o["o_custkey"] == c["c_custkey"]
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias(
            "cents"
        ),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    g = t.groupBy("segment", "cents").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    r = win.scalable_cumsum(
        g,
        "cents",
        {"cum_inc": "neg"},
        part_cols=["segment"],
        small_threshold=win.SMALL_THRESHOLD_DEFAULT,
    ).select(
        "segment",
        "pos",
        "neg",
        (F.col("cum_inc") - F.col("neg")).alias("cum_neg"),
    )
    s = r.groupBy("segment").agg(
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
        "segment",
        "n_pos",
        "n_neg",
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(auc)
        .alias("auc"),
    )


# ========================================================================
# q_power_mde — A/B test power analysis (minimum detectable effect)
# ========================================================================

#: z(97.5%) + z(80%) — frozen literals (rule 22: no runtime quantile
#: function), the standard 95%-confidence / 80%-power pairing.
_MDE_Z_SUM = 1.959964 + 0.841621


@register(
    "q_power_mde",
    oracle=f"""
WITH arm AS (
  SELECT c_custkey,
         (((c_custkey % 2654435761) * 2654435761) % 4294967296) % 2
           AS arm
  FROM customer
),
resp AS (
  SELECT o_custkey FROM orders
  WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey
),
j AS (
  SELECT a.arm,
         CASE WHEN r.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
  FROM arm a LEFT JOIN resp r ON a.c_custkey = r.o_custkey
),
s AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(SUM(y) AS BIGINT) AS n_resp,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM j
)
SELECT n_a, n_b, n_resp,
       CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE) AS pooled_rate,
       CASE WHEN n_resp = 0 OR n_resp = n THEN NULL ELSE
         {_MDE_Z_SUM} * SQRT(
           2.0 * (CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(LEAST(n_a, n_b) AS DOUBLE)) END AS mde_abs,
       CASE WHEN n_resp = 0 OR n_resp = n THEN NULL ELSE
         ({_MDE_Z_SUM} * SQRT(
           2.0 * (CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE))
               * (1.0 - CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE))
               / CAST(LEAST(n_a, n_b) AS DOUBLE)))
         / (CAST(n_resp AS DOUBLE) / CAST(n AS DOUBLE)) END AS mde_rel
FROM s
""",
)
def q_power_mde(spark, sf_dir):
    """A/B power analysis: the MINIMUM DETECTABLE EFFECT of the
    deterministic hash split at 95% confidence / 80% power — the
    question every experimenter must answer BEFORE reading a metric
    (q_ab_srm validates the split; this says what it can even see):
    mde = (z₀.₉₇₅+z₀.₈)·√(2·p̂(1−p̂)/n_arm) with the pooled response
    rate p̂ and the smaller arm's n.

    Determinism: exact integer counts → ONE fixed-order double chain
    (divisions, one multiply, one correctly-rounded SQRT — no libm
    beyond sqrt, which IEEE 754 requires correctly rounded); z-sum
    is a frozen literal (rule 22); NULL when p̂ ∈ {{0, 1}} (§8.17).
    100 TB shape: response collapses to customer grain, one
    customer-keyed join, a scalar census — no window anywhere."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    arm = c.select(
        "c_custkey", (llmops.knuth_hash("c_custkey") % 2).alias("arm")
    )
    resp = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.lit(1).alias("responded"))
    )
    j = arm.join(
        resp, arm["c_custkey"] == resp["o_custkey"], "left"
    ).select(
        "arm", F.coalesce(F.col("responded"), F.lit(0)).alias("y")
    )
    s = j.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum("y").cast("long").alias("n_resp"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    p = F.col("n_resp").cast("double") / F.col("n").cast("double")
    mde = F.lit(_MDE_Z_SUM) * F.sqrt(
        F.lit(2.0)
        * p
        * (F.lit(1.0) - p)
        / F.least(F.col("n_a"), F.col("n_b")).cast("double")
    )
    degenerate = (F.col("n_resp") == 0) | (
        F.col("n_resp") == F.col("n")
    )
    return s.select(
        "n_a",
        "n_b",
        "n_resp",
        p.alias("pooled_rate"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(mde)
        .alias("mde_abs"),
        F.when(degenerate, F.lit(None).cast("double"))
        .otherwise(mde / p)
        .alias("mde_rel"),
    )


# ========================================================================
# q_bloom_membership — Bloom filter build + planted-non-member FPR
# ========================================================================

_BLOOM_M = 4096
_BLOOM_K = 3
_BLOOM_PROBES = 1000


@register(
    "q_bloom_membership",
    oracle=f"""
WITH ks AS (SELECT c_custkey AS x FROM customer),
mx AS (SELECT MAX(x) AS mx FROM ks),
bits AS (
  SELECT DISTINCT
    ((((x * (2 * j.j + 1) + j.j) % 2654435761) * 2654435761)
      % 4294967296) % {_BLOOM_M} AS b
  FROM ks CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {_BLOOM_K - 1}))
                      AS j) j
),
bs AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits),
probes AS (
  SELECT mx.mx + p.p AS x
  FROM mx CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_BLOOM_PROBES}))
                      AS p) p
),
pb AS (
  SELECT probes.x,
         ((((probes.x * (2 * j.j + 1) + j.j) % 2654435761)
            * 2654435761) % 4294967296) % {_BLOOM_M} AS b
  FROM probes CROSS JOIN (SELECT UNNEST(
    GENERATE_SERIES(0, {_BLOOM_K - 1})) AS j) j
),
hits AS (
  SELECT pb.x, COUNT(*) AS n_hit
  FROM pb JOIN bits ON pb.b = bits.b
  GROUP BY pb.x
),
fp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fp
  FROM hits WHERE n_hit = {_BLOOM_K}
),
nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM ks)
SELECT CAST({_BLOOM_M} AS BIGINT) AS m, CAST({_BLOOM_K} AS BIGINT) AS k,
       nk.n_keys, bs.bits_set,
       CAST({_BLOOM_PROBES} AS BIGINT) AS n_probes, fp.n_fp,
       CAST(fp.n_fp AS DOUBLE) / {_BLOOM_PROBES}.0 AS fpr_measured,
       (CAST(bs.bits_set AS DOUBLE) / {_BLOOM_M}.0)
         * (CAST(bs.bits_set AS DOUBLE) / {_BLOOM_M}.0)
         * (CAST(bs.bits_set AS DOUBLE) / {_BLOOM_M}.0)
         AS fpr_expected
FROM nk CROSS JOIN bs CROSS JOIN fp
""",
)
def q_bloom_membership(spark, sf_dir):
    """Bloom-filter MEMBERSHIP sketch (m=4096 bits, k=3 salted Knuth
    hashes) built over the customer keys, then GRADED on 1,000
    planted non-members (keys beyond max(custkey)) — measured false-
    positive rate beside the load-factor expectation (bits_set/m)^k.
    Completes the sketch family: HLL counts distinct, count-min
    counts frequency, Bloom answers membership — the pre-join filter
    (q_join_bloom USES one; this key builds and certifies one as
    data).

    Determinism: the bit set is exact integers (salted hash
    (x·(2j+1)+j) through the Knuth chain — mod-first keeps the int64
    product in budget for x < ~2⁶⁰/…; fixture keys ≪ that, the
    knuth_hash reduction is the documented big-id swap); DISTINCT
    bit positions; membership = an exact 3-way position join;
    expectation is a fixed-order double cube of one exact ratio.
    100 TB shape: ONE key scan → k·n hashes → 4096-row DISTINCT (the
    whole filter is kilobytes — the point of the structure);
    broadcast-join the 1,000-probe grid against the bit set."""
    c = load_table(spark, sf_dir, "customer")
    ks = c.select(F.col("c_custkey").alias("x"))
    jg = spark.range(_BLOOM_K).select(F.col("id").alias("j"))
    bits = (
        ks.crossJoin(F.broadcast(jg))
        .select(
            (
                (
                    ((F.col("x") * (2 * F.col("j") + 1) + F.col("j"))
                     % F.lit(2654435761))
                    * F.lit(2654435761)
                )
                % F.lit(4294967296)
                % F.lit(_BLOOM_M)
            ).alias("b")
        )
        .distinct()
    )
    bs = bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    mx = ks.agg(F.max("x").alias("mx"))
    probes = (
        spark.range(1, _BLOOM_PROBES + 1)
        .select(F.col("id").alias("p"))
        .crossJoin(F.broadcast(mx))
        .select((F.col("mx") + F.col("p")).alias("x"))
    )
    pb = probes.crossJoin(F.broadcast(jg)).select(
        "x",
        (
            (
                ((F.col("x") * (2 * F.col("j") + 1) + F.col("j"))
                 % F.lit(2654435761))
                * F.lit(2654435761)
            )
            % F.lit(4294967296)
            % F.lit(_BLOOM_M)
        ).alias("b"),
    )
    hits = (
        pb.join(bits, "b")
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    fp = hits.filter(F.col("n_hit") == _BLOOM_K).agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    nk = ks.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    ratio = F.col("bits_set").cast("double") / F.lit(float(_BLOOM_M))
    return (
        nk.crossJoin(F.broadcast(bs))
        .crossJoin(F.broadcast(fp))
        .select(
            F.lit(_BLOOM_M).cast("long").alias("m"),
            F.lit(_BLOOM_K).cast("long").alias("k"),
            "n_keys",
            "bits_set",
            F.lit(_BLOOM_PROBES).cast("long").alias("n_probes"),
            "n_fp",
            (
                F.col("n_fp").cast("double")
                / F.lit(float(_BLOOM_PROBES))
            ).alias("fpr_measured"),
            (ratio * ratio * ratio).alias("fpr_expected"),
        )
    )


# ========================================================================
# q_gini_coefficient — revenue inequality across customers
# ========================================================================


@register(
    "q_gini_coefficient",
    oracle="""
WITH rc AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
r AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i,
         COUNT(*) OVER () AS n,
         SUM(cents) OVER () AS tot
  FROM rc
),
s AS (
  SELECT MAX(n) AS n, MAX(tot) AS tot,
         CAST(SUM((i * cents) // 549755813888) AS BIGINT) AS s_hi,
         CAST(SUM((i * cents) % 549755813888) AS BIGINT) AS s_lo
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(tot AS BIGINT) AS total_cents,
       CASE WHEN tot = 0 THEN NULL ELSE
         (2.0 * (CAST(s_hi AS DOUBLE) * 549755813888.0
                 + CAST(s_lo AS DOUBLE))
          - (CAST(n AS DOUBLE) + 1.0) * CAST(tot AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)) END AS gini
FROM s
""",
)
def q_gini_coefficient(spark, sf_dir):
    """Gini coefficient of revenue across customers — the INEQUALITY
    statistic beside q_hhi_concentration's per-market concentration
    (HHI asks "is one supplier dominant in a nation"; Gini asks "how
    skewed is the whole customer base") and the scalar the
    q_gains_table curve integrates to.  Rank formula over the sorted
    revenue vector: G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx).

    Determinism/overflow (§8.21): the per-term product i·xᵢ is
    int64-safe (i ≤ 2²³ at 8 M, x ≤ ~2³³ cents → ≤ 2⁵⁶) but its raw
    SUM is not (≈ 2⁷⁹ at 8 M × average 1.5e8-cent customers — Spark
    sum(long) would wrap silently while DuckDB promotes to HUGEINT,
    the q_hhi_concentration ADVICE class), so each term splits as
    hi = t div 2³⁹ / lo = t mod 2³⁹: Σlo ≤ n·2³⁹ (budget n < ~2²⁴
    rows), Σhi ≤ Σt/2³⁹ ≈ 2⁴⁰ — both in budget; reconstruction
    hi·2³⁹ + lo is the shared double spelling (identical rounded
    adds).  Past 16 M rows the swap is a second split level.  The
    closing expression is ONE fixed-order double chain, NULL on zero
    revenue (§8.17).
    100 TB shape: one orders scan to customer grain; the global rank
    runs through windows.scalable_rank (never a one-task sort); the
    census is a scalar reduce."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rc = o.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    r = win.scalable_rank(
        rc,
        [F.col("cents"), F.col("o_custkey")],
        "cents",
        rank_col="i",
        tot_col="n",
    )
    t = r.select(
        "n", "cents", (F.col("i") * F.col("cents")).alias("ix")
    )
    s = t.agg(
        F.max("n").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
        F.sum(F.expr("ix div 549755813888")).cast("long").alias("s_hi"),
        F.sum(F.expr("ix % 549755813888")).cast("long").alias("s_lo"),
    )
    s_ix = (
        F.col("s_hi").cast("double") * F.lit(549755813888.0)
        + F.col("s_lo").cast("double")
    )
    gini = (
        F.lit(2.0) * s_ix
        - (F.col("n").cast("double") + F.lit(1.0))
        * F.col("tot").cast("double")
    ) / (F.col("n").cast("double") * F.col("tot").cast("double"))
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("tot").alias("total_cents"),
        F.when(F.col("tot") == 0, F.lit(None).cast("double"))
        .otherwise(gini)
        .alias("gini"),
    )


# ========================================================================
# q_dp_counts — seeded-Laplace differentially-private count release
# ========================================================================

#: Laplace scale b = sensitivity / epsilon = 1 / 1.0.
_DP_EPSILON = 1.0


@register(
    "q_dp_counts",
    oracle=f"""
WITH c AS (
  SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT)
    AS true_count
  FROM customer GROUP BY c_mktsegment
),
seeded AS (
  SELECT segment, true_count,
         ROW_NUMBER() OVER (ORDER BY segment) AS seed
  FROM c
),
u AS (
  SELECT segment, true_count,
         (((seed % 2654435761) * 2654435761) % 4294967296 + 1)
           / 4294967297.0 AS u
  FROM seeded
),
lap AS (
  SELECT segment, true_count,
         CASE WHEN u >= 0.5
              THEN -(1.0 / {_DP_EPSILON}) * ROUND(LN(2.0 - 2.0 * u), 9)
              ELSE  (1.0 / {_DP_EPSILON}) * ROUND(LN(2.0 * u), 9) END
           AS noise
  FROM u
)
SELECT segment, true_count, noise,
       CAST(true_count AS DOUBLE) + noise AS noisy_count,
       CAST({_DP_EPSILON} AS DOUBLE) AS epsilon
FROM lap
""",
)
def q_dp_counts(spark, sf_dir):
    """Differentially-private count release (ε=1 Laplace mechanism)
    of the per-segment customer census — the privacy-preserving
    telemetry export shape: true counts never leave the boundary,
    noisy counts do.  The noise draw is SEEDED (inverse-CDF of the
    Knuth uniform keyed on the segment's sorted position) purely as a
    REPLAY/TESTING determinism choice — it demonstrates the Laplace
    mechanism's dataflow while keeping the key oracle-checkable and
    retry-stable.  That choice SACRIFICES the ε-DP guarantee: the
    seed (a segment's alphabetical rank) is publicly recomputable, so
    an observer can regenerate and subtract the noise exactly.  A
    real release needs secret per-release randomness (one fresh draw,
    stored, reused on retries — retry-stable without being
    predictable; round-9 ADVICE).  True counts are kept in the output
    for the AUDIT side of the boundary (and the oracle gate); a
    production export drops the column.

    Laplace via inverse CDF: u < ½ → b·ln(2u), u ≥ ½ → −b·ln(2−2u);
    ln is round(9)-before-use (rule 22 — JVM vs libm log is 1-ulp),
    after which the chain is identical IEEE.  100 TB shape: one
    map-side-combinable segment census; the noise attach is pure
    per-row arithmetic on the bounded grain."""
    c = load_table(spark, sf_dir, "customer")
    cnt = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    # bounded |segments| grain — the one-task window is fine by
    # construction (q_rolling_corr day-grain argument)
    seeded = cnt.withColumn(
        "seed", F.row_number().over(Window.orderBy("segment"))
    )
    u = (llmops.knuth_hash("seed") + 1) / F.lit(4294967297.0)
    b = 1.0 / _DP_EPSILON
    noise = F.when(
        u >= 0.5, -F.lit(b) * F.round(F.log(F.lit(2.0) - 2.0 * u), 9)
    ).otherwise(F.lit(b) * F.round(F.log(2.0 * u), 9))
    return seeded.select(
        "segment",
        "true_count",
        noise.alias("noise"),
        (F.col("true_count").cast("double") + noise).alias(
            "noisy_count"
        ),
        F.lit(float(_DP_EPSILON)).alias("epsilon"),
    )


# ========================================================================
# q_holdout_leakage — exact-duplicate leakage across a train/test split
# ========================================================================


@register(
    "q_holdout_leakage",
    oracle="""
WITH h AS (
  SELECT doc_id, source, doc_id % 2 AS half,
         MD5(LOWER(TRIM(text))) AS sig
  FROM documents
),
train AS (SELECT DISTINCT sig FROM h WHERE half = 0),
test AS (
  SELECT h.source, h.sig,
         CASE WHEN t.sig IS NOT NULL THEN 1 ELSE 0 END AS leaked
  FROM h LEFT JOIN train t ON h.sig = t.sig
  WHERE h.half = 1
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_test_docs,
       CAST(SUM(leaked) AS BIGINT) AS n_leaked,
       CAST(SUM(leaked) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS leak_rate
FROM test GROUP BY source
""",
)
def q_holdout_leakage(spark, sf_dir):
    """EXACT-duplicate leakage across the train/test split (doc_id
    parity): test-half documents whose normalized-text MD5 also
    appears in the train half, per source — the eval-integrity gate
    run before any benchmark number is believed (q_ngram_novelty
    measures phrase-level overlap; this catches the whole-document
    copies that silently inflate eval scores).

    Determinism: MD5 of the shared LOWER(TRIM(text)) normalization
    (byte-identical cross-engine, the q_dedup_exact contract); exact
    counts, ONE division (§8.13).  100 TB shape: one corpus scan
    projected to 16-byte signatures; the train side collapses to
    DISTINCT sigs (duplicate-heavy sources cannot skew the join's
    right side); one hash equi-join; bounded source-grain census."""
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 2).alias("half"),
        F.md5(llmops.norm_text("text")).alias("sig"),
    )
    train = (
        h.filter(F.col("half") == 0)
        .select("sig")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    test = (
        h.filter(F.col("half") == 1)
        .join(train, "sig", "left")
        .select(
            "source",
            F.when(F.col("seen").isNull(), 0).otherwise(1).alias(
                "leaked"
            ),
        )
    )
    return test.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_docs"),
        F.sum("leaked").cast("long").alias("n_leaked"),
        (
            F.sum("leaked").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("leak_rate"),
    )


# ========================================================================
# q_er_golden_record — survivorship after entity resolution
# ========================================================================


@register(
    "q_er_golden_record",
    oracle=f"""
WITH RECURSIVE m AS (
  SELECT c_custkey, c_name, c_acctbal, c_nationkey, c_mktsegment,
         SUBSTR(c_name, LENGTH(c_name), 1) AS name_digit,
         CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) // 100000 AS band,
         c_custkey % 97 AS keyhash,
         ROW_NUMBER() OVER (
           PARTITION BY c_nationkey, c_mktsegment ORDER BY c_custkey
         ) AS rn
  FROM customer
),
k AS (SELECT * FROM m WHERE rn <= {_RL_MAX_BLOCK}),
lp AS (
  SELECT a.c_custkey AS id1, b.c_custkey AS id2
  FROM k a JOIN k b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.rn < b.rn
  WHERE (CASE WHEN a.name_digit = b.name_digit
              THEN {_RL_W["f_name"][0]} ELSE {_RL_W["f_name"][1]} END
       + CASE WHEN a.band = b.band
              THEN {_RL_W["f_band"][0]} ELSE {_RL_W["f_band"][1]} END
       + CASE WHEN a.keyhash = b.keyhash
              THEN {_RL_W["f_hash"][0]} ELSE {_RL_W["f_hash"][1]} END)
        >= {_RL_UPPER}
),
e2 AS (SELECT id1 AS a, id2 AS b FROM lp
       UNION ALL SELECT id2, id1 FROM lp),
walk(v, l) AS (
  SELECT c_custkey, c_custkey FROM k
  UNION
  SELECT e.b, w.l FROM walk w JOIN e2 e ON w.v = e.a
),
lab AS (SELECT v, MIN(l) AS entity_id FROM walk GROUP BY v),
mem AS (
  SELECT lab.entity_id, k.c_custkey, k.c_name,
         CAST(ROUND(k.c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM lab JOIN k ON lab.v = k.c_custkey
),
surv AS (
  SELECT entity_id, c_custkey, c_name, bal_cents,
         ROW_NUMBER() OVER (
           PARTITION BY entity_id
           ORDER BY bal_cents DESC, c_custkey
         ) AS pick,
         COUNT(*) OVER (PARTITION BY entity_id) AS n_members,
         SUM(bal_cents) OVER (PARTITION BY entity_id)
           AS total_bal_cents
  FROM mem
)
SELECT entity_id, CAST(n_members AS BIGINT) AS n_members,
       c_name AS golden_name, bal_cents AS golden_bal_cents,
       CAST(total_bal_cents AS BIGINT) AS total_bal_cents
FROM surv WHERE pick = 1 AND n_members >= 2
""",
)
def q_er_golden_record(spark, sf_dir):
    """SURVIVORSHIP — the step AFTER entity resolution that makes the
    clusters usable: for every multi-member entity from
    q_er_clusters' components, elect the golden attributes
    (name/balance of the richest member, deterministic
    (balance DESC, custkey) tie-break; member count; total balance).
    linkage scores pairs → clusters group identities → THIS key
    produces the one row per real-world entity a downstream join
    actually wants (the MDM "golden record" classic).

    100 TB shape: the same capped block machinery as
    q_record_linkage/q_er_clusters (shared _rl_kept_members — the
    three keys cannot drift), connected components on the bounded
    edge set, then ONE entity-grain window over the labeled members
    (components are tiny by construction — the cap bounds every
    block's merge fan-in).  Determinism: integer micro-nat link
    scores, min-label entity ids, exact integer cents, full
    survivorship tie-break."""
    k = _rl_kept_members(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer")
    a, b = k.alias("a"), k.alias("b")
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
    links = (
        a.join(
            b,
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.rn") < F.col("b.rn")),
        )
        .filter(w >= _RL_UPPER)
        .select(
            F.col("a.c_custkey").alias("id1"),
            F.col("b.c_custkey").alias("id2"),
        )
    )
    cc = llmops.connected_components(
        links, k.select("c_custkey"), id_col="c_custkey"
    )
    attrs = c.select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias(
            "bal_cents"
        ),
    )
    mem = (
        cc.select("c_custkey", F.col("cluster_id").alias("entity_id"))
        .join(attrs, "c_custkey")
    )
    went = Window.partitionBy("entity_id")
    surv = mem.select(
        "entity_id",
        "c_name",
        "bal_cents",
        F.row_number()
        .over(went.orderBy(F.col("bal_cents").desc(), "c_custkey"))
        .alias("pick"),
        F.count(F.lit(1)).over(went).alias("n_members"),
        F.sum("bal_cents").over(went).alias("total_bal_cents"),
    )
    return surv.filter(
        (F.col("pick") == 1) & (F.col("n_members") >= 2)
    ).select(
        "entity_id",
        F.col("n_members").cast("long").alias("n_members"),
        F.col("c_name").alias("golden_name"),
        F.col("bal_cents").alias("golden_bal_cents"),
        F.col("total_bal_cents").cast("long").alias("total_bal_cents"),
    )


# ========================================================================
# q_price_elasticity — log-log demand elasticity per brand
# ========================================================================


@register(
    "q_price_elasticity",
    oracle="""
WITH pp AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY l_partkey
),
pts AS (
  SELECT p.p_brand AS brand,
         ROUND(LN(CAST(pp.cents // pp.qty AS DOUBLE)), 9) AS x,
         ROUND(LN(CAST(pp.qty AS DOUBLE)), 9) AS y
  FROM pp JOIN part p ON pp.l_partkey = p.p_partkey
  WHERE pp.qty >= 1 AND pp.cents // pp.qty >= 1
),
s AS (
  SELECT brand, COUNT(*) AS n,
         COUNT(DISTINCT x) AS nx,
         CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE)
           AS sxx,
         CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE)
           AS sxy
  FROM pts GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n_parts,
       CASE WHEN nx < 2 OR n * sxx - sx * sx = 0 THEN NULL ELSE
         ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) END
         AS elasticity
FROM s
""",
)
def q_price_elasticity(spark, sf_dir):
    """Demand elasticity per brand: OLS slope of ln(quantity) on
    ln(unit price) across the brand's parts — the log-log regression
    every pricing team runs (elasticity < −1 = elastic demand), and
    the econometric reading of data q_linear_regression fits in
    levels.

    Determinism: unit price = integer cents div integer units (§8.7
    floor pairing — exact, no float average); BOTH logs round(9)
    BEFORE use (rule 22; the q_zipf_fit spelling exactly — products
    re-round(9) into DECIMAL(28,9) sums so addition order cannot
    matter); ONE closing division round(9), NULL on a
    single-price brand via COUNT(DISTINCT x) < 2 (§8.17 — the
    den = 0 test alone is WRONG here: round(x·x, 9) leaves a
    tiny-but-nonzero denominator when every x is equal, and the
    quotient of two rounding residues is garbage; the planted
    BrandB test pins this).  100 TB shape: one fact scan to part grain,
    a broadcast part-dim join for the brand, and the regression
    rides exact decimal sufficient statistics at brand grain — no
    window, no solver."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pp = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias(
            "qty"
        ),
    )
    pts = (
        pp.join(
            F.broadcast(p.select("p_partkey", "p_brand")),
            pp["l_partkey"] == F.col("p_partkey"),
        )
        .filter(
            (F.col("qty") >= 1) & (F.expr("cents div qty") >= 1)
        )
        .select(
            F.col("p_brand").alias("brand"),
            F.round(
                F.log(F.expr("cents div qty").cast("double")), 9
            ).alias("x"),
            F.round(F.log(F.col("qty").cast("double")), 9).alias("y"),
        )
    )
    s = pts.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("x").alias("nx"),
        F.sum(F.col("x").cast("decimal(28,9)")).cast("double").alias(
            "sx"
        ),
        F.sum(F.col("y").cast("decimal(28,9)")).cast("double").alias(
            "sy"
        ),
        F.sum(
            F.round(F.col("x") * F.col("x"), 9).cast("decimal(28,9)")
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            F.round(F.col("x") * F.col("y"), 9).cast("decimal(28,9)")
        )
        .cast("double")
        .alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ) / den
    return s.select(
        "brand",
        F.col("n").cast("long").alias("n_parts"),
        F.when(
            (F.col("nx") < 2) | (den == 0), F.lit(None).cast("double")
        )
        .otherwise(F.round(slope, 9))
        .alias("elasticity"),
    )


# ========================================================================
# q_sketch_merge — HLL register mergeability, certified as data
# ========================================================================


@register(
    "q_sketch_merge",
    oracle="""
WITH h AS (
  SELECT event_id,
         (((user_id % 2654435761) * 2654435761) % 4294967296)
           // 16777216 AS bucket,
         (((user_id % 2654435761) * 2654435761) % 4294967296)
           % 16777216 AS w
  FROM events
),
r AS (
  SELECT event_id % 2 AS shard, bucket,
         CASE WHEN w = 0 THEN 25
              ELSE 25 - LENGTH(BIN(w)) END AS rho
  FROM h
),
ra AS (SELECT bucket, MAX(rho) AS rho FROM r WHERE shard = 0
       GROUP BY bucket),
rb AS (SELECT bucket, MAX(rho) AS rho FROM r WHERE shard = 1
       GROUP BY bucket),
merged AS (
  SELECT bucket, MAX(rho) AS rho
  FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
  GROUP BY bucket
),
direct AS (SELECT bucket, MAX(rho) AS rho FROM r GROUP BY bucket),
cmp AS (
  SELECT COALESCE(m.bucket, d.bucket) AS bucket,
         CASE WHEN m.rho IS DISTINCT FROM d.rho THEN 1 ELSE 0 END
           AS mismatch
  FROM merged m FULL OUTER JOIN direct d ON m.bucket = d.bucket
)
SELECT CAST((SELECT COUNT(*) FROM direct) AS BIGINT)
         AS n_buckets_direct,
       CAST((SELECT COUNT(*) FROM merged) AS BIGINT)
         AS n_buckets_merged,
       CAST(SUM(mismatch) AS BIGINT) AS n_mismatch,
       CAST((SELECT SUM(rho) FROM direct) AS BIGINT)
         AS sum_rho_direct,
       CAST((SELECT SUM(rho) FROM merged) AS BIGINT)
         AS sum_rho_merged
FROM cmp
""",
)
def q_sketch_merge(spark, sf_dir):
    """Sketch MERGEABILITY certified as data: build the
    q_hll_sketch register table independently on two shards of the
    event stream (event_id parity — the distributed reality: every
    executor/stream builds its own sketch), merge by elementwise
    register MAX, and compare against the registers built directly
    over everything.  n_mismatch MUST be 0 — max is associative and
    commutative, which is the ENTIRE reason HLL works at 100 TB
    (shards/streams/days combine without re-reading data); this key
    turns that property from a docstring claim into a driver-gated
    census (the q_quantile_sketch "graded, never trusted"
    discipline applied to the merge operator itself).

    100 TB shape: two shard-local max-aggregates at 256-bucket grain
    + a 512-row union/merge + a bounded full-outer compare — the
    merge path never touches the raw stream again.  Determinism:
    the q_hll_sketch integer register spelling verbatim."""
    ev = load_table(spark, sf_dir, "events")
    h = llmops.knuth_hash("user_id")
    r = ev.select(
        (F.col("event_id") % 2).alias("shard"),
        F.expr(
            "(((user_id % 2654435761) * 2654435761) % 4294967296)"
            " div 16777216"
        ).alias("bucket"),
        (h % F.lit(16_777_216)).alias("w"),
    ).select(
        "shard",
        "bucket",
        F.when(F.col("w") == 0, F.lit(25))
        .otherwise(F.lit(25) - F.length(F.bin(F.col("w"))))
        .alias("rho"),
    )
    ra = (
        r.filter(F.col("shard") == 0)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    rb = (
        r.filter(F.col("shard") == 1)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    merged = (
        ra.unionByName(rb).groupBy("bucket").agg(F.max("rho").alias("rho"))
    )
    direct = r.groupBy("bucket").agg(F.max("rho").alias("rho"))
    m = merged.select(
        F.col("bucket").alias("mb"), F.col("rho").alias("mrho")
    )
    d = direct.select(
        F.col("bucket").alias("db"), F.col("rho").alias("drho")
    )
    cmp_df = m.join(d, m["mb"] == d["db"], "full_outer").select(
        F.when(
            ~F.col("mrho").eqNullSafe(F.col("drho")), 1
        ).otherwise(0).alias("mismatch")
    )
    nd = direct.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets_direct"),
        F.sum("rho").cast("long").alias("sum_rho_direct"),
    )
    nm = merged.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets_merged"),
        F.sum("rho").cast("long").alias("sum_rho_merged"),
    )
    mm = cmp_df.agg(F.sum("mismatch").cast("long").alias("n_mismatch"))
    return (
        nd.crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(mm))
        .select(
            "n_buckets_direct",
            "n_buckets_merged",
            "n_mismatch",
            "sum_rho_direct",
            "sum_rho_merged",
        )
    )


# ========================================================================
# q_ab_cuped — CUPED variance-reduced A/B metric read
# ========================================================================


@register(
    "q_ab_cuped",
    oracle="""
WITH cy AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) <= 1995
                  THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN EXTRACT(YEAR FROM o_orderdate) >= 1996
                  THEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
  FROM orders GROUP BY o_custkey
),
t AS (
  SELECT c.c_custkey,
         (((c.c_custkey % 2654435761) * 2654435761) % 4294967296) % 2
           AS arm,
         COALESCE(cy.x, 0) AS x, COALESCE(cy.y, 0) AS y
  FROM customer c LEFT JOIN cy ON c.c_custkey = cy.o_custkey
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b,
         CAST(SUM(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(x AS DECIMAL(19,0))
              * CAST(x AS DECIMAL(19,0)) AS DECIMAL(38,0)))
           AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(x AS DECIMAL(19,0))
              * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0)))
           AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(y AS DECIMAL(19,0))
              * CAST(y AS DECIMAL(19,0)) AS DECIMAL(38,0)))
           AS DOUBLE) AS syy,
         CAST(SUM(CASE WHEN arm = 0
                  THEN CAST(y AS DECIMAL(28,0)) END) AS DOUBLE)
           AS sy_a,
         CAST(SUM(CASE WHEN arm = 1
                  THEN CAST(y AS DECIMAL(28,0)) END) AS DOUBLE)
           AS sy_b,
         CAST(SUM(CASE WHEN arm = 0
                  THEN CAST(x AS DECIMAL(28,0)) END) AS DOUBLE)
           AS sx_a,
         CAST(SUM(CASE WHEN arm = 1
                  THEN CAST(x AS DECIMAL(28,0)) END) AS DOUBLE)
           AS sx_b
  FROM t
)
SELECT n_a, n_b,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
         (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS theta,
       sy_a / n_a AS mean_y_a, sy_b / n_b AS mean_y_b,
       sy_b / n_b - sy_a / n_a AS diff_raw,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL ELSE
         (sy_b / n_b
           - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
             * (sx_b / n_b - sx / n))
         - (sy_a / n_a
           - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
             * (sx_a / n_a - sx / n)) END AS diff_cuped,
       CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
            THEN NULL ELSE
         ((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END
         AS var_reduction
FROM s
""",
)
def q_ab_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment read (Deng et al. 2013 —
    the industry-standard A/B adjuster): the period-revenue metric y
    per arm is adjusted by the PRE-period covariate x
    (ŷ = y − θ(x − x̄), θ = Cov(x,y)/Var(x) pooled), shrinking
    variance by ρ² without biasing the treatment difference — the
    key that makes q_power_mde's minimum detectable effect smaller
    for free.  Output: per-arm means raw and CUPED-adjusted, θ, and
    the variance-reduction fraction ρ².

    Determinism: pre/period revenues are exact integer cents at
    customer grain; all sufficient statistics are exact DECIMAL sums
    cast hardware-exact (the q_linear_regression spelling — x·y at
    DECIMAL(19)² = DECIMAL(38,0) stays exact); every output is a
    fixed-order double chain on those casts, UNROUNDED; NULL on zero
    pre-period variance (§8.17).  100 TB shape: one orders scan to
    customer grain, one customer-keyed join, one scalar census — no
    window anywhere (the q_power_mde shape with a covariate)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    yr = F.year("o_orderdate")
    cy = o.groupBy("o_custkey").agg(
        F.sum(F.when(yr <= 1995, cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(yr >= 1996, cents).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    t = c.join(cy, c["c_custkey"] == cy["o_custkey"], "left").select(
        (llmops.knuth_hash("c_custkey") % 2).alias("arm"),
        F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )

    def d19(col):
        return F.col(col).cast("decimal(19,0)")

    s = t.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.col("x").cast("decimal(28,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,0)")).cast("double").alias("sy"),
        F.sum((d19("x") * d19("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((d19("x") * d19("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((d19("y") * d19("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("y").cast("decimal(28,0)"))
        )
        .cast("double")
        .alias("sy_a"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("y").cast("decimal(28,0)"))
        )
        .cast("double")
        .alias("sy_b"),
        F.sum(
            F.when(F.col("arm") == 0, F.col("x").cast("decimal(28,0)"))
        )
        .cast("double")
        .alias("sx_a"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("x").cast("decimal(28,0)"))
        )
        .cast("double")
        .alias("sx_b"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    theta = num / den
    mean_x = F.col("sx") / F.col("n")
    adj_b = (
        F.col("sy_b") / F.col("n_b")
        - theta * (F.col("sx_b") / F.col("n_b") - mean_x)
    )
    adj_a = (
        F.col("sy_a") / F.col("n_a")
        - theta * (F.col("sx_a") / F.col("n_a") - mean_x)
    )
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n_a",
        "n_b",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(theta)
        .alias("theta"),
        (F.col("sy_a") / F.col("n_a")).alias("mean_y_a"),
        (F.col("sy_b") / F.col("n_b")).alias("mean_y_b"),
        (F.col("sy_b") / F.col("n_b") - F.col("sy_a") / F.col("n_a"))
        .alias("diff_raw"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(adj_b - adj_a)
        .alias("diff_cuped"),
        F.when(den * deny == 0, F.lit(None).cast("double"))
        .otherwise((num * num) / (den * deny))
        .alias("var_reduction"),
    )


# ========================================================================
# q_importance_weights — domain-adaptation reweighting table
# ========================================================================

#: Clip range for importance ratios (the standard stabilizer: an
#: unclipped ratio explodes the effective-sample-size on rare
#: buckets).
_IW_CLIP_LO = 0.2
_IW_CLIP_HI = 5.0


@register(
    "q_importance_weights",
    oracle=f"""
WITH b AS (
  SELECT CAST(LENGTH(BIN(CAST(n_chars AS BIGINT))) - 1 AS BIGINT)
           AS bucket,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS tgt
  FROM documents WHERE n_chars >= 1
),
c AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS n_src,
         CAST(SUM(tgt) AS BIGINT) AS n_tgt
  FROM b GROUP BY bucket
),
m AS (
  SELECT bucket, n_src, n_tgt,
         CAST(SUM(n_src) OVER () AS BIGINT) AS tot_src,
         CAST(SUM(n_tgt) OVER () AS BIGINT) AS tot_tgt
  FROM c
)
SELECT bucket, n_src, n_tgt,
       CASE WHEN tot_tgt = 0 THEN NULL ELSE
         (CAST(n_tgt AS DOUBLE) / CAST(tot_tgt AS DOUBLE))
         / (CAST(n_src AS DOUBLE) / CAST(tot_src AS DOUBLE)) END
         AS weight_raw,
       CASE WHEN tot_tgt = 0 THEN NULL ELSE
         LEAST({_IW_CLIP_HI},
           GREATEST({_IW_CLIP_LO},
             (CAST(n_tgt AS DOUBLE) / CAST(tot_tgt AS DOUBLE))
             / (CAST(n_src AS DOUBLE) / CAST(tot_src AS DOUBLE))))
         END AS weight_clipped
FROM m
""",
)
def q_importance_weights(spark, sf_dir):
    """Importance-reweighting table for domain adaptation: per
    log₂-length bucket (the q_length_log2_histogram feature), the
    ratio of the TARGET domain's share (lang='en' — the distribution
    training should match) to the full corpus's share, clipped to
    [0.2, 5] (the standard stabilizer — an unclipped rare-bucket
    ratio destroys the effective sample size).  The broadcastable
    weight table that turns q_mixture_allocation's source-level
    budget into example-level sampling probabilities — covariate
    shift correction as a query.

    Determinism: exact integer bucket counts (the LENGTH(BIN())
    integer log2); weight is one fixed-order double chain of
    hardware-exact casts, UNROUNDED; clip bounds are frozen
    literals; NULL when the target domain is empty (§8.17).
    100 TB shape: ONE pruned corpus scan → map-side-combinable
    bucket grain (≤ 64 rows) → margins on the bounded grain."""
    d = load_table(spark, sf_dir, "documents")
    b = d.filter(F.col("n_chars") >= 1).select(
        (F.length(F.bin(F.col("n_chars").cast("long"))) - 1)
        .cast("long")
        .alias("bucket"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("tgt"),
    )
    c = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_src"),
        F.sum("tgt").cast("long").alias("n_tgt"),
    )
    wall = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    m = c.select(
        "bucket",
        "n_src",
        "n_tgt",
        F.sum("n_src").over(wall).cast("long").alias("tot_src"),
        F.sum("n_tgt").over(wall).cast("long").alias("tot_tgt"),
    )
    raw = (
        F.col("n_tgt").cast("double") / F.col("tot_tgt").cast("double")
    ) / (
        F.col("n_src").cast("double") / F.col("tot_src").cast("double")
    )
    return m.select(
        "bucket",
        "n_src",
        "n_tgt",
        F.when(F.col("tot_tgt") == 0, F.lit(None).cast("double"))
        .otherwise(raw)
        .alias("weight_raw"),
        F.when(F.col("tot_tgt") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.least(
                F.lit(_IW_CLIP_HI), F.greatest(F.lit(_IW_CLIP_LO), raw)
            )
        )
        .alias("weight_clipped"),
    )
