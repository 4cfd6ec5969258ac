"""§2.14 EXT analytics: IR/chunking, sessionization, graph, stats kernels, bootstrap.

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
from ..session import ensure_engine_confs, persist_bounded  # noqa: F401
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
# §2.14 Round-4 continuation (EXT): event analytics + IR / chunking
# ========================================================================

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@register(
    "q_sessionize",
    oracle=f"""
WITH t AS (
  SELECT user_id, event_id, EPOCH_US(ts) AS us, value FROM events
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
)
SELECT user_id, CAST(sess AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us,
       ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE), 6)
         AS sum_value
FROM s GROUP BY user_id, sess
""",
)
def q_sessionize(spark, sf_dir):
    """Batch sessionization: split each user's event stream into
    sessions at >30-min inactivity gaps — the canonical clickstream /
    telemetry prep step (the batch twin of q_stream_session's
    session_window).

    Physically: ONE shuffle on user_id feeds both windows (lag for the
    gap flag, running sum for the session ordinal — same partition key,
    Catalyst reuses the sort) and the final groupBy is
    partition-local (user_id, sess) so no second exchange is needed.
    Per-user windows, never a global one — skew ceiling is the busiest
    single user.  Epoch-µs integer math end-to-end (tz-proof,
    FIXTURES.md §5.4); the value sum is round-then-DECIMAL (§7)."""
    from pyspark.sql import Window as W

    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id", "event_id", epoch_us(ev_raw).alias("us"), "value"
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us", 1).over(w)
    flagged = ev.withColumn(
        "new_s",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "sess", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        (F.max("us") - F.min("us")).cast("bigint").alias("dur_us"),
        F.round(
            F.sum(F.round(F.col("value"), 6).cast("decimal(28,6)")).cast(
                "double"
            ),
            6,
        ).alias("sum_value"),
    ).select(
        "user_id",
        F.col("sess").cast("bigint").alias("session_id"),
        "n_events",
        "start_us",
        "end_us",
        "dur_us",
        "sum_value",
    )


@register(
    "q_time_weighted_avg",
    oracle="""
WITH t AS (
  SELECT user_id, event_id, EPOCH_US(ts) AS us, value FROM events
),
d AS (
  SELECT user_id, value,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
           AS dur
  FROM t
),
p AS (
  SELECT user_id,
         CAST(ROUND(value, 6) AS DECIMAL(20,6)) * CAST(dur AS DECIMAL(18,0))
           AS piece,
         dur
  FROM d WHERE dur IS NOT NULL AND dur > 0
)
SELECT user_id,
       COUNT(*) AS n_intervals,
       CAST(SUM(dur) AS BIGINT) AS total_us,
       ROUND(CAST(SUM(piece) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE), 6)
         AS twa_value
FROM p GROUP BY user_id
""",
)
def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average (the metrics/IoT 'average holding value'):
    each reading holds until the user's next event, so it weighs by its
    duration — a plain AVG over irregular samples is biased toward
    burst periods.

    Physically: one shuffle on user_id for the lead() window, then a
    partition-local groupBy on the same key.  Exactness: the weighted
    pieces are DECIMAL(18,6) value × DECIMAL µs-duration products —
    exact integer-scaled arithmetic, order-independent sums — and the
    ONLY float op is the final single division (FIXTURES.md §5.1)."""
    from pyspark.sql import Window as W

    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id", "event_id", epoch_us(ev_raw).alias("us"), "value"
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    d = ev.select(
        "user_id",
        "value",
        (F.lead("us", 1).over(w) - F.col("us")).alias("dur"),
    ).filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
    # DECIMAL(20,6) forces 128-bit storage on the DuckDB side: the
    # (value × µs-duration) product overflows int64 decimals (§5.3's
    # "keep the decimal-scaled sum below 2^53" applies to the PRODUCT
    # here), and 20+18 = 38 is the widest multiply both dialects allow.
    piece = F.round(F.col("value"), 6).cast("decimal(20,6)") * F.col(
        "dur"
    ).cast("decimal(18,0)")
    return (
        d.select("user_id", piece.alias("piece"), "dur")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur").cast("bigint").alias("total_us"),
            F.round(
                F.sum("piece").cast("double")
                / F.sum("dur").cast("double"),
                6,
            ).alias("twa_value"),
        )
    )


_CHUNK_SIZE = 256
_CHUNK_STRIDE = 192


@register(
    "q_chunk_documents",
    oracle=f"""
WITH t AS (SELECT doc_id, text, LEN(text) AS n FROM documents),
k AS (
  SELECT doc_id, n, text,
         UNNEST(GENERATE_SERIES(0,
           CASE WHEN n <= {_CHUNK_SIZE} THEN 0
                ELSE (n - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                     // {_CHUNK_STRIDE} END)) AS k
  FROM t
)
SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
       CAST(1 + k * {_CHUNK_STRIDE} AS BIGINT) AS start_pos,
       LEN(SUBSTR(text, CAST(1 + k * {_CHUNK_STRIDE} AS INT),
                  {_CHUNK_SIZE})) AS chunk_len,
       MD5(SUBSTR(text, CAST(1 + k * {_CHUNK_STRIDE} AS INT),
                  {_CHUNK_SIZE})) AS chunk_md5
FROM k
""",
)
def q_chunk_documents(spark, sf_dir):
    """Sliding-window document chunking (RAG / context-window prep):
    256-char chunks every 192 chars, so consecutive chunks overlap by
    64.  The step between raw corpus and any embedding or packing
    stage.

    Physically NARROW — sequence() + posexplode + substring are all
    JVM codegen expressions, zero shuffles, zero Python; output rows
    stay on the partition that read the document, so 100 TB chunks at
    scan speed.  Chunk count is exact integer math ((n-size+stride-1)
    div stride); chunks are emitted with their md5 so downstream dedup
    joins ship 16-byte digests, not text."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    n_extra = F.when(
        n <= _CHUNK_SIZE, F.lit(0)
    ).otherwise(
        F.floor((n - _CHUNK_SIZE + _CHUNK_STRIDE - 1) / _CHUNK_STRIDE)
    ).cast("int")
    chunks = d.select(
        "doc_id",
        "text",
        F.posexplode(F.sequence(F.lit(0), n_extra)).alias("pos", "k"),
    )
    start = (1 + F.col("k") * _CHUNK_STRIDE).cast("int")
    piece = F.substring(F.col("text"), start, _CHUNK_SIZE)
    return chunks.select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_id"),
        start.cast("bigint").alias("start_pos"),
        F.length(piece).alias("chunk_len"),
        F.md5(piece).alias("chunk_md5"),
    )


#: Fixed query-term set for the BM25 key — common fixture-vocabulary
#: words, so every sf has matches.
_BM25_TERMS = ("table", "spark", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_bm25",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
  FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avg_dl
  FROM dl
),
q AS (SELECT UNNEST(['table', 'spark', 'window']) AS w),
tf AS (
  SELECT t.doc_id, t.w, COUNT(*) AS tf
  FROM toks t JOIN q ON t.w = q.w GROUP BY t.doc_id, t.w
),
df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(
           LN((CAST(s.n_docs AS DOUBLE) - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * (tf.tf * ({_BM25_K1} + 1.0))
           / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
              + {_BM25_B} * (dl.dl / s.avg_dl))),
           9) AS DECIMAL(28,9)) AS term_score
  FROM tf
  JOIN df ON tf.w = df.w
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
)
SELECT doc_id, COUNT(*) AS n_terms_hit,
       ROUND(CAST(SUM(term_score) AS DOUBLE), 6) AS bm25
FROM scored GROUP BY doc_id
""",
)
def q_bm25(spark, sf_dir):
    """BM25 ranked retrieval (Robertson/Sparck-Jones; k1=1.2, b=0.75)
    for a fixed query term set — the classic lexical scorer behind
    search/contamination tooling.

    Physically (round-8 modernization; the original exploded the
    token stream TWICE — once for document lengths, once for query-term
    frequencies — then paid a doc-keyed shuffle join to reunite them):
    ONE corpus pass now computes dl AND the per-term tf columns as
    conditional aggregates of the same doc_id groupBy (the query set is
    a fixed literal, so tf pivots into named columns for free); the
    doc-grain wide table is persisted (4 ints per doc — far smaller
    than the token stream it replaces) and feeds both the scalar
    stats/df aggregate and the scoring pass, so nothing joins
    corpus-to-corpus and no second explode ever runs.  Determinism:
    each doc-term score is one fixed-order IEEE expression rounded to
    9 dp, then DECIMAL-added across the (fixed, named) term columns
    (FIXTURES.md §7)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(llmops.tokens_col("text")).alias("w")
    )
    wide = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("w") == t, 1)).alias(f"tf_{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    # doc-grain invariant read by two consumers (stats and scoring);
    # output is corpus-keyed, so the bounded cache pool owns the release
    wide = persist_bounded(wide)
    stats_df = wide.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avg_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n_docs").cast("double") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        denom = tf + _BM25_K1 * (
            1.0 - _BM25_B + _BM25_B * (F.col("dl") / F.col("avg_dl"))
        )
        score = F.round(idf * (tf * (_BM25_K1 + 1.0)) / denom, 9).cast(
            "decimal(28,9)"
        )
        return F.when(tf > 0, score).otherwise(
            F.lit(0).cast("decimal(28,9)")
        )

    hits = [
        (F.col(f"tf_{i}") > 0).cast("long")
        for i in range(len(_BM25_TERMS))
    ]
    total = term_score(0)
    n_hit = hits[0]
    for i in range(1, len(_BM25_TERMS)):
        total = total + term_score(i)
        n_hit = n_hit + hits[i]
    return (
        wide.crossJoin(F.broadcast(stats_df))
        .filter(
            sum(
                [F.col(f"tf_{i}") for i in range(len(_BM25_TERMS))],
                F.lit(0),
            )
            > 0
        )
        .select(
            "doc_id",
            n_hit.alias("n_terms_hit"),
            F.round(total.cast("double"), 6).alias("bm25"),
        )
    )


@register(
    "q_outlier_mad",
    oracle="""
WITH med AS (
  SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY event_type
),
a AS (
  SELECT e.event_type, e.value, m.med,
         ABS(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, MEDIAN(adev) AS mad FROM a GROUP BY event_type
)
SELECT a.event_type,
       COUNT(*) AS n,
       ROUND(MIN(a.med), 6) AS med,
       ROUND(MIN(d.mad), 6) AS mad,
       CAST(SUM(CASE WHEN a.adev > 3.0 * d.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM a JOIN mad d USING (event_type)
GROUP BY a.event_type
""",
)
def q_outlier_mad(spark, sf_dir):
    """Robust outlier detection via median absolute deviation — the
    standard robust alternative to q_anomaly_zscore (a single wild
    value shifts a mean/std badly but moves a median/MAD almost not at
    all).  Flags values with |v - median| > 3·MAD per event type.

    Physically: exact medians need a per-group sort, but each sort is
    per-EVENT-TYPE (bounded group count, never a global order-by); the
    two median tables are tiny and broadcast back onto the events scan
    — the corpus itself shuffles once per agg and never joins to
    itself.  At 100 TB you'd swap percentile→approx_percentile (same
    plan shape); exact is kept so the oracle hash-matches.
    Determinism: both engines interpolate the same sorted doubles with
    the same lower+(higher-lower)·frac formula; outputs round to 6 dp
    and the outlier test compares identical IEEE expressions."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    a = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = a.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad")
    )
    return (
        a.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3.0 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


#: Deterministic sparsifier for the co-purchase graph: keep an edge when
#: (a·31 + b) mod 97 < 12 — same integer arithmetic in both dialects.
_TRI_MOD, _TRI_KEEP = 97, 12
#: Bounded-probe threshold for the triangle driver fast path (tests
#: patch this to 0 to force the distributed branch).
_TRI_PROBE_LIMIT = 2_000_000


@register(
    "q_triangle_count",
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
),
edges AS (
  SELECT a, b FROM pairs
  WHERE (a * 31 + b) % {_TRI_MOD} < {_TRI_KEEP}
),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges
  ) GROUP BY v
),
tri AS (
  SELECT COUNT(*) AS n_tri
  FROM edges e1
  JOIN edges e2 ON e1.b = e2.a
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
),
w AS (SELECT COALESCE(SUM(d * (d - 1) / 2), 0) AS n_wedges FROM deg)
SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT n_tri FROM tri) AS n_triangles,
       ROUND(CASE WHEN (SELECT n_wedges FROM w) = 0 THEN 0.0
                  ELSE 3.0 * (SELECT n_tri FROM tri)
                       / (SELECT n_wedges FROM w) END, 9)
         AS clustering_coeff
""",
)
def q_triangle_count(spark, sf_dir):
    """Triangle counting on the co-purchase graph (parts sharing an
    order), plus the global clustering coefficient — the graph-shape
    statistic behind community/quality analysis of link graphs.

    Scale design — degree-ordered orientation (the MapReduce-era
    Cohen / Suri-Vassilvitskii trick): each undirected edge is
    directed from its lower-(degree, id) endpoint to the higher, so
    every wedge is generated at its LOWEST-degree apex; wedge count
    drops from Σd² to O(m·√m) on skewed graphs and each triangle is
    produced exactly once, no a<b<c triple-ordering scan needed.  Two
    self-equi-joins on oriented edges (shuffle on vertex id), degree
    table broadcast.  The deterministic mod-97 sparsifier bounds the
    fixture graph's density; all outputs are exact integers until the
    single final division (round 9).

    Driver fast path (pagerank's bounded-Arrow-probe design): when the
    sparsified DISTINCT edge list fits the probe, triangles count on
    the driver with the same degree-ordered orientation over python
    adjacency sets — integers end-to-end, so the result is IDENTICAL
    to the distributed loop (asserted by the unchanged oracle), while
    skipping ~8 shuffle stages of fixed overhead.  The distributed
    path below remains the 100 TB shape."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # pair generation per ORDER GROUP via rel.cooccurrence_pairs: the
    # common (bounded, ~7-element) basket expands with a narrow in-row
    # nested transform off one map-side-combined agg — no 2×-scan
    # shuffle join — while HOT baskets past the cap switch to the
    # blocked self-join so one 10⁵-item group can't materialize B²/2
    # structs inside a single task (VERDICT r4).  Sparsifier applies
    # before distinct (pure function of (a, b)).  The edge list feeds
    # FIVE downstream branches, so persist it (and deg); released
    # after the eager checkpoint (pagerank's persist discipline).
    edges_lazy = (
        rel.cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .filter((F.col("a") * 31 + F.col("b")) % _TRI_MOD < _TRI_KEEP)
        .distinct()
    )
    probe = edges_lazy.limit(_TRI_PROBE_LIMIT + 1).toPandas()  # Arrow
    if len(probe) <= _TRI_PROBE_LIMIT:
        from collections import defaultdict

        deg_cnt: dict = defaultdict(int)
        epairs = list(
            zip(probe["a"].astype(int).tolist(), probe["b"].astype(int).tolist())
        )
        for a, b in epairs:
            deg_cnt[a] += 1
            deg_cnt[b] += 1
        adj: dict = defaultdict(set)  # oriented low→high by (deg, id)
        for a, b in epairs:
            u, w = (
                (a, b)
                if (deg_cnt[a], a) < (deg_cnt[b], b)
                else (b, a)
            )
            adj[u].add(w)
        n_tri = 0
        empty: set = set()
        for outs in adj.values():
            for v1 in outs:
                # closing edge v1—v2 is oriented from the lower (deg, id);
                # .get, not [v1] — defaultdict indexing would insert
                # during iteration
                n_tri += len(outs & adj.get(v1, empty))
        n_edges = len(epairs)
        n_vertices = len(deg_cnt)
        n_wedges = sum(d * (d - 1) // 2 for d in deg_cnt.values())
        if n_wedges:
            # Spark's round() is BigDecimal HALF_UP over the shortest
            # decimal repr; python round() is half-even — replicate
            # Spark exactly so both paths stay bit-identical
            import decimal

            coeff = float(
                decimal.Decimal(repr(3.0 * n_tri / n_wedges)).quantize(
                    decimal.Decimal("1e-9"),
                    rounding=decimal.ROUND_HALF_UP,
                )
            )
        else:
            coeff = 0.0
        return spark.createDataFrame(
            [(n_vertices, n_edges, n_tri, coeff)],
            "n_vertices bigint, n_edges bigint, n_triangles bigint, "
            "clustering_coeff double",
        )
    edges = edges_lazy.persist()
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist()
    )
    # orient each edge low→high by (degree, id); triangles survive as
    # exactly one (u→v, u→w, v→w) oriented triple
    e = (
        edges.join(
            F.broadcast(deg).withColumnRenamed("v", "a").withColumnRenamed(
                "d", "da"
            ),
            "a",
        )
        .join(
            F.broadcast(deg).withColumnRenamed("v", "b").withColumnRenamed(
                "d", "db"
            ),
            "b",
        )
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("w"))
            )
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    # each unordered wedge at its apex exactly once (v1 < v2 by id);
    # the triangle's two-out-edge apex is unique, so no /2 correction
    w1 = e.select(F.col("u"), F.col("w").alias("v1"))
    w2 = e.select(F.col("u"), F.col("w").alias("v2"))
    wedges = w1.join(w2, "u").filter(F.col("v1") < F.col("v2"))
    # closing edge may be oriented either way between v1 and v2
    closing = e.select(
        F.least("u", "w").alias("lo"), F.greatest("u", "w").alias("hi")
    )
    tri = (
        wedges.select(
            F.col("v1").alias("lo"), F.col("v2").alias("hi")
        )
        .join(closing, ["lo", "hi"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    # COALESCE to 0 on the empty graph: SUM over no rows is NULL, which
    # would diverge from the driver fast path's integer 0 (and from the
    # oracle's identical COALESCE)
    n_wedges_open = deg.agg(
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias("n_wedges")
    )
    counts = deg.agg(F.count(F.lit(1)).alias("n_vertices")).crossJoin(
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
    )
    result = (
        counts.crossJoin(tri)
        .crossJoin(n_wedges_open)
        .select(
            "n_vertices",
            "n_edges",
            F.col("n_tri").alias("n_triangles"),
            F.round(
                F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
                    3.0 * F.col("n_tri") / F.col("n_wedges")
                ),
                9,
            ).alias("clustering_coeff"),
        )
    )
    out = result.localCheckpoint(eager=True)  # single-row
    edges.unpersist()
    deg.unpersist()
    return out


@register("q_pca", oracle=_golden_oracle("q_pca"))
def q_pca(spark, sf_dir):
    """PCA of the embedding corpus: distributed sufficient-statistics
    covariance (llmops.pca_moments — round-then-DECIMAL sums, the d²
    blow-up generated per ROW and streamed, two corpus passes, nothing
    collected beyond the d×d matrix) → deterministic driver Jacobi
    eigensolve (stats.jacobi_eigh — scalar cyclic rotations; LAPACK is
    hardware-dependent per FIXTURES.md §6) → per-row in-order fold
    projection onto the top-2 components.  The dimensionality-
    reduction step ahead of visualization / clustering / whitening in
    an embedding pipeline.  Golden oracle; certified vs an independent
    numpy eigh at generation (sign-aligned, plus the variance-along-pc
    = eigenvalue identity)."""
    from .. import stats as st

    emb = load_table(spark, sf_dir, "embeddings")
    mean, cov, n = llmops.pca_moments(emb)
    if n == 0:
        return spark.createDataFrame(
            [], "vec_id long, label int, pc1 double, pc2 double"
        )
    _eigvals, eigvecs = st.jacobi_eigh(cov)
    proj = llmops.pca_project(emb, mean, eigvecs[:2])
    return proj.select(
        "vec_id",
        "label",
        F.round("pc1", 6).alias("pc1"),
        F.round("pc2", 6).alias("pc2"),
    )


@register(
    "q_entropy",
    oracle="""
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w
  FROM documents
),
wc AS (
  SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w
),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct,
         SUM(CAST(ROUND(c * LN(CAST(c AS DOUBLE)), 9) AS DECIMAL(28,9)))
           AS s
  FROM wc GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       ROUND(LN(CAST(n_tokens AS DOUBLE))
             - CAST(s AS DOUBLE) / n_tokens, 6) AS entropy,
       ROUND(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS ttr
FROM agg
""",
)
def q_entropy(spark, sf_dir):
    """Token-level Shannon entropy + type-token ratio per document —
    the lexical-diversity quality signals (low entropy = boilerplate /
    keyword stuffing; complements q_repetition_filter's n-gram view
    and q_lm_score's fluency view in a curation stack).

    H = ln(n) − (Σ c·ln c)/n from per-(doc, word) counts: one narrow
    tokenize + one groupBy — the count table is the inverted-index
    shape, corpus text never re-shuffles.  Determinism: c·ln c is
    rounded to 9 dp and DECIMAL-summed (order-free, FIXTURES.md §7);
    ln(n) and the division are single fixed-order IEEE ops."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(llmops.tokens_col("text")).alias("w")
    )
    wc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.round(
                    F.col("c") * F.log(F.col("c").cast("double")), 9
                ).cast("decimal(28,9)")
            ).alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(
                F.log(F.col("n_tokens").cast("double"))
                - F.col("s").cast("double") / F.col("n_tokens"),
                6,
            ).alias("entropy"),
            F.round(
                F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
            ).alias("ttr"),
        )
    )


_HH_PHI = 0.02  # support threshold: count > phi·n


@register(
    "q_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT UNNEST(STRING_SPLIT(LOWER(TRIM(text)), ' ')) AS w FROM documents
),
n AS (SELECT COUNT(*) AS n FROM toks),
c AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w)
SELECT c.w, c.cnt,
       ROUND(CAST(c.cnt AS DOUBLE) / n.n, 9) AS freq
FROM c CROSS JOIN n
WHERE c.cnt > {_HH_PHI} * n.n
""",
)
def q_heavy_hitters(spark, sf_dir):
    """EXACT heavy hitters (tokens with frequency > 2%) by the
    standard two-pass scale algorithm: a two-level Misra-Gries
    candidate sweep (llmops.heavy_hitter_candidates), then exact
    counting of the candidates only.

    The candidate set reaching the driver is provably ≤ k = 2/φ rows
    even on adversarially topic-clustered corpora — level 2 applies
    the MG decrement GLOBALLY over the per-batch summaries before any
    collect (the r4 VERDICT's unbounded-candidate-union fix) — and is
    still a guaranteed superset of the φ-hitters (undercount ≤
    2n/(k+1) < gap to the φn bar; see the helper's proof).  Pass 2:
    broadcast the ≤ k candidates, filter the token stream, exact
    groupBy count, keep count > φ·n.  The point at 100 TB: the full
    groupBy over the unbounded long-tail vocabulary never happens —
    only candidate tokens shuffle — and the driver never materializes
    more than k words.  The final answer is exact and
    sketch-independent (the sketch only prunes), so the output is
    deterministic under any partition/batch layout."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(llmops.tokens_col("text")).alias("w"))
    k = int(2.0 / _HH_PHI)

    cand, n_total = llmops.heavy_hitter_candidates(toks, k)
    cand_df = spark.createDataFrame([(w,) for w in cand], "w string")
    exact = (
        toks.join(F.broadcast(cand_df), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > _HH_PHI * n_total)
    )
    return exact.select(
        "w",
        "cnt",
        F.round(F.col("cnt").cast("double") / n_total, 9).alias("freq"),
    )


@register(
    "q_gaps_islands",
    oracle="""
WITH t AS (
  SELECT user_id, event_id,
         event_id - ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY event_id
         ) AS grp
  FROM events
)
SELECT user_id, MIN(event_id) AS start_id, MAX(event_id) AS end_id,
       COUNT(*) AS island_len
FROM t GROUP BY user_id, grp
""",
)
def q_gaps_islands(spark, sf_dir):
    """Gaps-and-islands: maximal runs of CONSECUTIVE event_ids per
    user (the classic sequence-completeness / missing-data audit —
    same pattern finds gaps in ingest offsets or date coverage).
    The id-minus-row_number trick: within a user, consecutive ids
    share (event_id − row_number), so islands fall out of one groupBy.

    One shuffle on user_id for the window; the groupBy on
    (user_id, grp) is partition-local.  Integer-only — bit-exact."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    w = W.partitionBy("user_id").orderBy("event_id")
    t = ev.withColumn(
        "grp", F.col("event_id") - F.row_number().over(w)
    )
    return t.groupBy("user_id", "grp").agg(
        F.min("event_id").alias("start_id"),
        F.max("event_id").alias("end_id"),
        F.count(F.lit(1)).alias("island_len"),
    ).drop("grp")


@register(
    "q_skyline",
    oracle="""
WITH pts AS (
  SELECT o_totalprice AS x, EPOCH_US(o_orderdate) AS y FROM orders
),
gx AS (SELECT x, MAX(y) AS ymax FROM pts GROUP BY x),
cnt AS (SELECT x, y, COUNT(*) AS n FROM pts GROUP BY x, y),
m AS (
  SELECT x, ymax,
         MAX(ymax) OVER (ORDER BY x DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS prevmax
  FROM gx
)
SELECT m.x AS price, m.ymax AS odate_us, c.n AS n_orders
FROM m JOIN cnt c ON c.x = m.x AND c.y = m.ymax
WHERE m.prevmax IS NULL OR m.ymax > m.prevmax
""",
)
def q_skyline(spark, sf_dir):
    """2-D skyline (Pareto frontier): orders not dominated on
    (price↑, recency↑) — another order with ≥ both and > one knocks a
    point out.  The multi-criteria shortlist operator (build-vs-buy
    frontiers, best-price-freshest-data tradeoffs).

    Scale shape — the sort-sweep algorithm, distributed: group by x
    (bounded by distinct prices), then ONE exclusive running max over
    x-descending via windows.scalable_cummax_exclusive (two-phase:
    range repartition + per-partition window + broadcast prefix
    offsets — never a single-task global window); a point survives
    iff its y beats every strictly-better-x group's max.  The
    all-pairs dominance join (O(n²)) never happens.  Integer epoch-µs
    y, raw parquet-double x — exact compares, no float derivation."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_totalprice").alias("x"),
        epoch_us(o, "o_orderdate").alias("y"),
    )
    gx = pts.groupBy("x").agg(F.max("y").alias("ymax"))
    # Distinct column names on the count side: both branches descend
    # from pts, and joining on cross-Dataset attribute refs trips
    # Spark's ambiguous-self-join detection when the keep side's plan
    # shape shifts inside scalable_cummax_exclusive (observed with a
    # lineage-truncating variant at review; name-based refs are robust
    # to any internal form).
    cnt = pts.groupBy(
        F.col("x").alias("cx"), F.col("y").alias("cy")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = win.scalable_cummax_exclusive(
        gx, "x", "ymax", "prevmax", descending=True
    )
    keep = m.filter(
        F.col("prevmax").isNull() | (F.col("ymax") > F.col("prevmax"))
    )
    return (
        keep.join(
            cnt,
            (F.col("x") == F.col("cx")) & (F.col("ymax") == F.col("cy")),
        )
        .select(
            F.col("x").alias("price"),
            F.col("ymax").alias("odate_us"),
            F.col("n").alias("n_orders"),
        )
    )


_PMI_MIN_COUNT = 5
_PMI_TOPK = 50


@register(
    "q_pmi_bigrams",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM documents
),
bi AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1), i -> t[i]))
           AS w1,
         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1), i -> t[i+1]))
           AS w2
  FROM toks
),
n AS (SELECT COUNT(*) AS n FROM bi),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
c2 AS (SELECT w2, COUNT(*) AS c2 FROM bi GROUP BY w2),
scored AS (
  SELECT p.w1, p.w2, p.c12,
         ROUND(LN(CAST(p.c12 AS DOUBLE) * n.n
                  / (CAST(a.c1 AS DOUBLE) * b.c2)), 6) AS pmi
  FROM c12 p
  JOIN c1 a ON p.w1 = a.w1
  JOIN c2 b ON p.w2 = b.w2
  CROSS JOIN n
  WHERE p.c12 >= {_PMI_MIN_COUNT}
)
SELECT w1, w2, c12, pmi
FROM scored
ORDER BY pmi DESC, w1, w2
LIMIT {_PMI_TOPK}
""",
)
def q_pmi_bigrams(spark, sf_dir):
    """Collocation mining: top-50 bigrams by pointwise mutual
    information (PMI = ln(c12·N / c1·c2), min count 5) — the classic
    phrase detector (word2vec's phrase pass, quality-signal n-grams).

    ONE full-data pass (round-8 modernization; the original ran the
    scan + explode FOUR times — n, pair counts and both marginals
    were separate lineage branches of the unpersisted bigram stream —
    and built bigrams with a per-doc lead() window, paying a doc_id
    shuffle before the counts): consecutive pairs now come from an
    array-side slice/zip (no window, no pre-shuffle), the ONLY
    corpus-size shuffle is the (w1, w2) groupBy, and N plus both
    marginals derive from the PERSISTED bigram-count table (bounded
    by the co-occurring vocabulary, the q_js_divergence branch-DAG
    discipline — c1 = Σ_w2 c12 exactly, since the marginals count the
    same unfiltered stream).  Global top-k plans as
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Rank is on the ROUNDED pmi with (w1, w2) tie-breakers
    (FIXTURES.md §5.5); the pre-round expression is one fixed-order
    IEEE chain, identical in both dialects."""
    out, _ = pmi_bigrams_lazy(spark, sf_dir)
    return out


def pmi_bigrams_lazy(spark, sf_dir):
    """Lazy dataflow for q_pmi_bigrams: returns (out, [pc]) with the
    bigram-count table persisted in the bounded cache pool, no
    checkpoint — the plan gate reads the executed plan off `out`
    (pagerank_lazy / open_order_backlog_lazy split).  The pool releases
    the vocabulary-bounded table, which is cheaper than an eager
    checkpoint: that pays a full construction-time job (measured 1.85×
    vs 1.4× at sf0.1)."""
    d = load_table(spark, sf_dir, "documents")
    arr = F.split(llmops.norm_text("text"), " ")
    pairs = d.select(
        F.explode(
            F.arrays_zip(
                F.slice(arr, 1, F.size(arr) - 1).alias("w1"),
                F.slice(arr, 2, F.size(arr) - 1).alias("w2"),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    pc = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c12")
    )
    pc = persist_bounded(pc)
    n_df = pc.agg(F.sum("c12").alias("n"))
    c12 = pc.filter(F.col("c12") >= _PMI_MIN_COUNT)
    c1 = pc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = pc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    scored = (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n_df))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    F.col("c12").cast("double")
                    * F.col("n")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    out = scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(
        _PMI_TOPK
    )
    return out, [pc]


@register(
    "q_interval_coalesce",
    oracle="""
WITH iv AS (
  SELECT l_suppkey,
         CAST(EPOCH_US(l_shipdate) / 86400000000 AS BIGINT) AS lo,
         CAST(EPOCH_US(l_shipdate) / 86400000000 AS BIGINT)
           + 3 + l_orderkey % 11 AS hi
  FROM lineitem WHERE l_suppkey % 13 = 0
),
m AS (
  SELECT *,
         MAX(hi) OVER (PARTITION BY l_suppkey ORDER BY lo, hi
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS prev_maxhi
  FROM iv
),
g AS (
  SELECT *,
         SUM(CASE WHEN prev_maxhi IS NULL OR lo > prev_maxhi
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_suppkey ORDER BY lo, hi
                 ROWS UNBOUNDED PRECEDING) AS grp
  FROM m
)
SELECT l_suppkey, CAST(grp AS BIGINT) AS grp,
       MIN(lo) AS start_day, MAX(hi) AS end_day,
       COUNT(*) AS n_intervals,
       CAST(MAX(hi) - MIN(lo) AS BIGINT) AS span_days
FROM g GROUP BY l_suppkey, grp
""",
)
def q_interval_coalesce(spark, sf_dir):
    """Coalesce overlapping/touching intervals per key (supplier ship
    windows on the day grid) — the region-merge primitive (bedtools
    merge / significant-loci consolidation downstream of
    q_hic_significance; q_join_interval_overlap's write-side twin).

    Sweep-line as windows: per-key sort by lo, exclusive running
    MAX(hi) — an interval starts a new merged run iff its lo clears
    everything seen before (strictly; touching merges) — then a
    running-sum ordinal and one partition-local groupBy.  ONE shuffle
    on the key; the per-key window never crosses keys, so skew ceiling
    is the busiest key.  Integer day arithmetic end-to-end."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    day = (epoch_us(li, "l_shipdate") / F.lit(86_400_000_000)).cast("long")
    iv = li.filter(F.col("l_suppkey") % 13 == 0).select(
        "l_suppkey",
        day.alias("lo"),
        (day + 3 + F.col("l_orderkey") % 11).alias("hi"),
    )
    w = W.partitionBy("l_suppkey").orderBy("lo", "hi")
    m = iv.withColumn(
        "prev_maxhi", F.max("hi").over(w.rowsBetween(W.unboundedPreceding, -1))
    )
    g = m.withColumn(
        "grp",
        F.sum(
            F.when(
                F.col("prev_maxhi").isNull()
                | (F.col("lo") > F.col("prev_maxhi")),
                1,
            ).otherwise(0)
        ).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    return g.groupBy("l_suppkey", "grp").agg(
        F.min("lo").alias("start_day"),
        F.max("hi").alias("end_day"),
        F.count(F.lit(1)).alias("n_intervals"),
        (F.max("hi") - F.min("lo")).cast("bigint").alias("span_days"),
    ).select(
        "l_suppkey",
        F.col("grp").cast("bigint").alias("grp"),
        "start_day",
        "end_day",
        "n_intervals",
        "span_days",
    )


_ATTR_WINDOW_US = 7 * 86_400_000_000  # 7-day attribution window


@register(
    "q_attribution",
    oracle=f"""
WITH t AS (
  SELECT user_id, event_id, event_type, EPOCH_US(ts) AS us, value
  FROM events
),
m AS (
  SELECT *,
         MAX(CASE WHEN event_type = 'click'
                  THEN us ELSE NULL END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_us
  FROM t
)
SELECT user_id, event_id AS purchase_id, us AS purchase_us,
       CASE WHEN last_click_us IS NOT NULL
              AND us - last_click_us <= {_ATTR_WINDOW_US}
            THEN last_click_us ELSE NULL END AS attributed_click_us,
       CASE WHEN last_click_us IS NOT NULL
              AND us - last_click_us <= {_ATTR_WINDOW_US}
            THEN 'click' ELSE 'organic' END AS channel,
       ROUND(value, 6) AS purchase_value
FROM m WHERE event_type = 'purchase'
""",
)
def q_attribution(spark, sf_dir):
    """Last-touch attribution: each purchase credits the user's most
    recent click within a 7-day lookback, else counts as organic — the
    marketing/causal-credit assignment every events warehouse runs.

    The conditional carry-forward shape: a per-user running
    MAX(CASE WHEN click THEN ts) over strictly-preceding rows gives
    the last click before each event — one window, no self-join
    against the click subset (the naive as-of join re-shuffles the
    event table against itself; this reads it once).  ONE shuffle on
    user_id; epoch-µs integer math (FIXTURES §5.4)."""
    from pyspark.sql import Window as W

    ev_raw = load_table(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id",
        "event_id",
        "event_type",
        epoch_us(ev_raw).alias("us"),
        "value",
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("us"))
    ).over(w)
    m = ev.withColumn("last_click_us", last_click).filter(
        F.col("event_type") == "purchase"
    )
    in_window = F.col("last_click_us").isNotNull() & (
        F.col("us") - F.col("last_click_us") <= _ATTR_WINDOW_US
    )
    return m.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("us").alias("purchase_us"),
        F.when(in_window, F.col("last_click_us")).alias(
            "attributed_click_us"
        ),
        F.when(in_window, F.lit("click"))
        .otherwise("organic")
        .alias("channel"),
        F.round("value", 6).alias("purchase_value"),
    )


@register(
    "q_rfm",
    oracle="""
WITH t AS (
  SELECT user_id, event_type, EPOCH_US(ts) AS us, value FROM events
),
anchor AS (SELECT MAX(us) AS now_us FROM t),
rfm AS (
  SELECT user_id,
         CAST((a.now_us - MAX(CASE WHEN event_type = 'purchase'
                                   THEN us END)) // 86400000000 AS BIGINT)
           AS recency_days,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS frequency,
         ROUND(CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(ROUND(value, 6) AS DECIMAL(28,6))
                        ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE), 6)
           AS monetary
  FROM t CROSS JOIN anchor a
  GROUP BY user_id, a.now_us
  HAVING SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
)
SELECT user_id, recency_days, frequency, monetary,
       NTILE(4) OVER (ORDER BY recency_days ASC, user_id) AS r_score,
       NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_score,
       NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_score
FROM rfm
""",
)
def q_rfm(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary quartiles per
    purchasing user) — the classic customer-value scoring every events
    warehouse ships.  Anchor 'now' is the corpus max timestamp
    (data-derived, deterministic — no wall clock, FIXTURES §4).

    One aggregation over events collapses to per-USER rows before any
    window — the ntile quartiles run over the user dimension, not the
    event stream (the same post-aggregation-cardinality rule the Hi-C
    bin tables follow).  Monetary uses round-then-DECIMAL sums; ntile
    ties break on user_id in both dialects.  The user grain is small
    relative to events but NOT bounded: at 100 TB the three global
    ntile sorts swap to windows.scalable_rank-derived quartiles
    (rank·4 div n — q_gains_table's documented two-phase swap),
    one rank pass per score dimension."""
    from pyspark.sql import Window as W

    ev_raw = load_table(spark, sf_dir, "events")
    t = ev_raw.select(
        "user_id", "event_type", epoch_us(ev_raw).alias("us"), "value"
    )
    anchor = t.agg(F.max("us").alias("now_us"))
    is_p = F.col("event_type") == "purchase"
    rfm = (
        t.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "now_us")
        .agg(
            F.max(F.when(is_p, F.col("us"))).alias("last_p"),
            F.sum(F.when(is_p, 1).otherwise(0)).cast("bigint").alias(
                "frequency"
            ),
            F.round(
                F.sum(
                    F.when(
                        is_p,
                        F.round(F.col("value"), 6).cast("decimal(28,6)"),
                    ).otherwise(F.lit(0).cast("decimal(28,6)"))
                ).cast("double"),
                6,
            ).alias("monetary"),
        )
        .filter(F.col("frequency") > 0)
        .select(
            "user_id",
            F.floor(
                (F.col("now_us") - F.col("last_p")) / F.lit(86_400_000_000)
            )
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    return rfm.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(W.orderBy(F.asc("recency_days"), F.asc("user_id")))
        .alias("r_score"),
        F.ntile(4)
        .over(W.orderBy(F.desc("frequency"), F.asc("user_id")))
        .alias("f_score"),
        F.ntile(4)
        .over(W.orderBy(F.desc("monetary"), F.asc("user_id")))
        .alias("m_score"),
    )


_BFS_MAX_DEPTH = 6


@register(
    "q_graph_bfs",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
),
edges AS (
  SELECT a, b FROM pairs
  WHERE (a * 31 + b) % {_TRI_MOD} < {_TRI_KEEP}
),
sym AS (
  SELECT a AS u, b AS v FROM edges
  UNION ALL SELECT b AS u, a AS v FROM edges
),
src AS (SELECT MIN(a) AS s FROM edges),
walk(v, d) AS (
  SELECT s, 0 FROM src WHERE s IS NOT NULL
  UNION
  SELECT sym.v, walk.d + 1
  FROM walk JOIN sym ON sym.u = walk.v
  WHERE walk.d < {_BFS_MAX_DEPTH}
),
dist AS (SELECT v, MIN(d) AS d FROM walk GROUP BY v)
SELECT d AS dist, COUNT(*) AS n_nodes FROM dist GROUP BY d
""",
)
def q_graph_bfs(spark, sf_dir):
    """BFS level sizes from the minimum-id vertex of the (sparsified)
    co-purchase graph — the reachability / neighborhood-growth
    primitive (fraud rings, lineage radius, k-hop feature counts).

    The oracle is a recursive CTE (DuckDB WITH RECURSIVE + UNION
    dedup); Spark has no recursive SQL, so the engine shape is the
    ITERATIVE FRONTIER loop: per level, join the frontier to the
    symmetrized adjacency, anti-join everything already visited,
    localCheckpoint the (bounded, node-sized) state to cut lineage.
    Each iteration shuffles only frontier-sized data.  Driver fast
    path (pagerank/triangle's bounded-Arrow-probe design) runs the
    same BFS over python adjacency sets — identical integer output.
    Depth capped at {_BFS_MAX_DEPTH}."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # hot-basket-safe pair generation (see q_triangle_count)
    edges_lazy = (
        rel.cooccurrence_pairs(li, "l_orderkey", "l_partkey")
        .filter((F.col("a") * 31 + F.col("b")) % _TRI_MOD < _TRI_KEEP)
        .distinct()
    )
    probe = edges_lazy.limit(_TRI_PROBE_LIMIT + 1).toPandas()
    if len(probe) <= _TRI_PROBE_LIMIT:
        from collections import defaultdict, deque

        adj: dict = defaultdict(set)
        src = None
        for a, b in zip(
            probe["a"].astype(int).tolist(), probe["b"].astype(int).tolist()
        ):
            adj[a].add(b)
            adj[b].add(a)
            src = a if src is None else min(src, a)
        levels: dict = {}
        if src is not None:
            dist = {src: 0}
            q = deque([src])
            while q:
                u = q.popleft()
                if dist[u] >= _BFS_MAX_DEPTH:
                    continue
                for w in adj[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        q.append(w)
            for d in dist.values():
                levels[d] = levels.get(d, 0) + 1
        return spark.createDataFrame(
            sorted(levels.items()), "dist bigint, n_nodes bigint"
        )
    # distributed frontier loop (the 100 TB path)
    edges = edges_lazy.persist()
    sym = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .persist()
    )
    src_row = edges.agg(F.min("a").alias("s")).first()
    if src_row["s"] is None:  # empty graph → empty histogram (== oracle)
        edges.unpersist()
        return spark.createDataFrame([], "dist bigint, n_nodes bigint")
    visited = spark.createDataFrame(
        [(int(src_row["s"]), 0)], "v long, dist long"
    ).localCheckpoint(eager=True)
    frontier = visited
    for depth in range(1, _BFS_MAX_DEPTH + 1):
        nxt = (
            frontier.join(sym, frontier.v == sym.u)
            .select(sym.v.alias("v"))
            .distinct()
            .join(visited.select("v"), "v", "left_anti")
            .withColumn("dist", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    out = (
        visited.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .select(F.col("dist").cast("bigint"), "n_nodes")
        .localCheckpoint(eager=True)
    )
    edges.unpersist()
    sym.unpersist()
    return out


_BOOT_B = 32  # bootstrap replicates
#: Poisson(1) CDF thresholds on h mod 1000 → replicate weight 0..4
_BOOT_T = (368, 736, 920, 981)


@register(
    "q_bootstrap_ci",
    oracle=f"""
WITH rows_b AS (
  SELECT l_extendedprice AS price,
         (l_orderkey * 8 + l_linenumber) * 64 + b.b AS pairkey,
         b.b AS b
  FROM lineitem CROSS JOIN (
    SELECT UNNEST(GENERATE_SERIES(0, {_BOOT_B - 1})) AS b
  ) b
),
mix AS (
  -- avalanche finalizer (xor-shift + odd-multiply, 32-bit lanes): the
  -- bare multiplicative hash is LINEAR in the replicate index, which
  -- correlates replicate weights (lattice shifts) and miscalibrates
  -- the CI; two xor/multiply rounds bring cross-replicate weight
  -- correlation from |rho|~0.2 to ~0.002 (measured)
  SELECT b, price,
         xor(x4, x4 >> 16) % 1000 AS h
  FROM (
    SELECT *, (x3 * 73244475) % 4294967296 AS x4 FROM (
      SELECT *, xor(x2, x2 >> 16) AS x3 FROM (
        SELECT *, (x1 * 73244475) % 4294967296 AS x2 FROM (
          SELECT *, xor(x0, x0 >> 16) AS x1 FROM (
            SELECT *, ((pairkey % 2654435761) * 2654435761)
                      % 4294967296 AS x0
            FROM rows_b
  ) ) ) ) )
),
w AS (
  SELECT b, price,
         CASE
           WHEN h < {_BOOT_T[0]} THEN 0
           WHEN h < {_BOOT_T[1]} THEN 1
           WHEN h < {_BOOT_T[2]} THEN 2
           WHEN h < {_BOOT_T[3]} THEN 3
           ELSE 4 END AS w
  FROM mix
),
reps AS (
  SELECT b,
         CAST(SUM(w) AS BIGINT) AS n_eff,
         ROUND(CAST(SUM(w * CAST(ROUND(price, 2) AS DECIMAL(18,2)))
                    AS DOUBLE)
               / SUM(w), 9) AS boot_mean
  FROM w GROUP BY b
),
point AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice, 2)
                             AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) AS point_mean
  FROM lineitem
)
SELECT (SELECT COUNT(*) FROM reps) AS n_replicates,
       (SELECT point_mean FROM point) AS point_mean,
       ROUND((SELECT QUANTILE_CONT(boot_mean, 0.025) FROM reps), 6)
         AS ci_lo,
       ROUND((SELECT QUANTILE_CONT(boot_mean, 0.975) FROM reps), 6)
         AS ci_hi
""",
)
def q_bootstrap_ci(spark, sf_dir):
    """Bootstrap confidence interval for the mean price — via the
    POISSON BOOTSTRAP (Chamandy et al.), the standard distributed
    form: instead of resampling n rows with replacement (which needs
    global coordination), each row independently receives a
    Poisson(1) replicate weight, here derived DETERMINISTICALLY from
    hashing (row, replicate) against the Poisson CDF thresholds — so
    the 'randomness' is reproducible and both engines replay it
    bit-for-bit.  The hash is the shared knuth fold FINISHED with an
    avalanching xor-shift/odd-multiply mixer: the bare multiplicative
    hash is linear in the replicate index, which lattice-correlates
    replicate weights (measured |rho| up to 0.58) and miscalibrates
    the CI; with the mixer, cross-replicate weight correlation is
    ~0.002 and replicate-mean correlations sit at the noise floor.

    SINGLE corpus pass, no explode: an Arrow sufficient-stats kernel
    (the pca_moments discipline) computes all B replicate partials —
    plus the point-estimate totals — per batch with exact integer
    cents and the vectorized hash; the ×B row blow-up of the textbook
    formulation never materializes (it ran ~10× slower, and a
    64-expression JVM aggregate still ~4× — codegen budget).  One
    groupBy over B+1 keys, then the percentile CI over B rows.  B and
    the thresholds are the at-scale knobs; nothing else changes at
    100 TB."""
    import pandas as pd

    from ..llmops import _KNUTH, _KNUTH_MOD

    li = load_table(spark, sf_dir, "lineitem").select(
        (
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 64
        ).alias("keybase"),
        "l_extendedprice",
    )
    B, T = _BOOT_B, _BOOT_T
    KN, KM = _KNUTH, _KNUTH_MOD  # single source of truth (llmops)

    def boot_partials(batches):
        # per-batch exact integer partials (2-dp prices: ×100 is
        # lossless), summed order-free downstream; arithmetic is
        # IDENTICAL to the SQL oracle's mix CTE
        import numpy as np

        thresholds = np.array(T, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            kb = pdf["keybase"].to_numpy(np.int64)
            kbm = kb % KN  # hoisted: (kb + rb) % KN == (kbm + rb) % KN
            cents = np.rint(
                pdf["l_extendedprice"].to_numpy(np.float64) * 100
            ).astype(np.int64)
            total_s = int(cents.sum())
            total_n = len(cents)
            s = np.empty(B, dtype=np.int64)
            n = np.empty(B, dtype=np.int64)
            for rb in range(B):
                x = ((kbm + rb) % KN) * KN % KM
                x ^= x >> 16
                x = (x * 73244475) % KM
                x ^= x >> 16
                x = (x * 73244475) % KM
                x ^= x >> 16
                w = np.searchsorted(thresholds, x % 1000, side="right")
                s[rb] = int((w * cents).sum())
                n[rb] = int(w.sum())
            yield pd.DataFrame(
                {
                    "b": list(range(B)) + [-1],  # -1 = point totals
                    "s": list(s) + [total_s],
                    "n": list(n) + [total_n],
                }
            )

    stats = (
        li.mapInPandas(boot_partials, schema="b int, s long, n long")
        .groupBy("b")
        .agg(
            F.sum("s").alias("s"),
            F.sum("n").cast("bigint").alias("n_eff"),
        )
        .persist()
    )
    reps = stats.filter(F.col("b") >= 0).select(
        "b",
        "n_eff",
        F.round(
            (F.col("s").cast("decimal(28,0)") / 100).cast("double")
            / F.col("n_eff"),
            9,
        ).alias("boot_mean"),
    )
    point = stats.filter(F.col("b") < 0).select(
        F.round(
            (F.col("s").cast("decimal(28,0)") / 100).cast("double")
            / F.col("n_eff"),
            6,
        ).alias("point_mean")
    )
    summary = reps.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.expr("percentile(boot_mean, 0.025D)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(boot_mean, 0.975D)"), 6).alias("ci_hi"),
    )
    out = (
        summary.crossJoin(F.broadcast(point))
        .select("n_replicates", "point_mean", "ci_lo", "ci_hi")
        .localCheckpoint(eager=True)  # single row; lets stats release
    )
    stats.unpersist()
    return out


#: The driver walks the registry in insertion order and evaluates at
#: most 50 entries per round, so this list is rotated each round to put
#: the least-recently-verified keys first.  Round-4 continuation: the
#: 16 brand-new §2.14 keys lead (none has a driver row yet), then the
#: keys whose code changed earlier in round 4, then the 13 keys whose
#: newest CORRECTNESS row still dates from round 1, then the round-3
#: backlog in last-verified order.
