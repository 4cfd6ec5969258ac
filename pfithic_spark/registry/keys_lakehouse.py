"""§2.13 lakehouse/CDC keys: bucketed/bloom joins, SCD2, merge/upsert, snapshot diff, quantization.

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
# §2.13 round-4 additions: bucketed join, SCD2, embedding quantization
# ========================================================================


@register(
    "q_join_bucketed",
    oracle="""
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
         AS sum_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_join_bucketed(spark, sf_dir):
    """Bucketed co-located join: both sides are written CLUSTERED BY
    the join key into the SAME bucket count, so the join needs NO
    Exchange on either side (plan-gated in tests/test_plans.py) — the
    100 TB pattern for a fact repeatedly joined on a stable key: pay
    the bucketing shuffle once at ingest, never again.  DECIMAL sums
    make the post-join aggregate order-independent, so the oracle (the
    PLAIN join — bucketing is a pure physical rewrite) hash-matches."""
    import hashlib
    import tempfile

    from ..io import write_bucketed_table

    # tag by (sf_dir, applicationId): the catalog entry is session-
    # scoped but the files are not — a second concurrent session
    # sharing a plain sf_dir-keyed path could overwrite the directory
    # mid-query.  Per-session paths make reuse exactly as wide as the
    # catalog entry's validity.
    tag = hashlib.sha1(
        (sf_dir + spark.sparkContext.applicationId).encode()
    ).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"pfithic_buckets_{tag}")
    t_o, t_c = f"pfithic_orders_b_{tag}", f"pfithic_customer_b_{tag}"
    # guard on BOTH tables: a failure between the two writes must not
    # leave a half-registered pair that every retry then trips over
    if not (
        spark.catalog.tableExists(t_o) and spark.catalog.tableExists(t_c)
    ):
        write_bucketed_table(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey", "o_totalprice"
            ),
            t_o,
            ["o_custkey"],
            8,
            ["o_custkey"],
            path=os.path.join(base, "orders"),
        )
        write_bucketed_table(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            t_c,
            ["c_custkey"],
            8,
            ["c_custkey"],
            path=os.path.join(base, "customer"),
        )
    o = spark.table(t_o)
    c = spark.table(t_c)
    # merge hint: the fixture dim is broadcast-sized, which would
    # bypass the co-location being demonstrated (and plan-gated); at
    # 100 TB both sides are far past any broadcast threshold and the
    # bucketed sort-merge is the only sane plan
    return (
        o.hint("merge")
        .join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_price"),
        )
    )


@register(
    "q_join_bloom",
    oracle="""
SELECT e.event_id, e.user_id
FROM events e
WHERE e.user_id IN (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
""",
)
def q_join_bloom(spark, sf_dir):
    """Bloom pre-filtered semi join: the dim keys fold into an 8 KB
    driver-built Bloom filter whose probe runs as constant-folded
    shifts/ands INSIDE the fact scan's codegen, pruning fact rows
    before the join shuffle; the real semi join then removes the false
    positives, so the result is EXACTLY the plain semi join (the
    oracle).  The explicit form of the runtime-filter lever — available
    even when AQE's injected bloom/IN-subquery filters are not (dim
    built mid-pipeline, no stats)."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    out = rel.bloom_semi_join(
        ev.select("event_id", "user_id"), cust, "user_id", "c_custkey"
    )
    # re-pin column order: the using-column semi join moves the join
    # key first, but the oracle SELECTs (event_id, user_id)
    return out.select("event_id", "user_id")


@register(
    "q_scd2_merge",
    oracle="""
WITH t AS (
  SELECT user_id, event_id, event_type,
         EPOCH_US(ts) AS valid_from_us,
         LEAD(EPOCH_US(ts)) OVER (
           PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id
         ) AS valid_to_us
  FROM events
)
SELECT user_id, event_id, event_type, valid_from_us, valid_to_us,
       CAST(valid_to_us IS NULL AS BOOLEAN) AS is_current
FROM t
""",
)
def q_scd2_merge(spark, sf_dir):
    """Slowly-changing-dimension type 2 from a change log: each event
    opens a version valid until the user's next event (half-open
    [valid_from, valid_to)); the latest version per user is flagged
    current.  One window per user partition — no global sort; ties on
    the timestamp break by event_id so the versioning is deterministic.
    This is the dimension-versioning step every warehouse load needs
    between a CDC feed and point-in-time joins (the as-of join,
    q_join_asof, is the read side of the same contract)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    t = ev.select(
        "user_id",
        "event_id",
        "event_type",
        epoch_us(ev, "ts").alias("valid_from_us"),
    )
    w = W.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    return t.select(
        "user_id",
        "event_id",
        "event_type",
        "valid_from_us",
        F.lead("valid_from_us").over(w).alias("valid_to_us"),
    ).withColumn("is_current", F.col("valid_to_us").isNull())


@register(
    "q_embedding_quantize",
    oracle="""
WITH s AS (
  SELECT vec_id, embedding,
         LIST_MAX(LIST_TRANSFORM(embedding,
                                 v -> ABS(CAST(v AS DOUBLE)))) / 127.0
           AS scale
  FROM embeddings
)
SELECT vec_id,
       ROUND(scale, 9) AS scale,
       ROUND(CASE WHEN scale = 0 THEN 0.0 ELSE
         LIST_MAX(LIST_TRANSFORM(embedding,
           v -> ABS(CAST(v AS DOUBLE)
                    - ROUND(CAST(v AS DOUBLE) / scale, 0) * scale)))
       END, 9) AS err_max,
       ROUND(CASE WHEN scale = 0 THEN 0.0 ELSE
         LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(1, 64),
           i -> CAST(embedding[i] AS DOUBLE)
                * ROUND(CAST(embedding[i] AS DOUBLE) / scale, 0) * scale))
         / (SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
              v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
          * SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
              v -> ROUND(CAST(v AS DOUBLE) / scale, 0) * scale
                   * ROUND(CAST(v AS DOUBLE) / scale, 0) * scale))))
       END, 6) AS cos_self
FROM s
""",
)
def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 scalar quantization of the embedding column —
    the 4× storage/bandwidth lever for 100 TB ANN corpora (the IVF
    index in q_sim_ivf would store these instead of float32).  Emits
    per-vector scale, max reconstruction error, and the cosine between
    the original and its dequantized self (the recall-impact proxy).
    Everything stays JVM-side: transform/zip_with/aggregate lambdas,
    no Python UDF, elementwise ops + in-order folds so the DuckDB
    oracle hash-matches bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding")
    xd = F.transform(x, lambda v: v.cast("double"))
    scale = (
        F.array_max(F.transform(xd, lambda v: F.abs(v))) / F.lit(127.0)
    ).alias("scale")
    t = e.select("vec_id", xd.alias("xd"), scale)
    deq = F.transform(
        F.col("xd"), lambda v: F.round(v / F.col("scale"), 0) * F.col("scale")
    )
    t = t.withColumn("deq", deq)
    err_max = F.array_max(
        F.zip_with(F.col("xd"), F.col("deq"), lambda a, b: F.abs(a - b))
    )
    zero = F.col("scale") == 0
    return t.select(
        "vec_id",
        F.round(F.col("scale"), 9).alias("scale"),
        F.round(F.when(zero, 0.0).otherwise(err_max), 9).alias("err_max"),
        F.round(
            F.when(zero, 0.0).otherwise(
                dot_double(F.col("xd"), F.col("deq"))
                / (l2_norm(F.col("xd")) * l2_norm(F.col("deq")))
            ),
            6,
        ).alias("cos_self"),
    )


@register(
    "q_merge_upsert",
    oracle="""
WITH latest AS (
  SELECT user_id, value AS new_value FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (
             PARTITION BY user_id
             ORDER BY EPOCH_US(ts) DESC, event_id DESC
           ) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT COALESCE(c.c_custkey, l.user_id) AS key,
       c.c_mktsegment AS segment,
       ROUND(COALESCE(l.new_value, CAST(c.c_acctbal AS DOUBLE)), 6)
         AS balance,
       CASE WHEN c.c_custkey IS NULL THEN 'insert'
            WHEN l.user_id IS NULL THEN 'keep'
            ELSE 'update' END AS action
FROM customer c FULL OUTER JOIN latest l ON c.c_custkey = l.user_id
""",
)
def q_merge_upsert(spark, sf_dir):
    """MERGE/upsert (the Delta ``MERGE INTO`` shape, the CDC write
    side that q_scd2_merge versions): fold a change feed — each user's
    LATEST event value, deterministic (ts, event_id) argmax — into the
    customer dimension.  Matched keys update, source-only keys insert,
    target-only keys keep; every row labeled with its action.

    Physically: the change feed collapses via max_by (one agg — the
    feed's key cardinality, not its row count), then ONE full outer
    join against the target — the standard scalable MERGE plan (a
    row-at-a-time upsert loop is the anti-pattern this replaces)."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    latest = (
        ev.select(
            "user_id",
            "value",
            F.struct(
                epoch_us(ev, "ts").alias("t"), F.col("event_id").alias("e")
            ).alias("ord"),
        )
        .groupBy("user_id")
        .agg(F.max_by("value", "ord").alias("new_value"))
    )
    j = cust.join(latest, cust.c_custkey == latest.user_id, "full_outer")
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("user_id")).alias("key"),
        F.col("c_mktsegment").alias("segment"),
        F.round(
            F.coalesce(
                F.col("new_value"), F.col("c_acctbal").cast("double")
            ),
            6,
        ).alias("balance"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("user_id").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


@register(
    "q_snapshot_diff",
    oracle="""
WITH a AS (
  SELECT o_orderkey AS key, MD5(CONCAT_WS('|', o_orderstatus,
         CAST(o_totalprice AS VARCHAR))) AS h
  FROM orders WHERE o_orderkey % 10 <> 0
),
b AS (
  SELECT o_orderkey AS key, MD5(CONCAT_WS('|', o_orderstatus,
         CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                   ELSE o_totalprice END AS VARCHAR))) AS h
  FROM orders WHERE o_orderkey % 11 <> 0
)
SELECT COALESCE(a.key, b.key) AS key,
       CASE WHEN a.key IS NULL THEN 'added'
            WHEN b.key IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM a FULL OUTER JOIN b USING (key)
WHERE a.key IS NULL OR b.key IS NULL OR a.h <> b.h
""",
)
def q_snapshot_diff(spark, sf_dir):
    """Snapshot reconciliation: diff two table versions into
    added/removed/changed keys — what you run between two atomic-sink
    snapshots (io.read_parquet_atomic time travel) before trusting a
    pipeline rerun.  Row content is compared via a single md5 over the
    tracked columns, so the full outer join ships (key, 16-byte hash)
    — never the rows themselves — and unchanged keys drop out before
    the result materializes.  Fixture twins: snapshot A = orders minus
    keys %10=0 (those keys exist only in B → 'added'), snapshot B =
    orders minus %11=0 (those exist only in A → 'removed') with %7=0
    prices perturbed ('changed')."""
    o = load_table(spark, sf_dir, "orders")
    ha = F.md5(
        F.concat_ws(
            "|", F.col("o_orderstatus"), F.col("o_totalprice").cast("string")
        )
    )
    a = o.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("key"), ha.alias("h")
    )
    price_b = F.when(
        F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
    ).otherwise(F.col("o_totalprice"))
    hb = F.md5(
        F.concat_ws("|", F.col("o_orderstatus"), price_b.cast("string"))
    )
    b = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("key"), hb.alias("h")
    )
    j = a.withColumnRenamed("h", "ha").join(
        b.withColumnRenamed("h", "hb"), "key", "full_outer"
    )
    return j.filter(
        F.col("ha").isNull()
        | F.col("hb").isNull()
        | (F.col("ha") != F.col("hb"))
    ).select(
        "key",
        F.when(F.col("ha").isNull(), "added")
        .when(F.col("hb").isNull(), "removed")
        .otherwise("changed")
        .alias("change"),
    )


@register(
    "q_lm_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(LOWER(TRIM(text)), ' ') AS t FROM documents
),
v AS (
  SELECT COUNT(DISTINCT w) AS vocab
  FROM (SELECT UNNEST(t) AS w FROM toks)
),
bi AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1), i -> t[i]))
           AS w1,
         UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(t) - 1), i -> t[i+1]))
           AS w2
  FROM toks
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
scored AS (
  SELECT b.doc_id,
         CAST(ROUND(LN(CAST(c.c12 + 1 AS DOUBLE)
                       / CAST(g.c1 + v.vocab AS DOUBLE)), 9)
              AS DECIMAL(28,9)) AS logp
  FROM bi b
  JOIN c12 c ON b.w1 = c.w1 AND b.w2 = c.w2
  JOIN c1 g ON b.w1 = g.w1
  CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6) AS avg_logp,
       ROUND(EXP(-ROUND(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 6)), 6)
         AS ppl
FROM scored GROUP BY doc_id
""",
)
def q_lm_score(spark, sf_dir):
    """Bigram-LM quality scoring (the CCNet/DCLM-style perplexity
    filter): train Laplace-smoothed bigram statistics on the corpus
    itself, then score every document by its average bigram
    log-probability (and the perplexity exp(-avg)).  The standard
    quality gate between raw crawl and training mix.

    100 TB shape (round-8 modernization; the original built bigrams
    with a per-doc lead() window — a doc_id shuffle before any
    counting — and re-executed the unpersisted bigram stream THREE
    times for c12, c1 and the scoring join): bigrams now come from an
    array-side slice/zip (narrow, zero-shuffle, the q_pmi_bigrams
    spelling), the (w1, w2) count table is built once and PERSISTED
    (bounded by co-occurring vocabulary, not corpus size), and the
    prefix counts derive from it exactly (c1 = Σ_w2 c12 — both count
    the same unfiltered stream).  The scoring pass re-reads the narrow
    bigram branch (scan + split + zip, no shuffle — recomputation is
    cheaper than persisting a corpus-sized table) and equi-joins the
    vocabulary-bounded model.  Determinism: the per-bigram log-prob is
    a correctly-rounded double expression rounded to 9 dp and summed
    as DECIMAL (order-independent exact sum), so the per-doc average —
    and the oracle hash — is bit-stable under any partition order
    (same discipline as q_corr_exact)."""
    d = load_table(spark, sf_dir, "documents")
    arr = F.split(llmops.norm_text("text"), " ")
    bi = d.select(
        F.col("doc_id"),
        F.explode(
            F.arrays_zip(
                F.slice(arr, 1, F.size(arr) - 1).alias("w1"),
                F.slice(arr, 2, F.size(arr) - 1).alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # one tokenization definition (llmops.tokens_col == the oracle's
    # STRING_SPLIT(LOWER(TRIM(text)), ' ')) for vocab and bigrams alike
    toks = d.select(F.explode(llmops.tokens_col("text")).alias("w"))
    vocab = toks.agg(F.countDistinct("w").alias("vocab"))
    pc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    # vocabulary-bounded model table read by three consumers (c1, the
    # scoring join's build side twice); the output is corpus-keyed so
    # there is no bounded materialization point to unpersist behind —
    # the bounded cache pool owns it instead
    pc = persist_bounded(pc)
    c1 = pc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    scored = (
        bi.join(pc, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("vocab")).cast("double")
                ),
                9,
            )
            .cast("decimal(28,9)")
            .alias("logp"),
        )
    )
    avg = F.round(
        F.sum("logp").cast("double") / F.count(F.lit(1)), 6
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        avg.alias("avg_logp"),
        F.round(F.exp(-avg), 6).alias("ppl"),
    )


@register("q_bpe_train", oracle=_golden_oracle("q_bpe_train"))
def q_bpe_train(spark, sf_dir):
    """Real BPE vocabulary training (Sennrich et al. 2016) the
    production way: ONE distributed pass builds the distinct
    (word, count) table — bounded by corpus VOCABULARY, not corpus
    size, which is why 100 TB of text still trains driver-side (every
    standard trainer works from word counts) — then the classic merge
    loop runs in pure python ints/strings: deterministic on any host
    (no floats, no hashing, lexicographic tie-break).  Output: the
    learned merge table in learning order.  Golden oracle certified by
    an independent Counter-based retrain in tools/make_goldens.py."""
    d = load_table(spark, sf_dir, "documents")
    wc = llmops.bpe_word_counts(d)
    merges = llmops.bpe_train_merges(wc, num_merges=64)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "merge_id": range(len(merges)),
            "left": [a for a, _ in merges],
            "right": [b for _, b in merges],
        }
    )
    return spark.createDataFrame(
        pdf, "merge_id long, left string, right string"
    )


@register("q_bpe_tokenize", oracle=_golden_oracle("q_bpe_tokenize"))
def q_bpe_tokenize(spark, sf_dir):
    """Token-budget accounting under a LEARNED BPE vocabulary: train
    the merge table (bounded driver loop, see q_bpe_train), broadcast
    it, and tokenize the corpus in Arrow mapInPandas batches with a
    per-batch word→length memo (Zipf reuse).  Output per doc: n_words,
    n_tokens, n_chars.  Certified by an independent segmenter + the
    detokenization round-trip in tools/make_goldens.py."""
    d = load_table(spark, sf_dir, "documents")
    merges = llmops.bpe_train_merges(llmops.bpe_word_counts(d), num_merges=64)
    return llmops.bpe_tokenize(d, merges)
