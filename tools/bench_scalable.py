"""Force-exercise the scale-critical primitives on inputs large enough
that only the scalable form survives.

The per-round bench (bench.py) runs the registry queries, whose
bounded-cardinality inputs route through the small-side fast paths; this
tool drives the primitives on synthetic tables (default 8M rows) where
the scalable path is the only viable one — and cross-checks a closed
form / planted ground truth so the numbers are correctness-gated, not
just timed:

- windows.scalable_cumsum / windows.bh_fdr_scalable (two-phase global
  order, no single-task window);
- llmops.ngram_jaccard_pairs with max_df on a corpus where EVERY
  document shares one boilerplate shingle (df = n): without the hot-
  shingle cap the inverted-index self-join would generate ~n² candidate
  pairs; with it, exactly the planted n/2 near-dup pairs survive —
  empirical proof the skew lever bounds the join;
- llmops.pack_sequences on one giant single-source corpus: the
  (group, shard) hash sharding keeps the running-total window
  parallel (a single source must never serialize onto one task), with
  token conservation + bin-bound invariants asserted.

    python tools/bench_scalable.py [n_rows] [cpus]

Prints one JSON line: {"n": ..., "cumsum_s": ..., "bh_s": ...,
"bh_single_window_s": ..., "ngram_maxdf_s": ..., "pack_s": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pfithic_spark import windows as win  # noqa: E402
from pfithic_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    cpus = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_CPUS", "32"
    )
    spark = get_spark(app="bench-scalable", cpus=cpus)

    df = spark.range(n).select(
        F.col("id").alias("d"), ((F.col("id") * 37) % 97 + 1).alias("cc")
    )

    t0 = time.time()
    cum = win.scalable_cumsum(df, "d", {"run": "cc"}, small_threshold=None)
    # force full evaluation + correctness: the global total must match
    # the closed form, and a probed key must match the prefix sum
    total = cum.agg(F.max("run")).collect()[0][0]
    cumsum_s = time.time() - t0
    i = np.arange(n, dtype=np.int64)
    cs = np.cumsum((i * 37) % 97 + 1)
    assert total == int(cs[-1]), (total, int(cs[-1]))

    scored = df.withColumn(
        "p_value", ((F.col("d") * 7919) % 1000003).cast("double") / 1000003.0
    )
    t0 = time.time()
    bh = win.bh_fdr_scalable(scored, "p_value", m=n, tiebreak=["d"])
    # q in [0,1] everywhere; full pass forced by the global agg
    qmin, qmax = bh.agg(F.min("q_value"), F.max("q_value")).collect()[0]
    bh_s = time.time() - t0
    assert 0.0 <= qmin <= qmax <= 1.0, (qmin, qmax)

    # the single-window form at the same scale, for the honest ratio
    t0 = time.time()
    bh1 = win.bh_fdr(scored, "p_value", m=n, tiebreak=["d"])
    bh1.agg(F.min("q_value"), F.max("q_value")).collect()
    bh_single_s = time.time() - t0

    # --- ngram_jaccard_pairs + max_df: hot-shingle skew lever --------
    from pfithic_spark import llmops

    half = n // 2
    # every doc: 5-word boilerplate prefix (k=3 shingles with df = n)
    # + a 5-word unique tail derived from id % half, so docs i and
    # i + half are exact near-dups — the ONLY legitimate pairs
    u = (F.col("id") % half).cast("long")
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("terms of service apply here"),
            F.concat(F.lit("ua"), u),
            F.concat(F.lit("ub"), (u * 31) % 999983),
            F.concat(F.lit("uc"), (u * 57) % 999979),
            F.concat(F.lit("ud"), (u * 91) % 999961),
            F.concat(F.lit("ue"), (u * 17) % 999959),
        ).alias("text"),
    )
    t0 = time.time()
    pairs = llmops.ngram_jaccard_pairs(
        docs, k=3, block_col=None, max_df=100
    )
    n_pairs, dmin, dmax, jmin = pairs.agg(
        F.count(F.lit(1)),
        F.min(F.col("id2") - F.col("id1")),
        F.max(F.col("id2") - F.col("id1")),
        F.min("jaccard"),
    ).collect()[0]
    ngram_s = time.time() - t0
    # exactly the planted pairs: (i, i + half) for every i < half —
    # without max_df the boilerplate shingles alone would contribute
    # ~n²/2 candidate pairs and this agg would never finish at 8M
    assert n_pairs == half, (n_pairs, half)
    assert dmin == half and dmax == half, (dmin, dmax, half)
    # closed-form jaccard: 8 shingles per doc, the 3 boilerplate-only
    # ones pruned by max_df, denominators keep full sizes → 5/11
    assert jmin is not None and abs(jmin - 5.0 / 11.0) < 1e-6, jmin

    # --- minhash LSH hot-bucket cap: planted mass-dup cluster --------
    # (round-7 hardening) A 200k-clone document collides in EVERY band
    # -> C(200k,2) ≈ 2e10 candidate pairs uncapped (unfinishable); with
    # the default LSH_MAX_BUCKET=1000 the clone buckets are dropped
    # and the output is EXACTLY the planted twin pairs.  Twins (i,
    # i+400k) share identical unique text -> signature match 1.0 in
    # buckets of size 2, untouched by the cap.
    n_mh = n // 8
    n_clones_mh = n_mh // 5
    rest = n_mh - n_clones_mh
    tw = ((F.col("id") - n_clones_mh) % (rest // 2)).cast("long")
    mh_docs = spark.range(n_mh).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < n_clones_mh,
            F.lit("all rights reserved worldwide template page body here"),
        )
        .otherwise(
            # NO words shared across tw values (each modulus is prime
            # and > rest//2, so every slot is collision-free): disjoint
            # shingle sets keep non-twin signature matches at hash-
            # coincidence level, far under est_threshold — a shared
            # prefix word measurably leaks ~1e-4 of chance pairs past
            # 0.2 (56 at 400k planted, first run of this row)
            F.concat_ws(
                " ",
                F.concat(F.lit("ta"), tw),
                F.concat(F.lit("tb"), (tw * 31) % 999983),
                F.concat(F.lit("tc"), (tw * 57) % 999979),
                F.concat(F.lit("td"), (tw * 91) % 999961),
                F.concat(F.lit("te"), (tw * 17) % 999959),
            )
        )
        .alias("text"),
    )
    t0 = time.time()
    mh_pairs = llmops.minhash_lsh_pairs(mh_docs, est_threshold=0.2)
    n_mh_pairs, n_mh_twins, n_mh_clone = mh_pairs.agg(
        F.count(F.lit(1)),
        F.sum(
            (
                (F.col("id2") - F.col("id1") == rest // 2)
                & (F.col("est_jaccard") == 1.0)
            ).cast("long")
        ),
        F.sum(
            (
                (F.col("id1") < n_clones_mh) & (F.col("id2") < n_clones_mh)
            ).cast("long")
        ),
    ).collect()[0]
    minhash_cap_s = time.time() - t0
    # THE cap gate: zero pairs inside the 200k-clone cluster (uncapped
    # it alone is ~2e10 candidate pairs and the run never finishes)
    assert n_mh_clone == 0, n_mh_clone
    # every planted twin recovered at signature match 1.0
    assert n_mh_twins == rest // 2, (n_mh_twins, rest // 2)
    # residual extras are 31-bit shingle-hash collisions between
    # 3-shingle docs (a collided shingle makes hash-level jaccard
    # exactly 1/5 = the threshold; ~half of the ~C(1.2M,2)/2^31
    # collision pairs estimate over it) — deterministic, measured 32
    # at this scale; a missed hot bucket would put ~10^10 here
    assert n_mh_pairs - n_mh_twins <= 64, (n_mh_pairs, n_mh_twins)

    # --- pack_sequences: one giant source, hash-sharded packing ------
    # worst-case mixture: EVERY doc in the same source group; the
    # (group, shard) sharding is what keeps the cumsum window parallel
    pdocs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("web").alias("source"),
        F.concat(
            F.lit("w"),
            F.repeat(F.lit(" w"), (F.col("id") % 50).cast("int")),
        ).alias("text"),
    )
    t0 = time.time()
    packed = llmops.pack_sequences(
        pdocs, target_tokens=2048, n_shards=64
    )
    n_seq, tot, mx = packed.agg(
        F.count(F.lit(1)), F.sum("total_tokens"), F.max("total_tokens")
    ).collect()[0]
    pack_s = time.time() - t0
    # token conservation: Σ(1 + i % 50) in closed form
    cycles, rem = divmod(n, 50)
    want_tot = cycles * (50 * 51 // 2) + rem * (rem + 1) // 2
    assert tot == want_tot, (tot, want_tot)
    # greedy boundary rule: a sequence holds at most target + (max doc
    # tokens − 1) tokens; and the shard fan-out actually packed (no
    # single degenerate sequence)
    assert mx <= 2048 + 49, mx
    assert n_seq >= want_tot // (2048 + 49), n_seq

    # --- connected components: diameter-bounded label propagation ----
    # planted ground truth: n/4 disjoint 4-node CHAINS (diameter 3
    # forces multiple propagation rounds); every node's component id
    # must come back as the chain head, cluster_size as 4
    n_cc = n // 2  # vertices (keep runtime bounded: rounds × joins)
    verts = spark.range(n_cc).select(F.col("id").alias("doc_id"))
    chain_edges = (
        spark.range(n_cc)
        .filter(F.col("id") % 4 != 3)  # no edge out of a chain tail
        .select(F.col("id").alias("id1"), (F.col("id") + 1).alias("id2"))
    )
    t0 = time.time()
    # force the DISTRIBUTED loop (the small-side fast path would
    # otherwise absorb this graph): that's the path being pinned here
    cc = llmops.connected_components(chain_edges, verts, small_threshold=None)
    n_rows, n_clusters, bad = cc.agg(
        F.count(F.lit(1)),
        F.countDistinct("cluster_id"),
        F.sum(
            (
                (F.col("cluster_id") != (F.col("doc_id") - F.col("doc_id") % 4))
                | (F.col("cluster_size") != 4)
            ).cast("long")
        ),
    ).collect()[0]
    cc_s = time.time() - t0
    assert n_rows == n_cc and n_clusters == n_cc // 4 and bad == 0, (
        n_rows,
        n_clusters,
        bad,
    )

    # --- PageRank: partitioned-join iteration path -------------------
    # planted ground truth: a 4-regular ring (edges to i±1, i±2 mod n)
    # is degree-uniform, so the INTEGER-mass update has an exact fixed
    # point — share = 1e9 DIV 4 (exact), received = 4·share = 1e9,
    # new rank = 150e6 + (85·1e9) DIV 100 = 1e9.  Every rank must come
    # back EXACTLY 1_000_000_000 after every iteration, on the
    # partitioned-shuffle path (no node-state broadcast) the registry
    # key reserves for graphs past its 5M-node broadcast threshold.
    n_pr = n // 4  # nodes → n edges total
    offs = F.array(F.lit(-2), F.lit(-1), F.lit(1), F.lit(2))
    pr_edges = (
        spark.range(n_pr)
        .select(F.col("id").alias("src"), F.explode(offs).alias("o"))
        .select(
            "src",
            ((F.col("src") + F.col("o") + n_pr) % n_pr).alias("dst"),
        )
        .repartition("src")
        .persist()
    )
    deg = pr_edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    ).persist()
    t0 = time.time()
    ranks = deg.select("node", F.lit(1_000_000_000).alias("rank"), "outdeg")
    for _ in range(3):
        shares = ranks.select("node", F.expr("rank DIV outdeg").alias("share"))
        contrib = (
            pr_edges.join(shares, pr_edges.src == shares.node)
            .groupBy(pr_edges.dst.alias("node"))
            .agg(
                (F.lit(150_000_000) + F.expr("(85 * SUM(share)) DIV 100")).alias(
                    "rank"
                )
            )
        )
        ranks = contrib.join(deg, "node").select("node", "rank", "outdeg")
    n_pr_rows, mn, mx = ranks.agg(
        F.count(F.lit(1)), F.min("rank"), F.max("rank")
    ).collect()[0]
    pagerank_s = time.time() - t0
    assert n_pr_rows == n_pr and mn == mx == 1_000_000_000, (n_pr_rows, mn, mx)

    # --- salted join under a genuinely hot key -----------------------
    # planted skew: HALF the fact rows carry user_id=1; the rest spread
    # over 100k users.  The salted rewrite (fact salt = pmod(id, 8),
    # dim exploded ×8, join on (key, salt)) must return bit-identical
    # per-segment counts to the plain shuffle join AND to the numpy
    # closed form — proving the salt is a pure physical rewrite while
    # timing both shapes at scale.
    n_users = 100_000
    hot_cut = n // 2
    fact = spark.range(n).select(
        F.when(F.col("id") < hot_cut, F.lit(1))
        .otherwise(F.col("id") % n_users)
        .alias("user_id")
    )
    dim = spark.range(n_users).select(
        F.col("id").alias("c_custkey"), (F.col("id") % 5).alias("seg")
    )
    t0 = time.time()
    plain = {
        r["seg"]: r["cnt"]
        for r in fact.hint("shuffle_hash")
        .join(dim.hint("shuffle_hash"), fact.user_id == dim.c_custkey)
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    plain_join_s = time.time() - t0
    salted_fact = spark.range(n).select(
        F.when(F.col("id") < hot_cut, F.lit(1))
        .otherwise(F.col("id") % n_users)
        .alias("user_id"),
        F.pmod(F.col("id"), F.lit(8)).cast("int").alias("salt"),
    )
    salted_dim = dim.select(
        "c_custkey",
        "seg",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("salt"),
    ).withColumn("salt", F.col("salt").cast("int"))
    t0 = time.time()
    salted = {
        r["seg"]: r["cnt"]
        for r in salted_fact.hint("shuffle_hash")
        .join(
            salted_dim.hint("shuffle_hash"),
            (salted_fact.user_id == salted_dim.c_custkey)
            & (salted_fact.salt == salted_dim.salt),
        )
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    salted_join_s = time.time() - t0
    cold = np.arange(hot_cut, n, dtype=np.int64) % n_users
    segs = np.concatenate([np.full(hot_cut, 1, dtype=np.int64), cold]) % 5
    want = {int(s): int(c) for s, c in zip(*np.unique(segs, return_counts=True))}
    assert plain == want and salted == want, (plain, salted, want)

    # --- profile columns: exact vs sketch distinct counts ------------
    # the q_profile_columns shape (single scan, one agg) on 8M rows
    # with closed-form cardinalities: exact COUNT(DISTINCT)s pay a ×K
    # Expand; approx_count_distinct is the documented at-scale knob —
    # both gated (exact == closed form; sketch within 5%).
    prof = spark.range(n).select(
        (F.col("id") % 1_000_003).alias("a"),
        ((F.col("id") * 7919) % 97).alias("b"),
        F.col("id").alias("c"),
    )
    t0 = time.time()
    ex = prof.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("a").alias("da"),
        F.countDistinct("b").alias("db"),
        F.countDistinct("c").alias("dc"),
        F.min("a").alias("mna"),
        F.max("a").alias("mxa"),
    ).collect()[0]
    profile_exact_s = time.time() - t0
    want_da = min(n, 1_000_003)
    # b = (id·7919) mod 97: 7919 coprime to 97 → full residue cycle
    want_db = min(n, 97)
    assert (ex["n_rows"], ex["da"], ex["db"], ex["dc"]) == (n, want_da, want_db, n)
    assert ex["mna"] == 0 and ex["mxa"] == min(n, 1_000_003) - 1
    t0 = time.time()
    ap = prof.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("a").alias("da"),
        F.approx_count_distinct("b").alias("db"),
        F.approx_count_distinct("c").alias("dc"),
        F.min("a").alias("mna"),
        F.max("a").alias("mxa"),
    ).collect()[0]
    profile_approx_s = time.time() - t0
    # default HLL++ rsd is 0.05 (one sigma) — gate at 2 sigma, same
    # envelope as the q_agg_approx golden certification
    for got, exact in ((ap["da"], want_da), (ap["db"], want_db), (ap["dc"], n)):
        assert abs(got - exact) <= 0.10 * exact, (got, exact)

    # ---- z-order + manifest stats pruning at scale -------------------
    # grid closed form: u = id % U (user), t = id / U (time step) →
    # a [100,199]² needle selects exactly 100×100 rows.  The Morton
    # layout must keep BOTH envelopes tight → most files skip, and the
    # pruned read must return the exact closed-form count.
    import shutil
    import tempfile

    from pfithic_spark.io import (
        atomic_snapshot_files,
        read_parquet_atomic,
        write_parquet_atomic,
    )

    U = 10_000
    zdf = spark.range(n).select(
        (F.col("id") % U).alias("u"),
        (F.col("id") / U).cast("bigint").alias("t"),
        F.col("id").alias("payload"),
    )
    zpath = tempfile.mkdtemp(prefix="zorder_bench_")
    try:
        t0 = time.time()
        write_parquet_atomic(
            zdf,
            zpath,
            mode="overwrite",
            zorder_by=["u", "t"],
            zorder_files=64,
            stats_cols=["u", "t"],
        )
        zorder_write_s = time.time() - t0
        pred = {"u": (100, 199), "t": (100, 199)}
        cond = (
            (F.col("u") >= 100) & (F.col("u") <= 199)
            & (F.col("t") >= 100) & (F.col("t") <= 199)
        )
        kept, skipped = atomic_snapshot_files(zpath, predicate=pred)
        assert skipped >= 48, (len(kept), skipped)  # ≥75% of 64 skip
        t0 = time.time()
        got = read_parquet_atomic(spark, zpath, predicate=pred).filter(
            cond
        ).count()
        zorder_pruned_read_s = time.time() - t0
        if n // U >= 200:  # needle fully inside the grid
            assert got == 100 * 100, got
        t0 = time.time()
        full = read_parquet_atomic(spark, zpath).filter(cond).count()
        zorder_full_read_s = time.time() - t0
        assert full == got, (full, got)
    finally:
        shutil.rmtree(zpath, ignore_errors=True)

    # ---- sessionize at scale (per-user windows, closed form) ---------
    # per user: k = n/NU events; the gap BEFORE event i is 40 min when
    # i%3==0 else 10 min → cumulative us = (10·i + 30·(i div 3)) min;
    # a >30-min threshold starts a session at i=0 and every i%3==0 →
    # sessions/user = 1 + floor((k-1)/3), exactly.
    from pyspark.sql import Window as W

    NU = 50_000
    k = n // NU
    MIN_US = 60_000_000
    ev = spark.range(NU * k).select(
        (F.col("id") % NU).alias("user_id"),
        (F.col("id") / NU).cast("bigint").alias("i"),
    ).select(
        "user_id",
        F.col("i").alias("event_id"),
        (
            (10 * F.col("i") + 30 * F.floor(F.col("i") / 3)) * MIN_US
        ).alias("us"),
    )
    gap_us = 30 * MIN_US
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us", 1).over(w)
    t0 = time.time()
    sess = (
        ev.withColumn(
            "new_s",
            F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0),
        )
        .withColumn(
            "sess",
            F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "sess")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    agg = sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    ).collect()[0]
    sessionize_s = time.time() - t0
    want_sessions = NU * (1 + (k - 1) // 3)
    assert agg["n_sessions"] == want_sessions, (
        agg["n_sessions"],
        want_sessions,
    )
    assert agg["n_events"] == NU * k

    # ---- PCA sufficient-stats covariance at scale --------------------
    # 8 M synthetic 16-dim vectors; gates close the loop without any
    # driver-side materialization of the data: (a) cov symmetric with
    # positive diagonal, (b) trace(cov) equals the per-dim variances
    # computed by an INDEPENDENT decimal aggregation, (c) the variance
    # of the pc1 projection (distributed, decimal-exact) equals the top
    # Jacobi eigenvalue.
    from pfithic_spark import llmops as llm
    from pfithic_spark import stats as stx

    D_PCA = 16
    emb8 = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    ((F.col("id") * (2 * i + 3)) % 1009).cast("double")
                    / 1009.0
                )
                for i in range(D_PCA)
            ]
        ).alias("embedding"),
    )
    t0 = time.time()
    mean8, cov8, n8 = llm.pca_moments(emb8)
    ev8, evec8 = stx.jacobi_eigh(cov8)
    pca_moments_s = time.time() - t0
    assert n8 == n
    for i in range(D_PCA):
        assert cov8[i][i] > 0
        for j in range(D_PCA):
            assert cov8[i][j] == cov8[j][i]
    # independent variance check per dim (decimal-exact second pass)
    t0 = time.time()
    var_rows = (
        emb8.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(
                F.round(F.col("x") * F.col("x"), 9).cast("decimal(28,9)")
            ).alias("sxx"),
            F.sum(F.round(F.col("x"), 9).cast("decimal(28,9)")).alias("sx"),
        )
        .collect()
    )
    trace_indep = 0.0
    for r in var_rows:
        m = float(r["sx"]) / n
        trace_indep += (float(r["sxx"]) - n * m * m) / (n - 1)
    trace_cov = sum(cov8[i][i] for i in range(D_PCA))
    assert abs(trace_cov - trace_indep) / trace_indep < 1e-6, (
        trace_cov,
        trace_indep,
    )
    # variance along pc1 == top eigenvalue (distributed projection)
    proj = llm.pca_project(emb8, mean8, evec8[:1])
    stats_row = proj.agg(
        F.sum(
            F.round(F.col("pc1") * F.col("pc1"), 9).cast("decimal(38,9)")
        ).alias("spp"),
        F.sum(F.round(F.col("pc1"), 9).cast("decimal(38,9)")).alias("sp"),
    ).collect()[0]
    mp = float(stats_row["sp"]) / n
    var_pc1 = (float(stats_row["spp"]) - n * mp * mp) / (n - 1)
    pca_total_s = time.time() - t0 + pca_moments_s
    assert abs(var_pc1 - ev8[0]) / ev8[0] < 1e-4, (var_pc1, ev8[0])

    # ---- distributed BFS frontier loop (planted ring) ----------------
    # ring of n/4 nodes: BFS from node 0 to depth 6 must see levels
    # 1,2,2,2,2,2,2 — forces the frontier join + anti-join machinery
    # (the registry key's driver fast path is bypassed: adjacency here
    # is built directly, no probe)
    from pyspark.sql import functions as FF

    n_ring = n // 4
    ring = spark.range(n_ring).select(
        F.col("id").alias("a"),
        ((F.col("id") + 1) % n_ring).alias("b"),
    )
    sym = ring.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(
        ring.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).persist()
    sym.count()
    t0 = time.time()
    visited = spark.createDataFrame([(0, 0)], "v long, dist long").localCheckpoint(
        eager=True
    )
    frontier = visited
    for depth in range(1, 7):
        nxt = (
            frontier.join(sym, frontier.v == sym.u)
            .select(sym.v.alias("v"))
            .distinct()
            .join(visited.select("v"), "v", "left_anti")
            .withColumn("dist", F.lit(depth))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    levels = {
        r["dist"]: r["n"]
        for r in visited.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    bfs_s = time.time() - t0
    sym.unpersist()
    assert levels == {0: 1, 1: 2, 2: 2, 3: 2, 4: 2, 5: 2, 6: 2}, levels

    # ---- exact heavy hitters at scale (planted hot tokens) -----------
    # 8 M-token stream: token 'hot<k>' for k in 0..3 each occupies 5%
    # (> φ=2%), the long tail is unique-ish ids below threshold; the
    # two-pass (MG candidates → broadcast exact count) must return
    # EXACTLY the four planted hitters with exact counts.
    import pandas as pd

    hot_share = n // 20  # 5% each
    toks = spark.range(n).select(
        F.when(F.col("id") % 20 < 4, F.concat(F.lit("hot"), (F.col("id") % 20)))
        .otherwise(F.concat(F.lit("t"), (F.col("id") / 7).cast("bigint")))
        .alias("w")
    )
    phi = 0.02
    k_mg = int(2.0 / phi)
    from pfithic_spark.llmops import heavy_hitter_candidates

    t0 = time.time()
    cand, n_total = heavy_hitter_candidates(toks, k_mg)
    assert len(cand) <= k_mg, len(cand)
    cand_df = spark.createDataFrame([(w,) for w in cand], "w string")
    hits = {
        r["w"]: r["cnt"]
        for r in toks.join(FF.broadcast(cand_df), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > phi * n_total)
        .collect()
    }
    hh_s = time.time() - t0
    assert n_total == n
    assert hits == {f"hot{k}": hot_share for k in range(4)}, hits

    # ---- Poisson-bootstrap sufficient-stats kernel at scale ----------
    # synthetic prices with a closed-form exact mean; gates: the point
    # estimate equals the closed form exactly, every replicate's
    # effective n is within 5σ of Poisson(1)·n, and the CI brackets
    # the point estimate.
    from pfithic_spark import registry as reg

    boot_src = spark.range(n).select(
        (F.col("id") + 1).alias("l_orderkey"),
        F.lit(1).alias("l_linenumber"),
        ((F.col("id") % 1000).cast("double") / 10.0).alias(
            "l_extendedprice"
        ),
    )
    boot_dir = tempfile.mkdtemp(prefix="boot_bench_")
    try:
        boot_src.write.mode("overwrite").parquet(
            os.path.join(boot_dir, "lineitem.parquet")
        )
        t0 = time.time()  # q_bootstrap_ci reads only lineitem
        row = reg.QUERIES["q_bootstrap_ci"](spark, boot_dir).collect()[0]
        bootstrap_s = time.time() - t0
        # closed form: mean of (id % 1000)/10 over n divisible by 1000
        want_mean = round(sum(range(1000)) / 1000 / 10, 6)
        assert row["point_mean"] == want_mean, (row["point_mean"], want_mean)
        assert row["ci_lo"] <= want_mean <= row["ci_hi"], row
        assert row["n_replicates"] == 32
    finally:
        shutil.rmtree(boot_dir, ignore_errors=True)

    # ---- heavy hitters on an adversarially CLUSTERED layout ----------
    # 1000 topic-partitions, each with its own locally-frequent
    # vocabulary: the r4 finding was that the single-level sweep's
    # candidate union grows with the number of topic-local frequent
    # words (~10 per topic here -> ~10k collected rows and rising with
    # corpus breadth); the two-level MG merge must keep the driver
    # collect <= k while still catching the one global hitter planted
    # across every topic at 5% > phi.
    n_topics = 1000
    toks_cl = (
        spark.range(n)
        .select(
            (F.col("id") % n_topics).alias("topic"),
            F.when(
                F.col("id") % 20 == 0, F.lit("global_hh")
            )
            .otherwise(
                F.concat(
                    F.lit("topic"),
                    (F.col("id") % n_topics),
                    F.lit("_w"),
                    (F.col("id") % 10),
                )
            )
            .alias("w"),
        )
        .repartition(64, "topic")
        .select("w")
    )
    t0 = time.time()
    cand_cl, n_cl = heavy_hitter_candidates(toks_cl, k_mg)
    hits_cl = {
        r["w"]: r["cnt"]
        for r in toks_cl.join(
            FF.broadcast(spark.createDataFrame([(w,) for w in cand_cl], "w string")),
            "w",
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > phi * n_cl)
        .collect()
    }
    hh_clustered_s = time.time() - t0
    assert n_cl == n
    assert len(cand_cl) <= k_mg, (
        f"clustered layout blew the candidate bound: {len(cand_cl)}"
    )
    assert hits_cl == {"global_hh": n // 20}, hits_cl

    # ---- hot-basket co-occurrence pair generation --------------------
    # one planted 20k-item basket (the in-row expansion would build
    # 2e8 structs inside a single row) + a long tail of normal
    # baskets; the blocked self-join path must stream the exact
    # B(B-1)/2 pair count without any single-task materialization.
    from pfithic_spark.relational import cooccurrence_pairs

    B = min(20_000, max(2_000, n // 400))  # 20k at the 8M default
    n_small = 200_000  # small baskets: 5 items each
    basket_src = spark.range(n_small * 5).select(
        (F.col("id") % n_small).alias("g"),
        ((F.col("id") * 13) % 50_000).alias("item"),
    ).union(
        spark.range(B).select(
            F.lit(-1).alias("g"), (F.col("id") + 100_000).alias("item")
        )
    )
    t0 = time.time()
    n_pairs_hot = (
        cooccurrence_pairs(basket_src, "g", "item")
        .filter(F.col("a") >= 100_000)  # pairs from the hot basket only
        .count()
    )
    hot_basket_s = time.time() - t0
    assert n_pairs_hot == B * (B - 1) // 2, n_pairs_hot

    # ---- SCD2 merge at scale (8M-event change log) -------------------
    # user_id = id % U, ts = epoch + id us: per user the version chain
    # is the arithmetic progression id = u, u+U, u+2U, ...; gates:
    # row count n, exactly U open versions, and user 0's chain links
    # valid_to == next valid_from exactly.
    U = max(1, n // 40)  # 200k users / 40 versions each at n=8M
    h_us = 1_700_000_000_000_000
    ev_src = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(h_us) + F.col("id")).alias("ts"),
        (F.col("id") % U).alias("user_id"),
        F.lit("e").alias("event_type"),
        (F.col("id") % 1000).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )
    scd2_dir = tempfile.mkdtemp(prefix="scd2_bench_")
    try:
        ev_src.write.mode("overwrite").parquet(
            os.path.join(scd2_dir, "events.parquet")
        )
        t0 = time.time()
        scd2 = reg.QUERIES["q_scd2_merge"](spark, scd2_dir).persist()
        n_rows = scd2.count()
        n_open = scd2.filter(F.col("is_current")).count()
        chain0 = sorted(
            (r["valid_from_us"], r["valid_to_us"])
            for r in scd2.filter(F.col("user_id") == 0).collect()
        )
        scd2_s = time.time() - t0
        scd2.unpersist()
        assert n_rows == n and n_open == U, (n_rows, n_open)
        n_v = n // U
        want0 = [
            (h_us + i * U, h_us + (i + 1) * U if i < n_v - 1 else None)
            for i in range(n_v)
        ]
        assert chain0 == want0, chain0[:3]
    finally:
        shutil.rmtree(scd2_dir, ignore_errors=True)

    # ---- MERGE/upsert at scale (8M-event feed into 1M-row dim) -------
    # users 0..U-1 in the feed, customers 0..C-1 in the target: action
    # counts follow in closed form, and key 0's balance is the value
    # of its LAST event (max_by argmax) = n - U.
    C = 1_000_000
    cust_src = spark.range(C).select(
        F.col("id").alias("c_custkey"),
        F.lit("SEG").alias("c_mktsegment"),
        (F.col("id") % 100).cast("decimal(12,2)").alias("c_acctbal"),
    )
    up_ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(h_us) + F.col("id")).alias("ts"),
        (F.col("id") % U).alias("user_id"),
        F.lit("e").alias("event_type"),
        F.col("id").cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )
    up_dir = tempfile.mkdtemp(prefix="upsert_bench_")
    try:
        up_ev.write.mode("overwrite").parquet(
            os.path.join(up_dir, "events.parquet")
        )
        cust_src.write.mode("overwrite").parquet(
            os.path.join(up_dir, "customer.parquet")
        )
        t0 = time.time()
        up = reg.QUERIES["q_merge_upsert"](spark, up_dir).persist()
        actions = {
            r["action"]: r["cnt"]
            for r in up.groupBy("action")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        bal0 = up.filter(F.col("key") == 0).collect()[0]["balance"]
        merge_upsert_s = time.time() - t0
        up.unpersist()
        n_matched = min(U, C)
        want_actions = {"update": n_matched, "keep": C - n_matched}
        if U > C:
            want_actions["insert"] = U - C
        assert actions == want_actions, actions
        assert bal0 == float(n - U), bal0
    finally:
        shutil.rmtree(up_dir, ignore_errors=True)

    # ---- snapshot diff at scale (8M-key reconciliation) --------------
    # the %10/%11/%7 twin construction has exact closed-form counts
    # per action via inclusion-exclusion on the key range [0, n).
    snap_src = spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        F.lit("O").alias("o_orderstatus"),
        # double, matching the fixture type: the diff hashes compare
        # string-casts of o_totalprice and o_totalprice+1.0, which only
        # agree on unchanged keys when both sides are the same type
        ((F.col("id") % 1000).cast("double") / 10.0).alias("o_totalprice"),
    )
    snap_dir = tempfile.mkdtemp(prefix="snap_bench_")
    try:
        snap_src.write.mode("overwrite").parquet(
            os.path.join(snap_dir, "orders.parquet")
        )
        t0 = time.time()
        diff_counts = {
            r["change"]: r["cnt"]
            for r in reg.QUERIES["q_snapshot_diff"](spark, snap_dir)
            .groupBy("change")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        snapshot_diff_s = time.time() - t0

        def cmult(m):  # multiples of m in [0, n)
            return (n - 1) // m + 1

        want_diff = {
            "added": cmult(10) - cmult(110),
            "removed": cmult(11) - cmult(110),
            "changed": cmult(7) - cmult(70) - cmult(77) + cmult(770),
        }
        assert diff_counts == want_diff, (diff_counts, want_diff)
    finally:
        shutil.rmtree(snap_dir, ignore_errors=True)

    # ---- KR balancing at scale (8M intra contacts, 8 chromosomes) ----
    # banded symmetric matrices (125k loci x 8 bands per chr) balance
    # to machine precision; the gate is DISTRIBUTED: rebuild the
    # balanced row sums x_i * A_ij * x_j in Spark from the emitted
    # biases and assert unit row sums, plus zero -1 sentinels and the
    # mean-1 bias normalization per chromosome.
    from pfithic_spark.hic import kr_biases

    res_kr = 5000
    n_band = 8
    loci = n // (8 * n_band)  # 125k loci/chr at n=8M
    kr_src = spark.range(n).select(
        F.concat(F.lit("chr"), (F.col("id") % 8) + 1).alias("chr1"),
        (
            ((F.col("id") / 8).cast("bigint") % loci) * res_kr + res_kr // 2
        ).alias("mid1"),
        (F.col("id") % 8).alias("_c"),
        ((F.col("id") / (8 * loci)).cast("bigint") % n_band + 1).alias("_d"),
        (((F.col("id") * 31) % 19) + 1).cast("bigint").alias(
            "contact_count"
        ),
    )
    kr_src = (
        kr_src.withColumn(
            "mid2", F.col("mid1") + F.col("_d") * res_kr
        )
        .filter(F.col("mid2") < loci * res_kr)
        .withColumn("chr2", F.col("chr1"))
        .select("chr1", "mid1", "chr2", "mid2", "contact_count")
        .groupBy("chr1", "mid1", "chr2", "mid2")
        .agg(F.sum("contact_count").alias("contact_count"))
    )
    t0 = time.time()
    kb = kr_biases(kr_src, res_kr).persist()
    n_bias = kb.count()
    n_sentinel = kb.filter(F.col("bias") < 0).count()
    kr_s = time.time() - t0
    assert n_sentinel == 0, f"{n_sentinel} loci failed to balance"
    # distributed row-sum verification: sum_j x_i A_ij x_j == 1
    sym_kr = kr_src.select(
        F.col("chr1").alias("chr"), "mid1", "mid2", "contact_count"
    ).union(
        kr_src.filter(F.col("mid1") != F.col("mid2")).select(
            F.col("chr1").alias("chr"),
            F.col("mid2").alias("mid1"),
            F.col("mid1").alias("mid2"),
            "contact_count",
        )
    )
    b1 = kb.select(
        F.col("chr"), F.col("mid").alias("mid1"), F.col("bias").alias("x1")
    )
    b2 = kb.select(
        F.col("chr"), F.col("mid").alias("mid2"), F.col("bias").alias("x2")
    )
    rs_stats = (
        sym_kr.join(b1, ["chr", "mid1"])
        .join(b2, ["chr", "mid2"])
        .groupBy("chr", "mid1")
        .agg(
            F.sum(
                F.col("x1") * F.col("contact_count") * F.col("x2")
            ).alias("rs")
        )
        .agg(
            F.min("rs").alias("lo"),
            F.max("rs").alias("hi"),
            F.avg("rs").alias("avg"),
        )
        .collect()[0]
    )
    kb.unpersist()
    # biases are normalized to mean 1 per chr, so row sums are uniform
    # per chr (= 1/norm^2), not globally 1; the gate is per-row
    # uniformity: max/min spread within each chr < 1e-4.  Cheap global
    # proxy: hi/lo < 1 + 1e-3 holds only if every chr's rows are tight
    # AND chr norms are close; assert the per-chr spread instead.
    per_chr = (
        sym_kr.join(b1, ["chr", "mid1"])
        .join(b2, ["chr", "mid2"])
        .groupBy("chr", "mid1")
        .agg(
            F.sum(
                F.col("x1") * F.col("contact_count") * F.col("x2")
            ).alias("rs")
        )
        .groupBy("chr")
        .agg((F.max("rs") / F.min("rs")).alias("spread"))
        .agg(F.max("spread").alias("worst"))
        .collect()[0]["worst"]
    )
    assert per_chr < 1.0 + 1e-4, per_chr
    assert n_bias == 8 * loci, n_bias

    # ---- streaming materialized view at scale (8M-event batch) -------
    # one availableNow micro-batch through agg_stream_sink; closed-form
    # exact per-type decimal totals (value = (id%1000)/10, type = id%5,
    # 5 | 1000 so each type sees the same 200-value cycle).
    from pfithic_spark.io import read_parquet_atomic
    from pfithic_spark.streaming import agg_stream_sink, read_event_stream

    mv_dir = tempfile.mkdtemp(prefix="mv_bench_")
    mv_tbl = tempfile.mkdtemp(prefix="mv_tbl_")
    mv_ck = tempfile.mkdtemp(prefix="mv_ck_") + "/ck"
    try:
        spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(F.lit(h_us) + F.col("id")).alias("ts"),
            (F.col("id") % 97).alias("user_id"),
            F.concat(F.lit("t"), (F.col("id") % 5)).alias("event_type"),
            ((F.col("id") % 1000).cast("double") / 10.0).alias("value"),
            F.lit("{}").alias("props"),
        ).coalesce(8).write.mode("overwrite").parquet(mv_dir)
        t0 = time.time()
        q_mv = agg_stream_sink(
            read_event_stream(spark, mv_dir, max_files_per_trigger=8),
            mv_tbl,
            mv_ck,
        )
        q_mv.awaitTermination(400)
        state = {
            r["g"]: (str(r["total"]), r["n"])
            for r in read_parquet_atomic(spark, mv_tbl).collect()
        }
        mv_s = time.time() - t0
        blocks = n // 1000
        for t in range(5):
            cyc = sum((t + 5 * j) / 10 for j in range(200))
            want = blocks * cyc
            got_total, got_n = state[f"t{t}"]
            assert got_n == n // 5, (t, got_n)
            assert abs(float(got_total) - want) < 1e-3, (t, got_total, want)
    finally:
        shutil.rmtree(mv_dir, ignore_errors=True)
        shutil.rmtree(mv_tbl, ignore_errors=True)
        shutil.rmtree(os.path.dirname(mv_ck), ignore_errors=True)

    # ---- rolling-7-day WAU at scale (8M events) ----------------------
    # every user active every day: wau == U on each of the D observed
    # days; exercises the dedup + sequence-explode + distinct-count
    # pipeline end to end with a closed-form gate.
    U_w, D_w = n // 80, 16  # 100k users x 16 days x 5 reps at n=8M
    wau_dir = tempfile.mkdtemp(prefix="wau_bench_")
    try:
        spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(h_us)
                + ((F.col("id") / U_w).cast("bigint") % D_w)
                * 86_400_000_000
            ).alias("ts"),
            (F.col("id") % U_w).alias("user_id"),
            F.lit("e").alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        ).write.mode("overwrite").parquet(
            os.path.join(wau_dir, "events.parquet")
        )
        t0 = time.time()
        wau_rows = {
            r["report_day"]: r["wau"]
            for r in reg.QUERIES["q_wau"](spark, wau_dir).collect()
        }
        wau_s = time.time() - t0
        assert len(wau_rows) == D_w, len(wau_rows)
        assert all(v == U_w for v in wau_rows.values()), sorted(
            set(wau_rows.values())
        )
    finally:
        shutil.rmtree(wau_dir, ignore_errors=True)

    # ---- edit-distance dedup: planted hot-prefix block ---------------
    # 50k planted near-dup pairs, each in its OWN base36 4-char block,
    # plus ~7.9M boilerplate docs ALL sharing the 'http' prefix block.
    # Without EDIT_DEDUP_MAX_BLOCK the hot block alone contributes
    # ~3·10^13 intra-block comparisons (identical 32-char prefixes →
    # none filtered) and the join never finishes; with the cap the hot
    # block is dropped and EXACTLY the planted pairs survive.
    P_ed = 50_000
    ed_dir = tempfile.mkdtemp(prefix="edit_hot_")
    try:
        pid = (F.col("id") / 2).cast("long")
        planted = spark.range(2 * P_ed).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lpad(F.lower(F.conv(pid.cast("string"), 10, 36)), 4, "0"),
                F.lit(" tail"),
                pid,
                F.lit(" m"),
                (F.col("id") % 2),
                F.lit(" end filler words"),
            ).alias("text"),
        )
        hot = spark.range(2 * P_ed, n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("http boilerplate terms of service agreement "),
                F.col("id"),
            ).alias("text"),
        )
        planted.unionByName(hot).select(
            "doc_id",
            "text",
            F.lit("en").alias("lang"),
            F.lit("web").alias("source"),
            F.length("text").alias("n_chars"),
        ).write.mode("overwrite").parquet(
            os.path.join(ed_dir, "documents.parquet")
        )
        t0 = time.time()
        ed = reg.QUERIES["q_edit_distance_dedup"](spark, ed_dir)
        n_ed, gmin, gmax, dmax, odd1 = ed.agg(
            F.count(F.lit(1)),
            F.min(F.col("id2") - F.col("id1")),
            F.max(F.col("id2") - F.col("id1")),
            F.max("dist"),
            F.sum((F.col("id1") % 2).cast("long")),
        ).collect()[0]
        edit_hotblock_s = time.time() - t0
        assert n_ed == P_ed, (n_ed, P_ed)
        assert gmin == 1 and gmax == 1, (gmin, gmax)
        assert dmax == 1 and odd1 == 0, (dmax, odd1)
    finally:
        shutil.rmtree(ed_dir, ignore_errors=True)

    # ---- substring-level dedup: planted repeated spans at 8M tokens --
    # 160k docs × 50 tokens.  5k doc pairs share a private 10-token
    # span (positions 20–29); EVERY doc carries the same boilerplate
    # 8-token span (40–47) — the df=160k hot anchor that proves the
    # min/max cross-doc flag needs no posting list.  All other tokens
    # are globally unique.  Closed form: planted docs cover 10+8=18
    # dup tokens in 2 spans; everyone else exactly 8 in 1.
    N_SS, PP = 160_000, 5_000
    ss_dir = tempfile.mkdtemp(prefix="substr_")
    try:
        toks = []
        for j in range(50):
            base = F.concat(F.lit("t"), F.col("id"), F.lit(f"x{j}"))
            if 40 <= j <= 47:
                toks.append(F.lit(f"b{j}"))
            elif 20 <= j <= 29:
                toks.append(
                    F.when(
                        F.col("id") < 2 * PP,
                        F.concat(
                            F.lit("s"),
                            (F.col("id") / 2).cast("long"),
                            F.lit(f"_{j}"),
                        ),
                    ).otherwise(base)
                )
            else:
                toks.append(base)
        spark.range(N_SS).select(
            F.col("id").alias("doc_id"),
            F.array_join(F.array(*toks), " ").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("web").alias("source"),
            F.lit(0).alias("n_chars"),
        ).write.mode("overwrite").parquet(
            os.path.join(ss_dir, "documents.parquet")
        )
        t0 = time.time()
        ss = reg.QUERIES["q_dedup_substring"](spark, ss_dir)
        agg = ss.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    (F.col("doc_id") < 2 * PP)
                    & (F.col("dup_tokens") == 18)
                    & (F.col("n_spans") == 2)
                ).cast("long")
            ).alias("ok_planted"),
            F.sum(
                (
                    (F.col("doc_id") >= 2 * PP)
                    & (F.col("dup_tokens") == 8)
                    & (F.col("n_spans") == 1)
                ).cast("long")
            ).alias("ok_rest"),
        ).collect()[0]
        substring_s = time.time() - t0
        assert agg["n"] == N_SS, agg
        assert agg["ok_planted"] == 2 * PP, agg
        assert agg["ok_rest"] == N_SS - 2 * PP, agg
    finally:
        shutil.rmtree(ss_dir, ignore_errors=True)

    # ---- point-in-time join: 8M facts × 200k-user versioned dim ------
    # hourly versions per user; probes shift +30 min, so every probe
    # must match its OWN originating version — an n-row closed form.
    U_pit = 200_000
    pit_dir = tempfile.mkdtemp(prefix="pit_")
    try:
        spark.range(n).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(h_us)
                + (F.col("id") / U_pit).cast("bigint") * 3_600_000_000
            ).alias("ts"),
            (F.col("id") % U_pit).alias("user_id"),
            F.concat(F.lit("t"), F.col("id") % 5).alias("event_type"),
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        ).write.mode("overwrite").parquet(
            os.path.join(pit_dir, "events.parquet")
        )
        t0 = time.time()
        pit = reg.QUERIES["q_join_pit"](spark, pit_dir)
        n_pit, n_self = pit.agg(
            F.count(F.lit(1)),
            F.sum(
                (F.col("version_event_id") == F.col("probe_id")).cast("long")
            ),
        ).collect()[0]
        join_pit_s = time.time() - t0
        assert n_pit == n and n_self == n, (n_pit, n_self, n)
    finally:
        shutil.rmtree(pit_dir, ignore_errors=True)

    # ---- corr matrix / quantile discretize: 8M-row lineitem ----------
    # l_extendedprice = 2·l_quantity + 5 (corr exactly +1);
    # l_discount cycles on the orthogonal grid axis (corr exactly 0
    # over complete 1000×1000 grids — n must stay a multiple of 1e6).
    cm_dir = tempfile.mkdtemp(prefix="cm_")
    try:
        x = (F.col("id") % 1000).cast("double")
        y = ((F.col("id") / 1000).cast("bigint") % 1000).cast("double")
        spark.range(n).select(
            F.col("id").alias("l_orderkey"),
            (F.col("id") % 7).cast("int").alias("l_linenumber"),
            x.alias("l_quantity"),
            (x * 2.0 + 5.0).alias("l_extendedprice"),
            y.alias("l_discount"),
            F.lit(0.0).alias("l_tax"),
            F.concat(F.lit("g"), F.col("id") % 8).alias("l_returnflag"),
            F.lit("O").alias("l_linestatus"),
            F.timestamp_micros(F.lit(h_us)).alias("l_shipdate"),
            F.lit(0).alias("l_partkey"),
            F.lit(0).alias("l_suppkey"),
        ).write.mode("overwrite").parquet(
            os.path.join(cm_dir, "lineitem.parquet")
        )
        t0 = time.time()
        cm = {
            (r["col_x"], r["col_y"]): r["corr"]
            for r in reg.QUERIES["q_corr_matrix"](spark, cm_dir).collect()
        }
        corr_matrix_s = time.time() - t0
        assert cm[("l_quantity", "l_extendedprice")] == 1.0, cm
        assert cm[("l_quantity", "l_discount")] == 0.0, cm
        assert cm[("l_extendedprice", "l_discount")] == 0.0, cm

        # exact ntile deciles: 8 groups × 1M rows → 100k per bucket
        t0 = time.time()
        qd = reg.QUERIES["q_quantile_discretize"](spark, cm_dir)
        sizes = [r["n"] for r in qd.collect()]
        qdisc_exact_s = time.time() - t0
        assert len(sizes) == 80 and all(s == n // 80 for s in sizes), (
            len(sizes),
            sorted(set(sizes)),
        )

        # the documented 100 TB swap: approx_percentile edges (one
        # mergeable-sketch agg) + broadcast bucketize — no per-group
        # single-task sort.  Gate: every bucket within 5% of n/80.
        t0 = time.time()
        li = spark.read.parquet(os.path.join(cm_dir, "lineitem.parquet"))
        edges = li.groupBy("l_returnflag").agg(
            F.expr(
                "approx_percentile(l_extendedprice, "
                "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)"
            ).alias("e")
        )
        j = li.select("l_returnflag", "l_extendedprice").join(
            F.broadcast(edges), "l_returnflag"
        )
        bucket = F.lit(1)
        for i in range(9):
            bucket = bucket + (
                F.col("l_extendedprice") > F.col("e")[i]
            ).cast("int")
        ap = (
            j.select("l_returnflag", bucket.alias("bucket"))
            .groupBy("l_returnflag", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        qdisc_approx_s = time.time() - t0
        tgt = n // 80
        assert all(abs(r["n"] - tgt) <= tgt * 0.05 for r in ap), sorted(
            (r["n"] for r in ap)
        )[:5]
    finally:
        shutil.rmtree(cm_dir, ignore_errors=True)

    # ---- IVF index at 8M embeddings: build + pruned probe + recall ---
    # queries are 2× copies of planted corpus vectors (cosine is scale
    # invariant and doubling is exact in binary floating point), so
    # each query's true nearest neighbor is its planted source with
    # cosine exactly 1.0 after round(6) — recall is closed-form gated.
    DIM, KC, NQ = 16, 64, 32
    ivf_dir = tempfile.mkdtemp(prefix="ivf8m_") + "/index"
    try:
        # per-dim DISTINCT prime moduli: the joint period is their
        # product (~10^53), so no two corpus ids share a vector — a
        # shared modulus would repeat vectors with that period and
        # break the unique-nearest-neighbor gate
        comps = [
            (
                ((F.col("id") * p + o) % m).cast("double") / 1000.0
                - 1.0
            ).cast("float")
            for (p, o), m in zip(
                [
                    (7919, 13), (104729, 101), (1299709, 57),
                    (15485863, 7), (32452843, 19), (49979687, 3),
                    (67867967, 29), (86028121, 5), (2750159, 11),
                    (4256233, 23), (5800079, 31), (7368787, 37),
                    (8960453, 41), (10570841, 43), (12195257, 47),
                    (13834103, 53),
                ],
                [
                    1999, 2003, 2011, 2017, 2027, 2029, 2039, 2053,
                    2063, 2069, 2081, 2083, 2087, 2089, 2099, 2111,
                ],
            )
        ]
        corpus = spark.range(n).select(
            F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
        )
        planted_ids = [jj * (n // NQ) + 17 for jj in range(NQ)]
        queries = (
            corpus.filter(F.col("vec_id").isin(planted_ids))
            .select(
                (F.col("vec_id") + n).alias("vec_id"),
                F.transform(
                    "embedding", lambda v: (v * F.lit(2.0)).cast("float")
                ).alias("embedding"),
            )
        )
        cents = llmops.ivf_train_centroids(corpus, k=KC)
        t0 = time.time()
        llmops.ivf_write_index(corpus, cents, ivf_dir)
        ivf_build_s = time.time() - t0
        t0 = time.time()
        top = llmops.ivf_topk_pruned(
            spark, ivf_dir, queries, cents, k=10, nprobe=4
        )
        top1 = {
            r["q_id"] - n: (r["e_id"], r["cosine"])
            for r in top.filter(F.col("rn") == 1).collect()
        }
        ivf_probe_s = time.time() - t0
        assert len(top1) == NQ, len(top1)
        for jj, pid_ in enumerate(planted_ids):
            got = top1[pid_]
            assert got == (pid_, 1.0), (jj, pid_, got)
    finally:
        shutil.rmtree(os.path.dirname(ivf_dir), ignore_errors=True)

    # --- q_star_agg shape: 8M fact><fact shuffle + broadcast dims ----
    # uniform modular construction => closed-form revenue: every
    # lineitem is 10.00 at 10% discount = 9.00 net, so each of the 5
    # regions books exactly (n/5) * 9.00 dollars
    import tempfile

    star_dir = tempfile.mkdtemp(prefix="star8m_")
    try:
        n_ord = n // 4
        spark.range(n).select(
            (F.col("id") % n_ord).alias("l_orderkey"),
            (F.col("id") % 20000).alias("l_partkey"),
            F.lit(10.00).alias("l_extendedprice"),
            F.lit(0.10).alias("l_discount"),
        ).write.mode("overwrite").parquet(f"{star_dir}/lineitem")
        spark.range(n_ord).select(
            F.col("id").alias("o_orderkey"),
            (F.col("id") % 200000).alias("o_custkey"),
            # year index = (id % 25) div 5 is INDEPENDENT of region =
            # id % 5 (given 200000 % 25 == 0), so all 25 (region,
            # year) cells fill with exactly n_ord/25 orders each
            F.to_timestamp(
                F.concat(
                    (F.lit(1995) + F.expr("(id % 25) div 5")).cast(
                        "string"
                    ),
                    F.lit("-06-01"),
                )
            ).alias("o_orderdate"),
        ).write.mode("overwrite").parquet(f"{star_dir}/orders")
        cust = spark.range(200000).select(
            F.col("id").alias("c_custkey"),
            (F.col("id") % 25).alias("c_nationkey"),
        )
        nat = spark.range(25).select(
            F.col("id").alias("n_nationkey"),
            (F.col("id") % 5).alias("n_regionkey"),
        )
        reg = spark.range(5).select(
            F.col("id").alias("r_regionkey"),
            F.concat(F.lit("R"), F.col("id")).alias("r_name"),
        )
        li8 = spark.read.parquet(f"{star_dir}/lineitem")
        or8 = spark.read.parquet(f"{star_dir}/orders")
        units = F.round(F.col("l_extendedprice") * 100, 0).cast(
            "long"
        ) * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
        t0 = time.time()
        star = (
            li8.join(or8, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
            .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
            .join(F.broadcast(reg), F.col("r_regionkey") == F.col("n_regionkey"))
            .groupBy("r_name", F.year("o_orderdate").alias("o_year"))
            .agg((F.sum(units).cast("double") / 10000).alias("revenue"))
        ).collect()
        star_agg_s = time.time() - t0
        # 5 regions x 5 years; revenue splits evenly by construction
        assert len(star) == 25, len(star)
        tot_rev = sum(r["revenue"] for r in star)
        assert abs(tot_rev - n * 9.0) < 1e-6, (tot_rev, n * 9.0)
    finally:
        shutil.rmtree(star_dir, ignore_errors=True)

    # --- q_assoc_rules basket cap: planted 100k-item mega-basket -----
    # without the <=64-item cap the mega-basket alone fans out
    # C(100k,2) ~ 5e9 pairs inside ONE join group and the run never
    # finishes; with it, the planted support-(n/4)-pair dominates.
    # layout: basket id b in [0, n/4) holds items {7, 8, 1000 + b%50,
    # 2000 + b%50}; basket n/4 (the hot one) holds 100k distinct items.
    from pfithic_spark.registry.keys_r6 import ASSOC_MAX_BASKET

    n_b = n // 4
    normal = spark.range(n_b).select(
        F.explode(
            F.array(
                F.struct(F.col("id").alias("k"), F.lit(7).cast("long").alias("i")),
                F.struct(F.col("id").alias("k"), F.lit(8).cast("long").alias("i")),
                F.struct(F.col("id").alias("k"), (1000 + F.col("id") % 50).alias("i")),
                F.struct(F.col("id").alias("k"), (2000 + F.col("id") % 50).alias("i")),
            )
        ).alias("s")
    ).select(F.col("s.k").alias("l_orderkey"), F.col("s.i").alias("l_partkey"))
    hot = spark.range(100000).select(
        F.lit(n_b).cast("long").alias("l_orderkey"),
        (F.lit(1000000) + F.col("id")).alias("l_partkey"),
    )
    b0 = normal.unionAll(hot)
    t0 = time.time()
    ok = (
        b0.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= ASSOC_MAX_BASKET)
        .select("l_orderkey")
    )
    b = b0.join(ok, "l_orderkey", "left_semi")
    pairs = (
        b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
        .join(
            b.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb")),
            "k",
        )
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
    )
    top_pair = pairs.orderBy(F.desc("support"), "pa", "pb").limit(1).collect()
    assoc_cap_s = time.time() - t0
    # planted truth: (7, 8) co-occurs in every one of the n/4 normal
    # baskets; the capped mega-basket contributes zero pairs
    assert top_pair[0]["pa"] == 7 and top_pair[0]["pb"] == 8, top_pair
    assert top_pair[0]["support"] == n_b, (top_pair[0]["support"], n_b)

    # --- q_dedup_lsh_cosine: 1M x 64-dim vectors, 32-plane LSH ------
    # Walsh planes over 64 dims (j = 1..32 mutually orthogonal);
    # 16-bit bands put ~nv^2/2^16 random pairs per band.  Data is
    # xxhash64-mixed (a lattice generator clusters directions: the
    # rank-1 construction measured 2e9+ candidate pairs at 500k
    # vectors).  nv/2 planted exact-dup twins (i, i + nv/2 share the
    # hash base) must collide in every band and verify at cosine 1.0.
    from pfithic_spark import llmops as llm

    nv = n // 8
    base8 = (F.col("id") % (nv // 2)).cast("long")
    vec64 = F.array(
        *[
            (F.xxhash64(base8, F.lit(d)) % 999983).cast("float")
            for d in range(64)
        ]
    )
    emb8 = spark.range(nv).select(
        F.col("id").alias("vec_id"), vec64.alias("embedding")
    )
    t0 = time.time()
    # threshold=-1.01 keeps EVERY candidate (cosine in [-1, 1]), so
    # n_cand really counts band-bucket candidates — a post-threshold
    # count would stay ~nv/2 no matter how quadratic the buckets got,
    # hiding exactly the clustering regression this row exists to
    # catch
    lsh_pairs = llm.lsh_cosine_pairs(
        emb8, n_planes=32, n_bands=2, threshold=-1.01
    )
    # ONE aggregation (branching would re-run the whole LSH chain)
    n_cand, n_planted = lsh_pairs.agg(
        F.count(F.lit(1)),
        F.sum(
            (
                (F.col("id2") - F.col("id1") == nv // 2)
                & (F.col("cosine") >= 0.999999)
            ).cast("long")
        ),
    ).collect()[0]
    lsh_s = time.time() - t0
    # every planted twin (identical vectors -> identical signatures ->
    # both bands collide) must be recovered at cosine 1.0
    assert n_planted == nv // 2, (n_planted, nv // 2)
    # uniform 16-bit buckets give ~nv^2/2^16 random CANDIDATES per
    # band; 40x headroom still catches a clustering regression (a hot
    # bucket is quadratic: 3e11 pairs at nv=1M)
    assert n_planted <= n_cand <= nv // 2 + 40 * (nv**2 // 65536), (
        n_cand,
        nv,
    )

    # --- q_dedup_lsh_cosine: 8M vectors, THRESHOLD-PRUNED scoring ----
    # (VERDICT r6 #4) The 1M row above deliberately scores ALL
    # candidates to validate the bucket bound; this row is the
    # production shape — a real threshold (0.8) with planted near-dups
    # at GRADED cosines, so the verify-join's pruning is measured.
    # Construction: ±1-component 64-dim vectors (equal magnitudes make
    # cosine = sign-agreement ratio EXACTLY — flipping k of 64 dims
    # gives cosine (64-2k)/64, a closed form), twin id = base + nv/2
    # with k = [0,2,6,16,24][base % 5] leading dims flipped.  Grades
    # {0: 1.0, 2: 0.9375, 6: 0.8125} sit above the threshold, {16: 0.5,
    # 24: 0.25} below — output must contain EVERY exact twin, ZERO
    # below-threshold rows, and the graded twins only when their bands
    # genuinely collide (recall is the banding's honest property:
    # measured 13.8% at k=2, 0.9% at k=6 with 2x24-bit bands at 8M).
    # 48 planes / 2 bands: 24-bit buckets keep random candidates
    # ~C(nv,2)/2^24 per band — linear-ish at 8M (16-bit bands would be
    # half a billion).
    nv2 = n
    half2 = nv2 // 2
    base2 = (F.col("id") % half2).cast("long")
    is_twin = F.col("id") >= half2
    k_expr = F.element_at(
        F.array(*[F.lit(v) for v in [0, 2, 6, 16, 24]]),
        (base2 % 5 + 1).cast("int"),
    )
    comps = []
    for d in range(64):
        sign = F.when(
            F.xxhash64(base2, F.lit(d)) % 2 == 0, F.lit(1.0)
        ).otherwise(F.lit(-1.0))
        flip = F.when(
            is_twin & (F.lit(d) < k_expr), F.lit(-1.0)
        ).otherwise(F.lit(1.0))
        comps.append((sign * flip).cast("float"))
    emb_g = spark.range(nv2).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
    )
    t0 = time.time()
    graded = llm.lsh_cosine_pairs(
        emb_g, n_planes=48, n_bands=2, threshold=0.8
    )
    g = graded.agg(
        F.count(F.lit(1)).alias("n_out"),
        F.sum(
            (F.col("id2") - F.col("id1") != half2).cast("long")
        ).alias("n_nonplanted"),
        F.sum((F.col("cosine") == 1.0).cast("long")).alias("k0"),
        F.sum((F.col("cosine") == 0.9375).cast("long")).alias("k2"),
        F.sum((F.col("cosine") == 0.8125).cast("long")).alias("k6"),
        F.sum((F.col("cosine") < 0.8).cast("long")).alias("below"),
    ).collect()[0]
    lsh_graded_s = time.time() - t0
    n_grade = half2 // 5 + (1 if half2 % 5 else 0)
    # every exact twin collides in BOTH bands -> must all be recovered
    assert g["k0"] == n_grade, (g["k0"], n_grade)
    # the threshold filter must actually prune: nothing below 0.8
    assert g["below"] == 0, g["below"]
    # non-planted survivors are chance >=58/64-agreement pairs (about
    # 4e-12 per random pair; ~128 exist in the whole 8M corpus, the
    # banding finds the few whose signatures still collide — 3 at 8M).
    # A quadratic bucket regression would put MILLIONS here.
    assert g["n_nonplanted"] <= 64, g["n_nonplanted"]
    # graded recall floors (per-pair collision probability is scale-
    # independent): measured 13.8% (k=2) and 0.94% (k=6) at 8M
    assert g["k2"] >= n_grade * 5 // 100, (g["k2"], n_grade)
    assert g["k6"] >= n_grade // 1000, (g["k6"], n_grade)

    # --- q_cusum_changepoint: 8M facts -> bounded day grain ----------
    # two series; series 1 steps +100 cents/value at day >= 1250 of
    # 2500, so the closed-form CUSUM argmax is day index 1249
    n_days = 2500
    # grp = (id div n_days) % 2, NOT id % 2: with an even n_days the
    # latter parity-locks series to alternating days (each series
    # would hold only 1250 of the 2500 days and the closed-form gate
    # would pass by parity coincidence)
    grp8 = (F.col("id") / n_days).cast("long") % 2
    ev8 = spark.range(n).select(
        grp8.alias("grp"),
        (F.col("id") % n_days).alias("day"),
        F.when(
            (grp8 == 1) & (F.col("id") % n_days >= n_days // 2),
            F.lit(200),
        )
        .otherwise(F.lit(100))
        .alias("c"),
    )
    from pyspark.sql import Window as W

    t0 = time.time()
    d8 = ev8.groupBy("grp", "day").agg(F.sum("c").alias("c"))
    wo = W.partitionBy("grp").orderBy("day")
    wf = W.partitionBy("grp")
    w8 = d8.select(
        "grp",
        "day",
        F.sum("c").over(wo.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(wo).alias("t"),
        F.sum("c").over(wf).alias("s"),
        F.count(F.lit(1)).over(wf).alias("n"),
    )
    a8 = F.abs(F.col("n") * F.col("cum") - F.col("t") * F.col("s"))
    cp = (
        w8.select(
            "grp",
            "day",
            F.row_number()
            .over(W.partitionBy("grp").orderBy(a8.desc(), "day"))
            .alias("r"),
        )
        .filter(F.col("r") == 1)
        .collect()
    )
    cusum_s = time.time() - t0
    got_cp = {r["grp"]: r["day"] for r in cp}
    # series 1: level shift at the midpoint => argmax lands on the
    # last pre-shift day (n_days//2 - 1); series 0 is flat (argmax
    # degenerates to the earliest-day tiebreak, day 0)
    assert got_cp[1] == n_days // 2 - 1, got_cp
    assert got_cp[0] == 0, got_cp

    # --- scalable_trailing_aggs: 8M rows, TWO partition values -------
    # (round-7: the q_anomaly_zscore modernization) A plain
    # W.partitionBy(part) trailing window would serialize 4M rows onto
    # each of TWO tasks; the rank-chunked form parallelizes at any
    # volume.  value=1 gives the closed form: per part of m rows,
    # Σ_r min(100, r-1) = 4950 + (m-100)·100.
    tr_in = spark.range(n).select(
        (F.col("id") % 2).alias("g"),
        F.floor(F.col("id") / 2).cast("long").alias("t"),
        "id",
        F.lit(1).cast("decimal(18,4)").alias("v"),
    )
    t0 = time.time()
    tr = win.scalable_trailing_aggs(
        tr_in,
        ["g"],
        ["t", "id"],
        {"tn": F.count(F.lit(1)), "ts": F.sum(F.col("v"))},
        lookback=100,
        small_threshold=None,
    )
    tr_rows, tr_n, tr_s = tr.agg(
        F.count(F.lit(1)), F.sum("tn"), F.sum("ts")
    ).collect()[0]
    trailing_s = time.time() - t0
    m = n // 2
    want = 2 * (4950 + (m - 100) * 100)
    assert tr_rows == n, tr_rows
    assert tr_n == want, (tr_n, want)
    assert int(tr_s) == want, (tr_s, want)

    # --- q_source_vocab_overlap: hot token across 8M docs ------------
    # every doc contains "the" (df = n) — the C(S,2)-per-token bound
    # is what keeps the self-join finite; 10 sources, planted vocab:
    # source s owns tokens {s*1000 .. s*1000+999} plus the shared
    # "the", and sources 2j/2j+1 additionally share token "pairj"
    src_col = (F.col("id") % 10).cast("string")
    docs8 = spark.range(n).select(
        F.concat(F.lit("s"), src_col).alias("source"),
        F.concat_ws(
            " ",
            F.lit("the"),
            F.concat(F.lit("t"), (F.col("id") % 10) * 1000 + F.col("id") % 1000),
            F.when(
                F.col("id") % 2 == 0,
                F.concat(F.lit("pair"), (F.col("id") % 10) / 2),
            ).otherwise(F.concat(F.lit("pair"), (F.col("id") % 10 - 1) / 2)),
        ).alias("text"),
    )
    t0 = time.time()
    st8 = docs8.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    a8v = st8.select(F.col("source").alias("src1"), "tok")
    b8v = st8.select(F.col("source").alias("src2"), "tok")
    inter8 = (
        a8v.join(b8v, "tok")
        .filter(F.col("src1") < F.col("src2"))
        .groupBy("src1", "src2")
        .agg(F.count(F.lit(1)).alias("ni"))
        .collect()
    )
    vocab_overlap_s = time.time() - t0
    ni_map = {(r["src1"], r["src2"]): r["ni"] for r in inter8}
    assert len(ni_map) == 45, len(ni_map)  # C(10,2) pairs exist via "the"
    # paired sources share "the" + their pair token = 2; others just 1
    for (s1, s2), ni in ni_map.items():
        i1, i2 = int(s1[1:]), int(s2[1:])
        want = 2 if (i1 // 2 == i2 // 2) else 1
        assert ni == want, (s1, s2, ni, want)

    # --- q_theil_sen_trend: 8M orders -> 2,000-day grain -> 2M slopes
    # Daily totals: c(d) = 100_000 + 250*d + jitter(d) cents, jitter a
    # deterministic ±500 hash mix — slopes spread (no degenerate
    # all-equal range partition) while numpy recomputes the exact
    # expected median from the same closed-form day table.  The row
    # also times scalable_rank's branch-point checkpoint at 2M rows.
    n_days_ts = 2_000
    per_day_ts = n // n_days_ts
    day_ts = (F.col("id") % n_days_ts).cast("long")
    jit = (day_ts * 2654435761) % 1001 - 500
    daily_total = F.lit(100_000) + day_ts * 250 + jit
    j_ts = (F.col("id") / n_days_ts).cast("long")
    ord_ts = spark.range(n).select(
        day_ts.alias("day"),
        F.when(
            j_ts == 0, daily_total - (per_day_ts - 1) * 25
        ).otherwise(F.lit(25)).cast("long").alias("cents"),
    )
    t0 = time.time()
    d_ts = ord_ts.groupBy("day").agg(F.sum("cents").alias("c"))
    a_ts = d_ts.alias("a")
    b_ts = d_ts.alias("b")
    p_ts = a_ts.join(
        F.broadcast(b_ts), F.col("a.day") < F.col("b.day")
    ).select(
        (
            (F.col("b.c") - F.col("a.c")).cast("double")
            / (F.col("b.day") - F.col("a.day"))
        ).alias("slope")
    )
    p_ts = p_ts.persist()  # the shipped key's shape: one slope build
    ranked_ts = win.scalable_rank(
        p_ts, [F.col("slope")], "slope", rank_col="rk", tot_col="tot"
    )
    med_row = (
        ranked_ts.filter(
            (F.col("rk") == F.expr("(tot + 1) div 2"))
            | (F.col("rk") == F.expr("(tot + 2) div 2"))
        )
        .agg(F.max("tot").alias("tot"), F.avg("slope").alias("med"))
        .collect()[0]
    )
    theil_sen_s = time.time() - t0
    p_ts.unpersist()  # release before the later 8M sections
    dd = np.arange(n_days_ts, dtype=np.int64)
    cd = 100_000 + 250 * dd + (dd * 2654435761) % 1001 - 500
    i_idx, j_idx = np.triu_indices(n_days_ts, k=1)
    slopes_np = (cd[j_idx] - cd[i_idx]).astype(np.float64) / (
        j_idx - i_idx
    )
    slopes_np.sort()
    m_np = slopes_np.shape[0]
    exp_med = (
        slopes_np[(m_np + 1) // 2 - 1] + slopes_np[(m_np + 2) // 2 - 1]
    ) / 2.0
    assert med_row["tot"] == n_days_ts * (n_days_ts - 1) // 2, med_row
    assert med_row["med"] == exp_med, (med_row["med"], exp_med)

    # --- q_gains_table's documented 100 TB swap: two-phase decile ----
    # 8M customers with distinct cents 1..n ranked desc via
    # scalable_rank; decile sums have exact arithmetic closed forms.
    rc_g = spark.range(n).select(
        F.col("id").alias("cust"), (F.col("id") + 1).alias("cents")
    )
    t0 = time.time()
    rk_g = win.scalable_rank(
        rc_g,
        [F.col("cents").desc(), F.col("cust")],
        "cents",
        rank_col="rk",
        descending=True,
    )
    dec_g = (
        rk_g.withColumn(
            "decile", F.expr(f"((rk - 1) * 10) div {n} + 1")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_c"), F.sum("cents").alias("c"))
        .collect()
    )
    gains_rank_s = time.time() - t0
    assert len(dec_g) == 10, len(dec_g)
    got_dec = {r["decile"]: (r["n_c"], r["c"]) for r in dec_g}
    for q in range(1, 11):
        # decile q holds cents values (n - q*n/10, n - (q-1)*n/10]
        hi = n - (q - 1) * n // 10
        lo = n - q * n // 10
        want_sum = hi * (hi + 1) // 2 - lo * (lo + 1) // 2
        assert got_dec[q] == (n // 10, want_sum), (q, got_dec[q])

    # --- q_cohort_ltv: 7.68M orders, 192k customers x 40 months ------
    # customer c cohorts at month c % 24 and orders 10.00 monthly for
    # 40 months: the (cohort, age) grid is exactly 24 x 40 with
    # n_active = 8,000 everywhere, retention 1.0, cum_ltv = 10*(age+1).
    u_cl = 192_000
    n_cl = u_cl * 40
    cust_cl = (F.col("id") / 40).cast("long")
    ord_cl = spark.range(n_cl).select(
        cust_cl.alias("cust"),
        ((cust_cl % 24) + F.col("id") % 40).cast("long").alias("ym"),
        F.lit(1000).cast("long").alias("cents"),
    )
    t0 = time.time()
    from pyspark.sql import Window as W

    m_cl = ord_cl.withColumn(
        "m0", F.min("ym").over(W.partitionBy("cust"))
    )
    g_cl = m_cl.groupBy(
        "m0", (F.col("ym") - F.col("m0")).alias("age")
    ).agg(
        F.countDistinct("cust").alias("n_active"),
        F.sum("cents").alias("c"),
    )
    cw_cl = (
        W.partitionBy("m0")
        .orderBy(F.col("age").asc_nulls_last())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    grid = g_cl.select(
        "m0",
        "age",
        "n_active",
        "c",
        F.sum("c").over(cw_cl).alias("cum"),
        F.first("n_active").over(cw_cl).alias("size"),
    ).collect()
    cohort_ltv_s = time.time() - t0
    assert len(grid) == 24 * 40, len(grid)
    for r in grid:
        assert r["n_active"] == 8_000, r
        assert r["c"] == 8_000 * 1000, r
        assert r["cum"] == 8_000 * 1000 * (r["age"] + 1), r
        assert r["size"] == 8_000, r

    # --- q_session_paths: 8M events, 100k users x 20 sessions --------
    # 4-event sessions 40 min apart (gap > 30 min), event types cycle
    # by variant (u + sess) % 4 -> exactly 4 distinct 3-step paths at
    # 500k sessions each; the whole chain (lag gap flag, running
    # session id, in-session row_number, conditional-agg path) is the
    # registered key's, fed µs directly.
    u_sp = 100_000
    e_per = 80
    uid = (F.col("id") / e_per).cast("long")
    j_sp = F.col("id") % e_per
    sess_sp = (j_sp / 4).cast("long")
    pos_sp = j_sp % 4
    var_sp = (uid + sess_sp) % 4
    ev_sp = spark.range(u_sp * e_per).select(
        uid.alias("user_id"),
        F.col("id").alias("event_id"),
        (sess_sp * 2_400_000_000 + pos_sp * 60_000_000)
        .cast("long")
        .alias("us"),
        F.concat(F.lit("e"), ((var_sp + pos_sp) % 5)).alias(
            "event_type"
        ),
    )
    t0 = time.time()
    uw_sp = W.partitionBy("user_id").orderBy("us", "event_id")
    gap_sp = F.col("us") - F.lag("us", 1).over(uw_sp)
    s_sp = ev_sp.withColumn(
        "new_s",
        F.when(gap_sp.isNull() | (gap_sp > 30 * 60 * 1_000_000), 1)
        .otherwise(0),
    ).withColumn(
        "sess",
        F.sum("new_s").over(
            uw_sp.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    rn_sp = s_sp.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("user_id", "sess").orderBy("us", "event_id")
        ),
    ).filter(F.col("r") <= 3)
    p_sp = rn_sp.groupBy("user_id", "sess").agg(
        F.concat_ws(
            ">",
            *[
                F.max(F.when(F.col("r") == i, F.col("event_type")))
                for i in (1, 2, 3)
            ],
        ).alias("path")
    )
    paths = (
        p_sp.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
        .collect()
    )
    session_paths_s = time.time() - t0
    assert len(paths) == 4, [r["path"] for r in paths]
    want_paths = {
        "e0>e1>e2",
        "e1>e2>e3",
        "e2>e3>e4",
        "e3>e4>e0",
    }
    assert {r["path"] for r in paths} == want_paths, paths
    for r in paths:
        assert r["n_sessions"] == 500_000, r

    # --- incremental OPTIMIZE at 8M rows / 256 small files -----------
    # The maintenance pass itself, forced to scale: a 256-file
    # snapshot bin-packs into ~8 target-size files while the row set
    # and an order-free checksum stay exactly intact.
    import os as _os
    import shutil as _shutil

    from pfithic_spark.io import (
        optimize_parquet_atomic,
        read_parquet_atomic,
        write_parquet_atomic,
    )

    opt_path = "/tmp/pfithic_bench_optimize_tbl"
    _shutil.rmtree(opt_path, ignore_errors=True)
    src_opt = spark.range(n).select(
        F.col("id").alias("v"),
        (F.xxhash64(F.col("id")) % 1000).alias("h"),
    )
    write_parquet_atomic(
        src_opt.repartition(256), opt_path, mode="overwrite"
    )
    import json as _json

    m_names = sorted(
        x for x in _os.listdir(opt_path) if x.startswith("manifest-")
    )
    m0_opt = _json.load(open(_os.path.join(opt_path, m_names[-1])))
    szs = [
        _os.path.getsize(_os.path.join(opt_path, rel))
        for rel in m0_opt["files"]
    ]
    assert len(szs) == 256, len(szs)
    t0 = time.time()
    plan_opt = optimize_parquet_atomic(
        spark,
        opt_path,
        target_bytes=(sum(szs) + 7) // 8,
        small_file_bytes=max(szs) + 1,
    )
    optimize_s = time.time() - t0
    assert plan_opt["rewritten_files"] == 256, plan_opt
    m1_opt = _json.load(open(plan_opt["manifest"]))
    assert len(m1_opt["files"]) <= 16, len(m1_opt["files"])
    got_opt = (
        read_parquet_atomic(spark, opt_path)
        .agg(F.count(F.lit(1)), F.sum("v"))
        .collect()[0]
    )
    assert got_opt[0] == n and got_opt[1] == n * (n - 1) // 2, got_opt
    _shutil.rmtree(opt_path, ignore_errors=True)

    # --- scalable_part_rank: 8M rows over 8 shards (q_shuffle_shards)
    # (round-7) A plain partitionBy(shard) row_number is 8 tasks at any
    # volume; the per-part two-phase rank parallelizes per bucket.
    # Gate: within every shard, ranks are a permutation of 1..m —
    # Σrank = m(m+1)/2 and max = m, checked per shard.
    pr_in = spark.range(n).select(
        "id",
        F.xxhash64("id").alias("hkey"),
        F.pmod(F.xxhash64("id"), F.lit(8)).cast("long").alias("shard"),
    )
    t0 = time.time()
    pr = win.scalable_part_rank(pr_in, ["shard"], ["hkey", "id"], "pos")
    pr_chk = (
        pr.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.sum("pos").alias("sr"),
            F.max("pos").alias("mx"),
        )
        .select(
            F.sum(
                F.when(
                    (F.col("sr") == F.col("m") * (F.col("m") + 1) / 2)
                    & (F.col("mx") == F.col("m")),
                    0,
                ).otherwise(1)
            ).alias("bad"),
            F.sum("m").alias("tot"),
        )
        .collect()[0]
    )
    part_rank_s = time.time() - t0
    assert pr_chk["bad"] == 0 and pr_chk["tot"] == n, pr_chk

    # --- q_open_order_backlog shape: 8M intervals [s, s+9] ----------
    # (round-7) Each interval contributes two delta rows; the day grid
    # is calendar-bounded.  With starts uniform over D days (n = k·D
    # exactly), steady-state backlog (days 9..D−1) is exactly 10·k and
    # ramp-up day d < 9 holds (d+1)·k.
    bk_days = 2000
    bk_k = n // bk_days  # n divisible: 8M / 2000 = 4000
    iv = spark.range(bk_days * bk_k).select(
        (F.col("id") % bk_days).cast("long").alias("s")
    ).withColumn("e", F.col("s") + 9)
    t0 = time.time()
    bk_deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("dayidx"), F.lit(1).alias("dl")),
                F.struct((F.col("e") + 1).alias("dayidx"), F.lit(-1).alias("dl")),
            )
        ).alias("x")
    ).select("x.dayidx", "x.dl")
    bk_dd = bk_deltas.groupBy("dayidx").agg(F.sum("dl").alias("d"))
    from pyspark.sql import Window as W

    bk = bk_dd.select(
        "dayidx",
        F.sum("d")
        .over(
            W.orderBy("dayidx").rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .alias("backlog"),
    )
    bk_chk = (
        bk.filter((F.col("dayidx") >= 9) & (F.col("dayidx") < bk_days))
        .agg(F.min("backlog"), F.max("backlog"))
        .collect()[0]
    )
    backlog_s = time.time() - t0
    assert bk_chk[0] == 10 * bk_k and bk_chk[1] == 10 * bk_k, bk_chk

    # --- q_embedding_outliers shape: 2^20 vectors × 64 dims ---------
    # (round-7) One-hot vectors, hot dim (id div 4) % 64, 4 labels:
    # per-(label, dim) counts are exactly 4096/262144 = 1/64, so the
    # centroid means and every vector's dist² are EXACT binary values
    # with a closed form; after the key's round(9) term discipline,
    # dist² = round((63/64)², 9) + 63·round((1/64)², 9) for EVERY
    # vector, and the desc-rank tie-break picks the 5 smallest vec_ids
    # per label.
    n_emb = 1 << 20
    hot = (F.floor(F.col("id") / 4) % 64).cast("int")
    emb_x = spark.range(n_emb).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("label"),
        hot.alias("hot"),
    )
    t0 = time.time()
    x8 = (
        emb_x.select(
            "vec_id",
            "label",
            "hot",
            F.explode(F.sequence(F.lit(1), F.lit(64))).alias("dim"),
        )
        .withColumn(
            "v",
            F.when(F.col("dim") == F.col("hot") + 1, F.lit(1.0)).otherwise(
                F.lit(0.0)
            ),
        )
        .drop("hot")
    )
    cent8 = x8.groupBy("label", "dim").agg(
        (
            F.sum(F.round(F.col("v"), 9).cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    d28 = (
        x8.join(F.broadcast(cent8), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.round(
                    (F.col("v") - F.col("m")) * (F.col("v") - F.col("m")), 9
                ).cast("decimal(28,9)")
            ).alias("dist2_dec")
        )
    )
    w8 = W.partitionBy("label").orderBy(F.col("dist2_dec").desc(), "vec_id")
    top8 = (
        d28.withColumn("rn", F.row_number().over(w8))
        .filter(F.col("rn") <= 5)
        .select("label", "rn", "vec_id", F.col("dist2_dec").cast("double").alias("dist2"))
        .collect()
    )
    emb_outliers_s = time.time() - t0
    want_d2 = round(
        round((63 / 64) ** 2 * 1e9) / 1e9 + 63 * (round((1 / 64) ** 2 * 1e9) / 1e9),
        12,
    )
    assert len(top8) == 20, len(top8)
    for r in top8:
        assert abs(r["dist2"] - want_d2) < 1e-9, (r, want_d2)
        assert r["vec_id"] == r["label"] + 4 * (r["rn"] - 1), r

    # --- q_growth_accounting shape: 100k users × 40 biweekly actives -
    # (round-7) Every user active in EVEN weeks 0,2,..,78: week 0 all
    # NEW; every later even week all RESURRECTED (gap of 1); every odd
    # week ≤ 78 has all 100k users CHURNED (once per gap).
    n_users = 100_000
    ga = spark.range(n_users * 40).select(
        (F.col("id") % n_users).alias("user_id"),
        (2 * F.floor(F.col("id") / n_users)).cast("long").alias("wk"),
    )
    t0 = time.time()
    wug = W.partitionBy("user_id").orderBy("wk")
    lag8 = ga.select(
        "wk",
        F.lag("wk").over(wug).alias("prev"),
        F.lead("wk").over(wug).alias("nxt"),
    )
    act8 = lag8.groupBy("wk").agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0)).alias("n_new"),
        F.sum(
            F.when(
                F.col("prev").isNotNull() & (F.col("prev") < F.col("wk") - 1),
                1,
            ).otherwise(0)
        ).alias("n_res"),
    )
    ch8 = (
        lag8.filter(
            (F.col("nxt").isNull() | (F.col("nxt") > F.col("wk") + 1))
            & (F.col("wk") + 1 <= 78)
        )
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).alias("n_churned"))
    )
    ga_chk = (
        act8.agg(
            F.sum(F.when(F.col("n_active") != n_users, 1).otherwise(0)),
            F.sum("n_new"),
            F.sum("n_res"),
        ).collect()[0],
        ch8.agg(F.count(F.lit(1)), F.sum("n_churned")).collect()[0],
    )
    growth_s = time.time() - t0
    assert ga_chk[0][0] == 0, ga_chk  # every active week holds all users
    assert ga_chk[0][1] == n_users, ga_chk  # new only at week 0
    assert ga_chk[0][2] == 39 * n_users, ga_chk  # resurrected elsewhere
    assert ga_chk[1][0] == 39 and ga_chk[1][1] == 39 * n_users, ga_chk

    # --- q_dedup_containment: hot-shingle cap under CONTAINMENT -----
    # (round-8; VERDICT r7 #4) The shared _co_shingle_pairs core's
    # max_df lever has a planted row under JACCARD scoring above; this
    # row proves it under the CONTAINMENT scoring path, whose
    # FULL-size denominators and directional threshold are the parts
    # the jaccard row never exercises.  Layout: every doc opens with a
    # 5-word boilerplate (3 pure-boilerplate k3-shingles, df = n →
    # capped); doc i < half is an 8-word SHORT doc whose word sequence
    # is a strict PREFIX of doc i+half's 12-word LONG doc.  Kept
    # common shingles per pair = 3 (two boundary + one unique);
    # containment short→long = 3/6 = exactly the 1/2 threshold (the ≥
    # boundary), long→short = 3/10 fails — so exactly the n/2
    # DIRECTED rows (contained=i, container=i+half) survive.  Without
    # the cap the df=n boilerplate shingles alone fan ~n²/2 candidate
    # pairs and the run never finishes at 8M.
    u2 = (F.col("id") % half).cast("long")
    b5 = F.lit("terms of service apply here")
    ushort = F.concat_ws(
        " ",
        F.concat(F.lit("ua"), u2),
        F.concat(F.lit("ub"), (u2 * 31) % 999983),
        F.concat(F.lit("uc"), (u2 * 57) % 999979),
    )
    xtail = F.concat_ws(
        " ",
        F.concat(F.lit("xa"), u2),
        F.concat(F.lit("xb"), (u2 * 17) % 999959),
        F.concat(F.lit("xc"), (u2 * 91) % 999961),
        F.concat(F.lit("xd"), (u2 * 13) % 999953),
    )
    cdocs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") < half, F.concat_ws(" ", b5, ushort)
        ).otherwise(F.concat_ws(" ", b5, ushort, xtail)).alias("text"),
    )
    t0 = time.time()
    cpairs = llmops.ngram_containment_pairs(
        cdocs,
        threshold_num=1,
        threshold_den=2,
        k=3,
        block_col=None,
        max_df=100,
    )
    n_cp, cmin, cmax, maxcontained, cont_lo, cont_hi = cpairs.agg(
        F.count(F.lit(1)),
        F.min(F.col("container") - F.col("contained")),
        F.max(F.col("container") - F.col("contained")),
        F.max("contained"),
        F.min("containment"),
        F.max("containment"),
    ).collect()[0]
    containment_cap_s = time.time() - t0
    assert n_cp == half, (n_cp, half)
    assert cmin == half and cmax == half, (cmin, cmax, half)
    assert maxcontained == half - 1, maxcontained  # one direction only
    assert cont_lo == 0.5 and cont_hi == 0.5, (cont_lo, cont_hi)

    # --- q_adamic_adar: pre-join basket cap at 8M lineitems ---------
    # (round-8; VERDICT r7 #4) Same planted corpus as the assoc row
    # (n/4 four-item baskets {7, 8, 1000+b%50, 2000+b%50} + one
    # 100k-item mega-basket) driven through the AA shape: cap BEFORE
    # the self-join (C(100k,2) ≈ 5e9 pairs otherwise), persisted
    # capped basket, LN weights round(9)→DECIMAL, DECIMAL top-20 rank.
    # Closed form: (7,8) co-occurs in all n/4 kept baskets of size 4,
    # so aa = (n/4)·HALF_UP9(1/ln 4) exactly; the mega-basket's parts
    # (≥ 1e6) must be absent from the whole top-20.
    t0 = time.time()
    aa_kept = b0.join(
        b0.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("bsz"))
        .filter((F.col("bsz") >= 2) & (F.col("bsz") <= 64)),
        "l_orderkey",
    ).persist()
    try:
        aa_a, aa_b = aa_kept.alias("a"), aa_kept.alias("b")
        aa_top = (
            aa_a.join(
                aa_b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("part1"),
                F.col("b.l_partkey").alias("part2"),
                F.col("a.bsz").alias("bsz"),
            )
            .groupBy("part1", "part2")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_common"),
                F.sum(
                    F.round(
                        F.lit(1.0) / F.log(F.col("bsz").cast("double")), 9
                    ).cast("decimal(28,9)")
                ).alias("aa_dec"),
            )
            .orderBy(F.col("aa_dec").desc(), "part1", "part2")
            .limit(20)
            .collect()
        )
    finally:
        aa_kept.unpersist()
    adamic_adar_cap_s = time.time() - t0
    from decimal import ROUND_HALF_UP, Decimal
    import math

    aa_w = Decimal(repr(1.0 / math.log(4.0))).quantize(
        Decimal("1e-9"), ROUND_HALF_UP
    )
    assert aa_top[0]["part1"] == 7 and aa_top[0]["part2"] == 8, aa_top[0]
    assert aa_top[0]["n_common"] == n_b, aa_top[0]
    assert aa_top[0]["aa_dec"] == aa_w * n_b, (aa_top[0]["aa_dec"], aa_w * n_b)
    assert all(
        r["part1"] < 1_000_000 and r["part2"] < 1_000_000 for r in aa_top
    ), aa_top

    # --- q_js_divergence: 8M-token vocabulary, hot common token -----
    # (round-8; VERDICT r7 #4) Synthetic per-source token counts fed
    # through the key's exact algebra: 4 sources, each with n/4 unique
    # count-1 tokens (df = 1 → no join partners) plus ONE hot token
    # common to all four with count n/4 (p = q = 1/2 → co-occurring
    # term ln(1) = 0 exactly).  The only full-data stage is the token
    # self-join shuffle; the hot token fans C(4,2) = 6 rows, bounded
    # by the SOURCE count, never the corpus (the closed-form
    # exclusive-mass design).  Closed form per pair: jsd = 0.5·ln 2.
    jtc = (
        spark.range(n)
        .select(
            F.concat(F.lit("s"), F.col("id") % 4).alias("source"),
            F.concat(F.lit("u"), F.col("id")).alias("tok"),
            F.lit(1).cast("long").alias("c"),
        )
        .unionAll(
            spark.range(4).select(
                F.concat(F.lit("s"), F.col("id")).alias("source"),
                F.lit("hot").alias("tok"),
                F.lit(n // 4).cast("long").alias("c"),
            )
        )
    )
    t0 = time.time()
    jtc = jtc.persist()
    jtot = jtc.groupBy("source").agg(F.sum("c").cast("long").alias("nn"))
    ja, jb = jtc.alias("a"), jtc.alias("b")
    jcommon = (
        ja.join(
            jb,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("source1"),
            F.col("b.source").alias("source2"),
            F.col("a.c").alias("c1"),
            F.col("b.c").alias("c2"),
        )
        .join(
            F.broadcast(
                jtot.select(
                    F.col("source").alias("source1"), F.col("nn").alias("n1")
                )
            ),
            "source1",
        )
        .join(
            F.broadcast(
                jtot.select(
                    F.col("source").alias("source2"), F.col("nn").alias("n2")
                )
            ),
            "source2",
        )
    )
    jp = F.col("c1").cast("double") / F.col("n1")
    jq = F.col("c2").cast("double") / F.col("n2")
    jagg = jcommon.groupBy("source1", "source2").agg(
        F.count(F.lit(1)).cast("long").alias("n_common_tokens"),
        F.sum(
            F.round(jp * F.log(F.lit(2.0) * jp / (jp + jq)), 9).cast(
                "decimal(28,9)"
            )
        ).alias("sp"),
        F.sum(
            F.round(jq * F.log(F.lit(2.0) * jq / (jp + jq)), 9).cast(
                "decimal(28,9)"
            )
        ).alias("sq"),
        F.sum(F.round(jp, 9).cast("decimal(28,9)")).alias("pmass"),
        F.sum(F.round(jq, 9).cast("decimal(28,9)")).alias("qmass"),
    )
    jln2 = F.log(F.lit(2.0))
    jzd = F.lit(0).cast("decimal(28,9)")
    jsd_rows = jagg.select(
        "source1",
        "source2",
        "n_common_tokens",
        F.round(
            F.lit(0.5)
            * (
                F.coalesce(F.col("sp"), jzd).cast("double")
                + (F.lit(1.0) - F.coalesce(F.col("pmass"), jzd).cast("double"))
                * jln2
            )
            + F.lit(0.5)
            * (
                F.coalesce(F.col("sq"), jzd).cast("double")
                + (F.lit(1.0) - F.coalesce(F.col("qmass"), jzd).cast("double"))
                * jln2
            ),
            6,
        ).alias("jsd_nats"),
    ).collect()
    jtc.unpersist()
    jsd_s = time.time() - t0
    assert len(jsd_rows) == 6, jsd_rows
    for r in jsd_rows:
        assert r["n_common_tokens"] == 1, r
        assert abs(r["jsd_nats"] - 0.346574) < 1e-9, r

    # --- q_tdigest_quantiles shape: 8M-row exact-rank digest --------
    # (round-8) scalable_rank global rank over a hash permutation of
    # 8M distinct values, per-mille cubic scale — centroid counts have
    # an exact numpy closed form (the m→centroid map is a pure integer
    # function of rank), so the distributed digest is gated on planted
    # truth, not just timed.
    td_in = spark.range(n).select(
        ((F.col("id") * 2654435761) % 4294967296).alias("cents"),
        F.col("id").alias("okey"),
    )
    t0 = time.time()
    td_r = win.scalable_rank(
        td_in, [F.col("cents"), F.col("okey")], "cents",
        rank_col="rk", tot_col="nn",
    )
    td_m = F.floor((1000 * (2 * F.col("rk") - 1)) / (2 * F.col("nn"))).cast("long")
    td_c = F.floor(
        (100 * (2 * F.col("m") * F.col("m") * F.col("m")
                - 3000 * F.col("m") * F.col("m")
                + 2000000 * F.col("m"))) / F.lit(1000000000)
    ).cast("long")
    td = (
        td_r.select(td_m.alias("m"))
        .select(td_c.alias("centroid"))
        .groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    tdigest_s = time.time() - t0
    r_np = np.arange(1, n + 1, dtype=np.int64)
    m_np = (1000 * (2 * r_np - 1)) // (2 * n)
    c_np = (100 * (2 * m_np**3 - 3000 * m_np**2 + 2000000 * m_np)) // 10**9
    import collections
    want_counts = collections.Counter(c_np.tolist())
    got_counts = {r["centroid"]: r["n_rows"] for r in td}
    assert got_counts == dict(want_counts), (
        len(got_counts), len(want_counts)
    )

    # --- q_markov_attribution shape: 8M events, 1M users ------------
    # (round-8) Planted journeys — even users click×7→purchase, odd
    # users view×8 never converting: the transition matrix has a
    # closed form and the fixed-horizon recursion is replicated in
    # pure python with the SAME operation order as the generated
    # expressions, so every output double must match EXACTLY.
    n_users_mk = max(n // 8, 8)
    mk_ev = spark.range(n).select(
        (F.col("id") % n_users_mk).alias("user_id"),
        F.expr(f"id div {n_users_mk}").alias("step"),
        F.when(
            (F.col("id") % n_users_mk) % 2 == 0,
            F.when(
                F.expr(f"id div {n_users_mk}") < 7, F.lit("click")
            ).otherwise(F.lit("purchase")),
        )
        .otherwise(F.lit("view"))
        .alias("event_type"),
    )
    from pyspark.sql import Window as WMK

    t0 = time.time()
    wu = WMK.partitionBy("user_id").orderBy("step")
    wup = WMK.partitionBy("user_id")
    mk_j = (
        mk_ev.select(
            "user_id",
            "event_type",
            F.row_number().over(wu).alias("rn"),
        )
        .withColumn(
            "prn",
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("rn"))
            ).over(wup),
        )
        .filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", F.lit("conv"))
            .otherwise(F.col("event_type"))
            .alias("state"),
            "rn",
            "prn",
        )
    )
    ws = WMK.partitionBy("user_id").orderBy("rn")
    mk_seq = mk_j.select(
        "state",
        "prn",
        F.lag("state").over(ws).alias("prev"),
        F.lead("state").over(ws).alias("nxt"),
    )
    mk_emit = F.concat(
        F.array(
            F.struct(
                F.coalesce(F.col("prev"), F.lit("start")).alias("src"),
                F.col("state").alias("dst"),
            )
        ),
        F.when(
            F.col("nxt").isNull() & F.col("prn").isNull(),
            F.array(
                F.struct(
                    F.col("state").alias("src"), F.lit("null").alias("dst")
                )
            ),
        ).otherwise(F.array().cast("array<struct<src:string,dst:string>>")),
    )
    mk_tr = (
        mk_seq.select(F.explode(mk_emit).alias("t"))
        .groupBy("t.src", "t.dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    markov_s = time.time() - t0
    cnt = {(r["src"], r["dst"]): r["c"] for r in mk_tr}
    half_u = n_users_mk // 2
    assert cnt[("start", "click")] == half_u, cnt
    assert cnt[("click", "click")] == half_u * 6, cnt
    assert cnt[("click", "conv")] == half_u, cnt
    assert cnt[("start", "view")] == half_u, cnt
    assert cnt[("view", "view")] == half_u * 7, cnt
    assert cnt[("view", "null")] == half_u, cnt
    assert len(cnt) == 6, cnt

    # --- q_weighted_sample shape: 8M docs, 100 planted heavies ------
    # (round-8) A-ES keys ln(u)/w: 100 docs at weight 1e12 vs 8M at
    # weight 1 — a light doc outranking a heavy needs u > exp(-2e-11)
    # (≈2e-4 expected over the whole corpus), so the top-100 must be
    # EXACTLY the planted set; stateless scan → TakeOrderedAndProject.
    ws_docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % (n // 100) == 0, F.lit(1_000_000_000_000))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("w"),
    )
    t0 = time.time()
    u_ws = (
        ((F.col("doc_id") % 2654435761) * 2654435761) % 4294967296 + 1
    ) / F.lit(4294967297.0)
    key_ws = F.round(F.log(u_ws), 9) / F.col("w")
    top = (
        ws_docs.select("doc_id", "w", key_ws.alias("es_key"))
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(100)
        .collect()
    )
    wsample_s = time.time() - t0
    got_ids = {r["doc_id"] for r in top}
    want_ids = {i for i in range(0, n, n // 100)}
    assert got_ids == want_ids, (
        len(got_ids & want_ids), sorted(got_ids - want_ids)[:5]
    )

    # --- q_hll_sketch shape: 8M-event register build ----------------
    # (round-8b) ONE max-aggregate at 256-bucket grain; the register
    # table and scaled Z have an exact numpy mirror (vectorized knuth
    # hash + bit_length), so the distributed sketch is gated on
    # planted truth, not just timed.  user_id = id*3 gives ~n distinct
    # users with a nontrivial hash spread.
    hll_ev = spark.range(n).select((F.col("id") * 3).alias("user_id"))
    t0 = time.time()
    hll_h = F.expr(
        "((user_id % 2654435761) * 2654435761) % 4294967296"
    )
    hll_split = hll_ev.select(
        F.expr(
            "(((user_id % 2654435761) * 2654435761) % 4294967296)"
            " div 16777216"
        ).alias("bucket"),
        (hll_h % F.lit(16_777_216)).alias("w"),
    )
    hll_rho = F.when(F.col("w") == 0, F.lit(25)).otherwise(
        F.lit(25) - F.length(F.bin(F.col("w")))
    )
    hll_reg = {
        r["bucket"]: r["rho"]
        for r in hll_split.groupBy("bucket")
        .agg(F.max(hll_rho).alias("rho"))
        .collect()
    }
    hll_s = time.time() - t0
    u_np = np.arange(n, dtype=np.int64) * 3
    h_np = ((u_np % 2654435761) * 2654435761) % 4294967296
    b_np, w_np = h_np // 16777216, h_np % 16777216
    # exact integer bit_length (a float log2-floor is fragile at
    # 2^k boundaries)
    blen = np.zeros_like(w_np)
    ww = w_np.copy()
    while (ww > 0).any():
        blen[ww > 0] += 1
        ww >>= 1
    rho_np = np.where(w_np == 0, 25, 25 - blen)
    want_reg = {}
    for b, r in zip(b_np.tolist(), rho_np.tolist()):
        if want_reg.get(b, -1) < r:
            want_reg[b] = r
    assert hll_reg == want_reg, (
        len(hll_reg), len(want_reg),
        sorted(set(hll_reg.items()) ^ set(want_reg.items()))[:5],
    )

    # --- q_roc_auc shape: 8M rows, bounded value grain ---------------
    # (round-8b) mann-whitney rank machinery at value grain: scores
    # quantized to 1000 distinct values, label planted so the exact
    # tie-corrected AUC has an integer closed form computed in numpy.
    auc_t = spark.range(n).select(
        (F.col("id") % 1000).alias("cents"),
        ((F.col("id") % 3) == 0).cast("long").alias("y"),
    )
    t0 = time.time()
    from pyspark.sql import Window as WAUC

    auc_g = auc_t.groupBy("cents").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    w_auc = WAUC.orderBy("cents").rowsBetween(
        WAUC.unboundedPreceding, -1
    )
    auc_r = auc_g.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(w_auc), F.lit(0)).alias("cum_neg"),
    )
    auc_row = auc_r.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("cum_neg") + F.col("neg")))
        .cast("long")
        .alias("two_u"),
    ).collect()[0]
    roc_auc_s = time.time() - t0
    c_np = np.arange(n, dtype=np.int64) % 1000
    y_np = (np.arange(n, dtype=np.int64) % 3 == 0).astype(np.int64)
    pos_v = np.bincount(c_np[y_np == 1], minlength=1000).astype(np.int64)
    neg_v = np.bincount(c_np[y_np == 0], minlength=1000).astype(np.int64)
    cumneg = np.concatenate(([0], np.cumsum(neg_v)[:-1]))
    want_two_u = int(np.sum(pos_v * (2 * cumneg + neg_v)))
    assert auc_row["two_u"] == want_two_u, (auc_row, want_two_u)
    assert auc_row["n_pos"] == int(pos_v.sum())
    assert auc_row["n_neg"] == int(neg_v.sum())

    # --- q_silhouette_score shape: n vectors x 16 centroids ----------
    # (round-8b) component explode + broadcast codebook + map-side
    # (vec, cell) reduce + bounded top-2 selection.  Synthetic
    # centroids occupy disjoint 4-dim blocks at magnitude 10; vector i
    # = centroid (i%16) + e_0, so a = 1e12 exactly and b has an exact
    # python closed form per cluster — every output row gated.
    sil_cents = []
    for j in range(16):
        c = [0.0] * 64
        for dd in range(4 * j, 4 * j + 4):
            c[dd] = 10.0
        sil_cents.append((j, c))
    sil_cb = spark.createDataFrame(
        sil_cents, "cell long, centroid array<double>"
    )
    n_sil = max(n // 8, 16 * 1024)
    n_sil -= n_sil % 16
    sil_e = spark.range(n_sil).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), d -> CAST("
            "  (CASE WHEN d div 4 = id % 16 THEN 10.0 ELSE 0.0 END)"
            "  + (CASE WHEN d = 0 THEN 1.0 ELSE 0.0 END) AS FLOAT))"
        ).alias("embedding"),
    )
    t0 = time.time()
    sil_comp = sil_e.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("dim", "xf"),
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    sil_cbc = sil_cb.select(
        "cell", F.posexplode(F.col("centroid")).alias("dim", "cval")
    )
    sil_diff = F.col("x") - F.col("cval")
    sil_q = (
        sil_comp.join(F.broadcast(sil_cbc), "dim")
        .groupBy("vec_id", "cell")
        .agg(
            F.sum(
                F.floor(F.lit(1e12) * (sil_diff * sil_diff)).cast("long")
            )
            .cast("long")
            .alias("qdist")
        )
    )
    sil_lst = sil_q.groupBy("vec_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("qdist"), F.col("cell")))
        ).alias("l")
    )
    sa = F.col("l")[0]["qdist"]
    sb = F.col("l")[1]["qdist"]
    s_expr = F.when(F.greatest(sa, sb) == 0, F.lit(0.0)).otherwise(
        (sb - sa).cast("double") / F.greatest(sa, sb).cast("double")
    )
    sil_rows = (
        sil_lst.select(
            F.col("l")[0]["cell"].alias("cluster"),
            F.floor(F.lit(1e9) * s_expr).cast("long").alias("s9"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("s9").alias("ss9"),
        )
        .collect()
    )
    sil_s = time.time() - t0
    import math as _math

    want_sil = {}
    for k in range(16):
        v = [0.0] * 64
        for dd in range(4 * k, 4 * k + 4):
            v[dd] = 10.0
        v[0] += 1.0
        dists = []
        for j, c in sil_cents:
            q = sum(
                _math.floor(1e12 * ((v[dd] - c[dd]) * (v[dd] - c[dd])))
                for dd in range(64)
            )
            dists.append((q, j))
        dists.sort()
        (qa, ja), (qb, _jb) = dists[0], dists[1]
        assert ja == k, (k, dists[:2])
        s_val = 0.0 if max(qa, qb) == 0 else float(qb - qa) / float(
            max(qa, qb)
        )
        want_sil[k] = (n_sil // 16, _math.floor(1e9 * s_val) * (n_sil // 16))
    got_sil = {r["cluster"]: (r["n_vecs"], r["ss9"]) for r in sil_rows}
    assert got_sil == want_sil, (
        {k: got_sil[k] for k in list(got_sil)[:2]},
        {k: want_sil[k] for k in list(want_sil)[:2]},
    )

    # --- q_token_chi2 shape: ~7.5M-token stream, bounded vocab -------
    # (round-9, VERDICT r8 #4) ONE corpus scan → per-doc distinct
    # explode → vocab×source-grain aggregate with DERIVED marginals.
    # Planted truth: docs alternate sources A/B; "common" is in every
    # doc (cut by the df_w < N filter), "toka"/"tokb" are perfectly
    # source-pure (closed-form chi2 = N exactly), and 13 filler tokens
    # per doc cycle i % 499 residue classes (499 odd → each filler
    # splits EXACTLY evenly across sources → det = ad−bc = 0 →
    # chi2 = 0).  Gate: top-2 rows are exactly the pure tokens at
    # chi2 == N, every other surviving row is 0.
    n_chi_docs = max((n // 16 // 998) * 998, 998)
    chi_i = F.col("id")
    chi_fill = [
        F.concat(F.lit(f"f{j}_"), ((chi_i % 499) * 13 + j))
        for j in range(13)
    ]
    chi_docs = spark.range(n_chi_docs).select(
        chi_i.alias("doc_id"),
        F.when(chi_i % 2 == 0, F.lit("sA")).otherwise(F.lit("sB")).alias(
            "source"
        ),
        F.concat_ws(
            " ",
            F.lit("common"),
            F.when(chi_i % 2 == 0, F.lit("toka")).otherwise(F.lit("tokb")),
            *chi_fill,
        ).alias("text"),
    )
    t0 = time.time()
    chi_dt = chi_docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("w"),
    )
    chi_ws = chi_dt.groupBy("w", "source").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    ).persist()
    chi_wtot = chi_ws.groupBy("w").agg(
        F.sum("a").cast("long").alias("df_w")
    )
    chi_stot = chi_docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    chi_ntot = chi_docs.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    chi_cells = (
        chi_ws.join(chi_wtot, "w")
        .filter(F.col("df_w") >= 5)
        .join(F.broadcast(chi_stot), "source")
        .crossJoin(F.broadcast(chi_ntot))
        .filter(F.col("df_w") < F.col("nn"))
    )
    chi_det = (
        F.col("a") * (F.col("nn") - F.col("n_s") - (F.col("df_w") - F.col("a")))
        - (F.col("df_w") - F.col("a")) * (F.col("n_s") - F.col("a"))
    ).cast("double")
    chi_b = F.col("df_w") - F.col("a")
    chi_c = F.col("n_s") - F.col("a")
    chi_d = F.col("nn") - F.col("n_s") - chi_b
    chi2_expr = (
        F.col("nn").cast("double")
        * (chi_det * chi_det)
        / (
            (F.col("a") + chi_b).cast("double")
            * (chi_c + chi_d).cast("double")
            * (F.col("a") + chi_c).cast("double")
            * (chi_b + chi_d).cast("double")
        )
    )
    chi_top = (
        chi_cells.select(
            "w",
            "source",
            F.round(chi2_expr, 6).cast("decimal(24,6)").alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), "w", "source")
        .limit(50)
        .collect()
    )
    chi_ws.unpersist()
    token_chi2_s = time.time() - t0
    assert len(chi_top) == 50, len(chi_top)
    got_pure = {(r["w"], r["source"]): float(r["chi2"]) for r in chi_top[:2]}
    assert got_pure == {
        ("toka", "sA"): float(n_chi_docs),
        ("tokb", "sB"): float(n_chi_docs),
    }, got_pure
    assert all(float(r["chi2"]) == 0.0 for r in chi_top[2:]), [
        (r["w"], r["source"], r["chi2"]) for r in chi_top[2:5]
    ]

    # --- q_record_linkage shape: 8M customers, one 4M-row mega-block -
    # (round-9, VERDICT r8 #4) half the rows share one
    # (nation, segment) block — uncapped, that block alone fans
    # C(4M, 2) ≈ 8·10¹² pairs; the rn ≤ 100 cap fires BELOW the
    # self-join, so 25 blocks yield exactly 25·C(100,2) = 123,750
    # scored pairs.  The class census (n_pairs + exact integer
    # micro-nat sums) is mirrored pair-by-pair in python over the
    # kept members.
    from pyspark.sql import Window as WRL

    rl_half = n // 2
    rl_nation = F.when(F.col("id") < rl_half, F.lit(0)).otherwise(
        F.col("id") % 24 + 1
    )
    rl_cust = spark.range(n).select(
        F.col("id").alias("c_custkey"),
        rl_nation.alias("c_nationkey"),
        F.lit("SEG").alias("c_mktsegment"),
        (F.col("id") % 10).cast("string").alias("name_digit"),
        (F.col("id") % 3).alias("band"),
        (F.col("id") % 97).alias("keyhash"),
    )
    t0 = time.time()
    rl_w = WRL.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        "c_custkey"
    )
    rl_m = rl_cust.withColumn(
        "rn", F.row_number().over(rl_w)
    ).filter(F.col("rn") <= 100)
    ra, rb = rl_m.alias("a"), rl_m.alias("b")
    W_NAME, W_BAND, W_HASH = (
        (2251292, -2890372),
        (2890372, -2251292),
        (4412192, -1886757),
    )
    rl_score = (
        F.when(
            F.col("a.name_digit") == F.col("b.name_digit"),
            F.lit(W_NAME[0]),
        ).otherwise(F.lit(W_NAME[1]))
        + F.when(
            F.col("a.band") == F.col("b.band"), F.lit(W_BAND[0])
        ).otherwise(F.lit(W_BAND[1]))
        + F.when(
            F.col("a.keyhash") == F.col("b.keyhash"), F.lit(W_HASH[0])
        ).otherwise(F.lit(W_HASH[1]))
    )
    rl_pairs = ra.join(
        rb,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.rn") < F.col("b.rn")),
    ).select(rl_score.alias("w"))
    rl_cls = rl_pairs.select(
        F.when(F.col("w") >= 4_000_000, F.lit("link"))
        .when(F.col("w") >= 0, F.lit("possible"))
        .otherwise(F.lit("non_link"))
        .alias("classification"),
        "w",
    )
    rl_rows = (
        rl_cls.groupBy("classification")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("w").cast("long").alias("sum_w_micro"),
        )
        .collect()
    )
    record_linkage_s = time.time() - t0
    # python mirror over the kept members (block 0: ids 0..99; block
    # b≥1: the first 100 ids ≥ rl_half with id % 24 == b − 1)
    want_rl: dict = {}
    for blk in range(25):
        if blk == 0:
            members = list(range(100))
        else:
            first = rl_half + ((blk - 1 - rl_half) % 24)
            members = [first + 24 * j for j in range(100)]
        for x in range(100):
            for y in range(x + 1, 100):
                ia, ib = members[x], members[y]
                wv = (
                    (W_NAME[0] if ia % 10 == ib % 10 else W_NAME[1])
                    + (W_BAND[0] if ia % 3 == ib % 3 else W_BAND[1])
                    + (W_HASH[0] if ia % 97 == ib % 97 else W_HASH[1])
                )
                cls = (
                    "link"
                    if wv >= 4_000_000
                    else ("possible" if wv >= 0 else "non_link")
                )
                cnt, sw = want_rl.get(cls, (0, 0))
                want_rl[cls] = (cnt + 1, sw + wv)
    got_rl = {
        r["classification"]: (r["n_pairs"], r["sum_w_micro"])
        for r in rl_rows
    }
    assert sum(v[0] for v in got_rl.values()) == 25 * 4950, got_rl
    assert got_rl == want_rl, (got_rl, want_rl)

    # --- q_knn_classify shape: 1M corpus × 100 broadcast queries -----
    # (round-9, VERDICT r8 #4) llmops.cosine_topk — broadcast query
    # side, ONE corpus scan, zip_with dot (no component explode),
    # WindowGroupLimit to k before the vote.  Corpus vec i lights the
    # 4-dim block (i mod 16); query q = block(q mod 16) + e₀, so every
    # same-block corpus vector ties at the max cosine and the e_id
    # tie-break elects the 5 smallest same-block ids — all label
    # q mod 16, a unanimous 5-vote correct prediction for all 100
    # queries.
    from pfithic_spark import llmops as _llm

    n_knn = max(n // 8, 160_000)
    knn_corpus = spark.range(100, 100 + n_knn).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 16).alias("label"),
        F.expr(
            "transform(sequence(0, 63), d -> CAST("
            "  CASE WHEN d div 4 = id % 16 THEN 10.0 ELSE 0.0 END"
            "  AS DOUBLE))"
        ).alias("embedding"),
    )
    knn_q = spark.range(100).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 16).alias("label"),
        F.expr(
            "transform(sequence(0, 63), d -> CAST("
            "  (CASE WHEN d div 4 = id % 16 THEN 10.0 ELSE 0.0 END)"
            "  + (CASE WHEN d = 0 THEN 1.0 ELSE 0.0 END) AS DOUBLE))"
        ).alias("embedding"),
    )
    t0 = time.time()
    # round 14: the keys route through cosine_topk_gemm (Arrow kernel);
    # the harness exercises the same production path
    knn_nn = _llm.cosine_topk_gemm(knn_corpus, knn_q, k=5)
    knn_lbl = knn_corpus.select(
        F.col("vec_id").alias("e_id"), F.col("label").alias("nbr_label")
    )
    knn_votes = (
        knn_nn.join(knn_lbl, "e_id")
        .groupBy("q_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w_knn = WRL.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), "nbr_label"
    )
    knn_pred = (
        knn_votes.withColumn("pr", F.row_number().over(w_knn))
        .filter(F.col("pr") == 1)
        .collect()
    )
    knn_s = time.time() - t0
    assert len(knn_pred) == 100, len(knn_pred)
    for r in knn_pred:
        assert r["nbr_label"] == r["q_id"] % 16 and r["n_votes"] == 5, r

    # --- q_gini_coefficient shape: 8M customers, wrap-proving sums --
    # (round-9) Σ i·xᵢ at 8 M × ~1.5e8-cent customers ≈ 2⁷⁹ — a raw
    # int64 sum WRAPS (the q_hhi ADVICE class); the key's per-term
    # 2³⁹ hi/lo split must reproduce the numpy-mirror gini EXACTLY
    # (same double reconstruction chain).
    gini_x = F.lit(100_000_000) + (F.col("id") % 1000)
    gini_rc = spark.range(n).select(
        F.col("id").alias("o_custkey"), gini_x.alias("cents")
    )
    t0 = time.time()
    gini_r = win.scalable_rank(
        gini_rc,
        [F.col("cents"), F.col("o_custkey")],
        "cents",
        rank_col="i",
        tot_col="ntot",
    )
    gini_t = gini_r.select(
        "ntot", "cents", (F.col("i") * F.col("cents")).alias("ix")
    )
    gini_row = gini_t.agg(
        F.max("ntot").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
        F.sum(F.expr("ix div 549755813888")).cast("long").alias("hi"),
        F.sum(F.expr("ix % 549755813888")).cast("long").alias("lo"),
    ).collect()[0]
    gini_s = time.time() - t0
    ii = np.arange(n, dtype=np.int64)
    xv = 100_000_000 + (ii % 1000)
    order = np.lexsort((ii, xv))  # rank by (cents, custkey)
    t_np = (np.arange(1, n + 1, dtype=np.int64)) * xv[order]
    hi_np = int(np.sum(t_np // (1 << 39)))
    lo_np = int(np.sum(t_np % (1 << 39)))
    assert (gini_row["hi"], gini_row["lo"]) == (hi_np, lo_np), (
        gini_row, hi_np, lo_np,
    )
    # at full scale the exact sum exceeds int64 — the split was
    # load-bearing, not decorative (smaller smoke runs skip this)
    if n >= 4_000_000:
        assert hi_np * (1 << 39) + lo_np > 2**63
    s_ix_d = float(gini_row["hi"]) * 549755813888.0 + float(
        gini_row["lo"]
    )
    gini_val = (
        2.0 * s_ix_d
        - (float(gini_row["n"]) + 1.0) * float(gini_row["tot"])
    ) / (float(gini_row["n"]) * float(gini_row["tot"]))
    s_ix_np = float(hi_np) * 549755813888.0 + float(lo_np)
    want_gini = (
        2.0 * s_ix_np - (float(n) + 1.0) * float(xv.sum())
    ) / (float(n) * float(xv.sum()))
    assert gini_val == want_gini

    # --- q_energy_distance shape: 8M rows, 1M-value spine -----------
    # (round-9) the prefix-sum pairwise identity with per-term 2²¹
    # hi/lo splits, mirrored EXACTLY in numpy (int64-safe by the same
    # budget argument) down to the final double reconstruction.
    ed = spark.range(n).select(
        ((F.col("id") * 37) % 1_000_000).alias("cents"),
        (F.col("id") % 2).alias("g"),
    )
    t0 = time.time()
    ed_sp = ed.groupBy("cents").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("nxv"),
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("nyv"),
    )
    from pyspark.sql import Window as WED

    ed_wc = WED.orderBy("cents").rowsBetween(
        WED.unboundedPreceding, 0
    )
    ed_wall = WED.orderBy("cents").rowsBetween(
        WED.unboundedPreceding, WED.unboundedFollowing
    )
    edv = F.col("cents")
    ed_c = ed_sp.select(
        edv.alias("v"),
        "nxv",
        "nyv",
        (F.sum("nxv").over(ed_wc) - F.col("nxv")).alias("fx"),
        (F.sum(F.col("nxv") * edv).over(ed_wc) - F.col("nxv") * edv)
        .alias("gx"),
        (F.sum("nyv").over(ed_wc) - F.col("nyv")).alias("fy"),
        (F.sum(F.col("nyv") * edv).over(ed_wc) - F.col("nyv") * edv)
        .alias("gy"),
        F.sum("nxv").over(ed_wall).alias("nx"),
        F.sum(F.col("nxv") * edv).over(ed_wall).alias("sx"),
        F.sum("nyv").over(ed_wall).alias("ny"),
        F.sum(F.col("nyv") * edv).over(ed_wall).alias("sy"),
    )
    edvv = F.col("v")
    ed_txy = F.col("nxv") * (
        (edvv * (2 * F.col("fy")) - 2 * F.col("gy"))
        + (F.col("sy") - edvv * F.col("ny"))
    )
    ed_txx = F.col("nxv") * (
        (edvv * (2 * F.col("fx")) - 2 * F.col("gx"))
        + (F.col("sx") - edvv * F.col("nx"))
    )
    ed_tyy = F.col("nyv") * (
        (edvv * (2 * F.col("fy")) - 2 * F.col("gy"))
        + (F.col("sy") - edvv * F.col("ny"))
    )
    ed_terms = ed_c.select(
        "nx", "ny",
        ed_txy.alias("txy"), ed_txx.alias("txx"), ed_tyy.alias("tyy"),
    )
    ed_row = ed_terms.agg(
        F.max("nx").cast("long").alias("n_x"),
        F.max("ny").cast("long").alias("n_y"),
        F.sum(F.expr("txy div 2097152")).cast("long").alias("sxy_hi"),
        F.sum(F.expr("txy % 2097152")).cast("long").alias("sxy_lo"),
        F.sum(F.expr("txx div 2097152")).cast("long").alias("sxx_hi"),
        F.sum(F.expr("txx % 2097152")).cast("long").alias("sxx_lo"),
        F.sum(F.expr("tyy div 2097152")).cast("long").alias("syy_hi"),
        F.sum(F.expr("tyy % 2097152")).cast("long").alias("syy_lo"),
    ).collect()[0]
    energy_s = time.time() - t0
    ids = np.arange(n, dtype=np.int64)
    cents_np = (ids * 37) % 1_000_000
    g_np = ids % 2
    M = 1_000_000
    nxv = np.bincount(cents_np[g_np == 1], minlength=M).astype(np.int64)
    nyv = np.bincount(cents_np[g_np == 0], minlength=M).astype(np.int64)
    vs = np.arange(M, dtype=np.int64)
    fx = np.cumsum(nxv) - nxv
    gx = np.cumsum(nxv * vs) - nxv * vs
    fy = np.cumsum(nyv) - nyv
    gy = np.cumsum(nyv * vs) - nyv * vs
    nx_t, sx_t = int(nxv.sum()), int((nxv * vs).sum())
    ny_t, sy_t = int(nyv.sum()), int((nyv * vs).sum())
    br_y = vs * (2 * fy) - 2 * gy + (sy_t - vs * ny_t)
    br_x = vs * (2 * fx) - 2 * gx + (sx_t - vs * nx_t)
    txy_np = nxv * br_y
    txx_np = nxv * br_x
    tyy_np = nyv * br_y
    want = {
        "sxy_hi": int(np.sum(txy_np // (1 << 21))),
        "sxy_lo": int(np.sum(txy_np % (1 << 21))),
        "sxx_hi": int(np.sum(txx_np // (1 << 21))),
        "sxx_lo": int(np.sum(txx_np % (1 << 21))),
        "syy_hi": int(np.sum(tyy_np // (1 << 21))),
        "syy_lo": int(np.sum(tyy_np % (1 << 21))),
    }
    got = {k: ed_row[k] for k in want}
    assert got == want, (got, want)
    assert (ed_row["n_x"], ed_row["n_y"]) == (nx_t, ny_t)

    # --- q_rrf_fusion shape: 8M docs, two two-phase ranks ------------
    # (round-9) lexical (n_chars desc) and semantic (Knuth hash) ranks
    # both via scalable_rank; the fused integer top-20 equals the
    # numpy mirror exactly.
    rrf_docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 9973 + 10).alias("n_chars"),
    )
    t0 = time.time()
    rrf_lex = win.scalable_rank(
        rrf_docs,
        [F.col("n_chars").desc(), F.col("doc_id")],
        "n_chars",
        rank_col="r_lex",
        descending=True,
    ).select("doc_id", "r_lex")
    rrf_hash = rrf_docs.select(
        "doc_id",
        (
            ((F.col("doc_id") % 2654435761) * 2654435761) % 4294967296
        ).alias("h"),
    )
    rrf_sem = win.scalable_rank(
        rrf_hash, [F.col("h"), F.col("doc_id")], "h", rank_col="r_sem"
    ).select("doc_id", "r_sem")
    rrf_top = (
        rrf_lex.join(rrf_sem, "doc_id")
        .select(
            "doc_id",
            "r_lex",
            "r_sem",
            (
                F.expr("CAST(1000000000000 AS BIGINT) div (60 + r_lex)")
                + F.expr(
                    "CAST(1000000000000 AS BIGINT) div (60 + r_sem)"
                )
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
        .collect()
    )
    rrf_s = time.time() - t0
    nc = (ids * 37) % 9973 + 10
    hh = ((ids % 2654435761) * 2654435761) % 4294967296
    lex_order = np.lexsort((ids, -nc))
    sem_order = np.lexsort((ids, hh))
    r_lex_np = np.empty(n, dtype=np.int64)
    r_lex_np[lex_order] = np.arange(1, n + 1)
    r_sem_np = np.empty(n, dtype=np.int64)
    r_sem_np[sem_order] = np.arange(1, n + 1)
    score_np = 10**12 // (60 + r_lex_np) + 10**12 // (60 + r_sem_np)
    top_idx = np.lexsort((ids, -score_np))[:20]
    want_rrf = [
        (int(i), int(r_lex_np[i]), int(r_sem_np[i]), int(score_np[i]))
        for i in top_idx
    ]
    got_rrf = [
        (r["doc_id"], r["r_lex"], r["r_sem"], r["score"])
        for r in rrf_top
    ]
    assert got_rrf == want_rrf, (got_rrf[:3], want_rrf[:3])

    # --- q_quantile_sketch shape: 8M-value summary, closed form ------
    # (round-9) cents = a bijective permutation of 0..n-1 so rank(c) =
    # c+1 exactly; step = smallest 2^L with n ≤ 512·2^L; every probe
    # (target/estimate rank and value, gap < step) is pure closed
    # form.
    qs_v = spark.range(n).select(
        ((F.col("id") * 37) % n).alias("cents"),
        F.col("id").alias("l_orderkey"),
        F.lit(1).alias("l_linenumber"),
    )
    t0 = time.time()
    qs_r = win.scalable_rank(
        qs_v,
        [F.col("cents"), F.col("l_orderkey"), F.col("l_linenumber")],
        "cents",
        rank_col="rk",
    ).select("cents", "rk")
    step = 1
    while 512 * step < n:
        step *= 2
    qs_rows = (
        qs_r.filter(F.col("rk") % step == 0)
        .filter(
            F.col("rk").isin(
                *[
                    min(
                        (((p * n + 999) // 1000 + step - 1) // step)
                        * step,
                        (n // step) * step,
                    )
                    for p in (10, 50, 250, 500, 750, 950, 990)
                ]
            )
        )
        .collect()
    )
    qsk_s = time.time() - t0
    got_qs = {r["rk"]: r["cents"] for r in qs_rows}
    for p in (10, 50, 250, 500, 750, 950, 990):
        tr = (p * n + 999) // 1000
        er = min(((tr + step - 1) // step) * step, (n // step) * step)
        assert got_qs[er] == er - 1, (p, er, got_qs.get(er))
        assert 0 <= er - tr < step or er == (n // step) * step

    # --- q_bipartite_projection shape: 1M-part mega-basket cap -------
    # (round-9) one order with 1M distinct parts fans C(1M,2) ≈ 5·10¹¹
    # pairs uncapped; the rn ≤ 8 basket cap keeps exactly C(8,2) = 28
    # pairs from it, and the planted repeated baskets dominate the
    # top-k with exact weights.
    n_orders = n // 4
    biproj = spark.range(n).select(
        (F.col("id") % n_orders).alias("l_orderkey"),
        (
            (F.col("id") % n_orders) % 100 * 10 + F.col("id") / n_orders
        ).cast("long").alias("l_partkey"),
    )
    mega = spark.range(1_000_000).select(
        F.lit(n_orders + 1).cast("long").alias("l_orderkey"),
        (F.lit(10_000_000) + F.col("id")).alias("l_partkey"),
    )
    bi = biproj.unionByName(mega)
    t0 = time.time()
    from pyspark.sql import Window as WBI

    bi_d = bi.select("l_orderkey", "l_partkey").distinct()
    bi_w = WBI.partitionBy("l_orderkey").orderBy("l_partkey")
    bi_k = bi_d.withColumn("rn", F.row_number().over(bi_w)).filter(
        F.col("rn") <= 8
    )
    ba, bb = bi_k.alias("a"), bi_k.alias("b")
    bi_top = (
        ba.join(
            bb,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.rn") < F.col("b.rn")),
        )
        .select(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("w"))
        .orderBy(F.col("w").desc(), "p1", "p2")
        .limit(50)
        .collect()
    )
    biproj_s = time.time() - t0
    # each of the 100 basket patterns holds 4 parts (b*10 .. b*10+3)
    # and repeats n_orders/100 times → every within-basket pair has
    # weight n_orders/100; the mega-order pairs have weight 1 and
    # never reach the top-50
    want_w = n_orders // 100
    assert len(bi_top) == 50
    for r in bi_top:
        assert r["w"] == want_w, r
        assert r["p1"] // 10 == r["p2"] // 10 and r["p1"] < r["p2"]
        assert r["p1"] < 10_000_000

    # --- q_er_clusters machinery: pointer-jump CC at 8M edges -------
    # (round-10, VERDICT r9 #6) the capped-block pair claim is shared
    # with q_record_linkage and already gated; what is NOT shared is
    # the component-labeling iteration count.  Planted ADVERSARIAL
    # graph: n vertices in 1000-link CHAINS (depth-1000 label trees —
    # plain min-propagation needs ~1000 rounds; the pointer jump must
    # settle in ~log2(1000) ≈ 10), component id = block start by the
    # min-label contract.
    import math as _math

    cc_block = 1000
    cc_edges = (
        spark.range(n)
        .filter((F.col("id") % cc_block) != cc_block - 1)
        .select(
            F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
        )
    )
    cc_verts = spark.range(n).select(F.col("id").alias("doc_id"))
    t0 = time.time()
    cc = llmops.connected_components(cc_edges, cc_verts)
    cc_bad, cc_nclusters, cc_rows = (
        cc.agg(
            F.sum(
                (
                    F.col("cluster_id")
                    != (F.expr("doc_id div 1000") * cc_block)
                ).cast("long")
            ),
            F.countDistinct("cluster_id"),
            F.count(F.lit(1)),
        ).collect()[0]
    )
    cc_s = time.time() - t0
    assert cc_rows == n and cc_bad == 0, (cc_rows, cc_bad)
    assert cc_nclusters == n // cc_block, cc_nclusters
    sz_off = cc.filter(F.col("cluster_size") != cc_block).count()
    assert sz_off == 0, sz_off

    # --- q_session_ngrams machinery: 8M events, one-shuffle ---------
    # (round-10, VERDICT r9 #6) u users x L events cycling A,B,C at
    # 1 s spacing (single session each: gap << 30 min): per-user
    # trigram counts are the closed form (L=1000: A>B>C 333,
    # B>C>A 333, C>A>B 332), and the plan's one user_id shuffle claim
    # is exercised at full 8M scale through the registered key.
    import __spark_entry__ as _entry

    sn_L = 1000
    sn_users = n // sn_L
    sn_dir = tempfile.mkdtemp(prefix="bench_sn_")
    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(base_us) + (F.col("id") % sn_L) * 1_000_000
            ).alias("ts"),
            F.expr(f"id div {sn_L}").alias("user_id"),
            F.element_at(
                F.array(F.lit("A"), F.lit("B"), F.lit("C")),
                (((F.col("id") % sn_L) % 3) + 1).cast("int"),
            ).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{sn_dir}/events.parquet")
    )
    t0 = time.time()
    sn_top = _entry.queries()["q_session_ngrams"](spark, sn_dir).collect()
    sn_s = time.time() - t0
    sn_got = {r["trigram"]: r["n_occurrences"] for r in sn_top[:3]}
    assert sn_got == {
        "A>B>C": 333 * sn_users,
        "B>C>A": 333 * sn_users,
        "C>A>B": 332 * sn_users,
    }, sn_got

    # --- q_conformal_interval machinery: 8M-residual rank -----------
    # (round-10, VERDICT r9 #6) planted exactly-recoverable OLS
    # (residuals in +/- pairs at the same x: Sum e = Sum x*e = 0, so
    # slope/intercept round(9)/(6) to EXACTLY 2.5/0.0) with n/2
    # DISTINCT residual magnitudes 0.01*k — the value-grain rank runs
    # the scalable_cumsum two-phase path (grain 4M > the 2M
    # threshold) and q-hat/coverage have first-principles closed
    # forms from the planted rank structure.
    cf_dir = tempfile.mkdtemp(prefix="bench_cf_")
    half_n = n // 2
    # QUADS of rows sharing (x, |d|): ids 4q..4q+3; the EVEN ids (the
    # fit half) get one +d and one -d member (id%4 == 0 / 2), the odd
    # ids (test half) likewise — so within the fit half Sum e = 0 and
    # Sum x*e = 0 hold exactly and OLS recovers (2.5, 0) to the
    # round(9)/(6) digit; |d| = 0.01*(q+1) gives n/4 DISTINCT
    # residual magnitudes, each appearing twice per half
    q_col = F.expr("id div 4")
    d_col = (q_col + 1).cast("double") * 0.01
    e_col = F.when(F.col("id") % 4 <= 1, d_col).otherwise(-d_col)
    x_col = ((q_col % 1000) + 1).cast("double")
    (
        spark.range(n)
        .select(
            # even ids -> orderkey even (fit half), odd -> test half
            (F.col("id") * 1).alias("rid"),
            x_col.alias("x"),
            e_col.alias("e"),
        )
        .select(
            F.col("rid").alias("l_orderkey"),
            F.lit(1).cast("int").alias("l_linenumber"),
            F.lit(0).cast("long").alias("l_partkey"),
            F.col("x").alias("l_quantity"),
            (F.lit(2.5) * F.col("x") + F.col("e")).alias(
                "l_extendedprice"
            ),
        )
        .write.mode("overwrite")
        .parquet(f"{cf_dir}/lineitem.parquet")
    )
    t0 = time.time()
    cf = _entry.queries()["q_conformal_interval"](spark, cf_dir).collect()[0]
    cf_s = time.time() - t0
    assert cf["n_cal"] == half_n and cf["n_test"] == half_n
    assert cf["slope"] == 2.5 and cf["intercept"] == 0.0, cf
    # ranks by construction: residual magnitudes 0.01*k (k=1..n/4)
    # each appearing TWICE in the fit half -> cum(0.01k) = 2k;
    # q-hat = 0.01 * ceil(0.9 * (n_cal + 1) / 2)
    k_q = -(-(900 * (half_n + 1)) // (1000 * 2))  # ceil
    assert abs(cf["qhat"] - round(0.01 * k_q, 6)) < 1e-9, (
        cf["qhat"], k_q,
    )
    # test half mirrors the fit half -> covered = 2*k_q of half_n
    assert cf["n_covered"] == 2 * k_q, cf

    # --- q_kcore_census machinery: 8M-directed-edge planted peel ----
    # (round-11, VERDICT r10 #6) the CC row covers pointer jumping but
    # not the synchronous semi-join PEEL loop.  Planted ONION graph:
    # C triangles (the indestructible 2-core) each carrying one
    # 5-node pendant chain — peel at k=2 erodes exactly one chain
    # layer per round, so the whole census series is closed-form:
    # round r in 0..5: n_nodes = (3 + (5 - r))*C, n_edges likewise;
    # rounds 5 and 6: the bare 3C triangle core.  8 undirected edges
    # per unit -> n = 16C directed rows.
    from pfithic_spark.registry.keys_r10 import kcore_peel_series

    kc_C = n // 16
    ku = F.expr("id div 8")
    ke = F.col("id") % 8
    ka = (
        F.when(ke == 0, ku * 8)
        .when(ke == 1, ku * 8 + 1)
        .when(ke == 2, ku * 8 + 2)
        .when(ke == 3, ku * 8)
        .otherwise(ku * 8 + ke - 1)
    )
    kb = (
        F.when(ke == 0, ku * 8 + 1)
        .when(ke == 1, ku * 8 + 2)
        .when(ke == 2, ku * 8)
        .otherwise(ku * 8 + ke)
    )
    und = spark.range(16 * kc_C // 2).select(
        ka.cast("long").alias("src"), kb.cast("long").alias("dst")
    )
    kc_mut = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    t0 = time.time()
    kc_rows = sorted(
        (r["round"], r["n_nodes"], r["n_edges"])
        for r in kcore_peel_series(
            kc_mut, k=2, rounds=6, small_threshold=None
        ).collect()
    )
    kcore_s = time.time() - t0
    kc_want = [
        (r, (3 + max(5 - r, 0)) * kc_C, (3 + max(5 - r, 0)) * kc_C)
        for r in range(7)
    ]
    assert kc_rows == kc_want, (kc_rows[:3], kc_want[:3])

    # --- q_markov_stationary: planted 1001-type chain through the ---
    # registered key (round-11, VERDICT r10 #6).  Hub-and-leaves
    # chain with EXACT micro-quantization: hub self-loops w.p. 1/2
    # (500000 exactly) and spreads 1/2000 to each of 1000 leaves
    # (500 exactly); every leaf self-loops 1/2 and returns 1/2.  TRUE
    # stationary: pi(hub) = 1/2, pi(leaf) = 1/2000.  The all-integer
    # 20-round recurrence from the uniform 999-start was computed BY
    # HAND (h' = h div 2 + 1000*(l div 2); l' = h div 2000 + l div 2)
    # and reaches the EXACT fixed point h = 498000, l = 498 at round
    # 12 — the asserted output.  Each user emits one exact
    # realization: 1001 hub events then (leaf, leaf, hub) per leaf —
    # 4001 events, every transition count matching the probabilities
    # exactly.
    mk_users = n // 4001
    mk_dir = tempfile.mkdtemp(prefix="bench_mk_")
    me = F.col("id") % 4001
    mj = me - 1001
    mleaf = F.expr("(id % 4001 - 1001) div 3") + 1
    mtype = F.when(me <= 1000, F.lit("h")).otherwise(
        F.when(mj % 3 <= 1, F.concat(F.lit("l"), mleaf)).otherwise(
            F.lit("h")
        )
    )
    (
        spark.range(mk_users * 4001)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1_704_067_200_000_000) + me * 1_000_000
            ).alias("ts"),
            F.expr("id div 4001").alias("user_id"),
            mtype.alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(f"{mk_dir}/events.parquet")
    )
    t0 = time.time()
    mk_out = {
        r["event_type"]: r["pi_micro"]
        for r in _entry.queries()["q_markov_stationary"](
            spark, mk_dir
        ).collect()
    }
    markov_stat_s = time.time() - t0
    assert len(mk_out) == 1001, len(mk_out)
    assert mk_out["h"] == 498000, mk_out["h"]
    leaf_vals = {v for k, v in mk_out.items() if k != "h"}
    assert leaf_vals == {498}, leaf_vals

    print(
        json.dumps(
            {
                "n": n,
                "sil_n": n_sil,
                "gini_s": round(gini_s, 2),
                "energy_s": round(energy_s, 2),
                "rrf_s": round(rrf_s, 2),
                "qsketch_s": round(qsk_s, 2),
                "biproj_cap_s": round(biproj_s, 2),
                "knn_corpus_n": n_knn,
                "token_chi2_docs": n_chi_docs,
                "token_chi2_s": round(token_chi2_s, 2),
                "record_linkage_s": round(record_linkage_s, 2),
                "record_linkage_pairs": int(
                    sum(v[0] for v in got_rl.values())
                ),
                "knn_s": round(knn_s, 2),
                "sil_s": round(sil_s, 2),
                "tdigest_s": round(tdigest_s, 2),
                "hll_s": round(hll_s, 2),
                "roc_auc_s": round(roc_auc_s, 2),
                "markov_s": round(markov_s, 2),
                "wsample_s": round(wsample_s, 2),
                "part_rank_s": round(part_rank_s, 2),
                "backlog_s": round(backlog_s, 2),
                "emb_outliers_s": round(emb_outliers_s, 2),
                "growth_s": round(growth_s, 2),
                "cumsum_s": round(cumsum_s, 2),
                "bh_s": round(bh_s, 2),
                "bh_single_window_s": round(bh_single_s, 2),
                "ngram_maxdf_s": round(ngram_s, 2),
                "pack_s": round(pack_s, 2),
                "cc_s": round(cc_s, 2),
                "pagerank_s": round(pagerank_s, 2),
                "plain_join_s": round(plain_join_s, 2),
                "salted_join_s": round(salted_join_s, 2),
                "profile_exact_s": round(profile_exact_s, 2),
                "profile_approx_s": round(profile_approx_s, 2),
                "zorder_write_s": round(zorder_write_s, 2),
                "zorder_pruned_read_s": round(zorder_pruned_read_s, 2),
                "zorder_full_read_s": round(zorder_full_read_s, 2),
                "zorder_files_skipped": skipped,
                "sessionize_s": round(sessionize_s, 2),
                "pca_moments_s": round(pca_moments_s, 2),
                "pca_total_s": round(pca_total_s, 2),
                "bfs_s": round(bfs_s, 2),
                "heavy_hitters_s": round(hh_s, 2),
                "bootstrap_s": round(bootstrap_s, 2),
                "hh_clustered_s": round(hh_clustered_s, 2),
                "hh_clustered_candidates": len(cand_cl),
                "hot_basket_s": round(hot_basket_s, 2),
                "scd2_s": round(scd2_s, 2),
                "merge_upsert_s": round(merge_upsert_s, 2),
                "snapshot_diff_s": round(snapshot_diff_s, 2),
                "kr_s": round(kr_s, 2),
                "kr_loci": n_bias,
                "stream_mv_s": round(mv_s, 2),
                "wau_s": round(wau_s, 2),
                "edit_hotblock_s": round(edit_hotblock_s, 2),
                "edit_hotblock_pairs": int(n_ed),
                "substring_s": round(substring_s, 2),
                "join_pit_s": round(join_pit_s, 2),
                "corr_matrix_s": round(corr_matrix_s, 2),
                "qdisc_exact_s": round(qdisc_exact_s, 2),
                "qdisc_approx_s": round(qdisc_approx_s, 2),
                "ivf_build_s": round(ivf_build_s, 2),
                "ivf_probe_s": round(ivf_probe_s, 2),
                "star_agg_s": round(star_agg_s, 2),
                "assoc_cap_s": round(assoc_cap_s, 2),
                "cusum_s": round(cusum_s, 2),
                "trailing_s": round(trailing_s, 2),
                "lsh_cosine_s": round(lsh_s, 2),
                "lsh_cosine_candidates": int(n_cand),
                "minhash_cap_s": round(minhash_cap_s, 2),
                "minhash_cap_pairs": int(n_mh_pairs),
                "lsh_graded_s": round(lsh_graded_s, 2),
                "lsh_graded_out": int(g["n_out"]),
                "lsh_graded_k2_recall": round(g["k2"] / n_grade, 4),
                "lsh_graded_k6_recall": round(g["k6"] / n_grade, 4),
                "vocab_overlap_s": round(vocab_overlap_s, 2),
                "theil_sen_s": round(theil_sen_s, 2),
                "gains_rank_s": round(gains_rank_s, 2),
                "cohort_ltv_s": round(cohort_ltv_s, 2),
                "session_paths_s": round(session_paths_s, 2),
                "optimize_s": round(optimize_s, 2),
                "containment_cap_s": round(containment_cap_s, 2),
                "adamic_adar_cap_s": round(adamic_adar_cap_s, 2),
                "jsd_s": round(jsd_s, 2),
                "cc_pointer_jump_s": round(cc_s, 2),
                "session_ngrams_s": round(sn_s, 2),
                "kcore_peel_s": round(kcore_s, 2),
                "markov_stationary_s": round(markov_stat_s, 2),
                "conformal_rank_s": round(cf_s, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
