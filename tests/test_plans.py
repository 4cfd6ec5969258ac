"""Physical-plan quality gates: the 100 TB story depends on specific
plan shapes, so assert them — a regression that turns a broadcast join
into a sort-merge join or un-pushes a filter should fail CI, not show
up in a cluster bill."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e

    return e.queries()


def test_filter_pushdown_into_scan(spark, sf_dir, queries):
    """q_filter_in's predicates must reach the parquet scan."""
    plan = _plan(queries["q_filter_in"](spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "l_returnflag" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_column_pruning(spark, sf_dir, queries):
    """q_scan_project reads 4 columns, not 11 — ReadSchema is pruned."""
    plan = _plan(queries["q_scan_project"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_quantity" not in read_schema and "l_tax" not in read_schema


def test_broadcast_join_for_dims(spark, sf_dir, queries):
    """Dimension joins must be broadcast hash joins, never sort-merge."""
    for key in ("q_join_broadcast", "q_join_bias", "q_filter_mappability"):
        plan = _plan(queries[key](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, key
    plan = _plan(queries["q_join_broadcast"](spark, sf_dir))
    assert "SortMergeJoin" not in plan


def test_sort_limit_is_top_n(spark, sf_dir, queries):
    """orderBy+limit must plan TakeOrderedAndProject (no global sort)."""
    plan = _plan(queries["q_sort_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation(spark, sf_dir, queries):
    """Flagship agg must have map-side partial + final HashAggregate."""
    plan = _plan(queries["q_agg_group"](spark, sf_dir))
    # formatted output lists each node twice (tree + details): the
    # partial+final pair shows as 4 mentions
    assert plan.count("HashAggregate") >= 4
    # exactly two shuffles: groupBy hash exchange + orderBy range part.
    assert plan.count("Exchange") <= 4


def test_scalable_cumsum_no_single_partition_window(spark, sf_dir, queries):
    """The running-sum query must NOT contain a global (unpartitioned)
    one-task window — the two-phase form partitions by _pid."""
    plan = _plan(queries["q_window_running"](spark, sf_dir))
    # a naive global cumsum shows 'Window' fed by 'Exchange SinglePartition'
    # over the FULL data; ours windows within _pid partitions. The tiny
    # offsets table may still use SinglePartition — assert the big-side
    # window is partitioned.
    assert "_pid" in plan


def test_range_join_is_broadcast_nested_loop(spark, sf_dir, queries):
    plan = _plan(queries["q_join_range"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


def test_interval_topk_uses_window_group_limit(spark, sf_dir, queries):
    """row_number<=k must be rewritten to WindowGroupLimit (no full
    per-partition sort materialization)."""
    plan = _plan(queries["q_topk_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketed tables joined on the bucket key must not exchange either
    side (the pay-the-shuffle-once-at-write-time lever)."""
    from pfithic_spark.io import load_table, write_bucketed_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed_table(li, "b_lineitem", ["l_orderkey"], 8, ["l_orderkey"])
    write_bucketed_table(o, "b_orders", ["o_orderkey"], 8, ["o_orderkey"])
    try:
        bl = spark.table("b_lineitem")
        bo = spark.table("b_orders")
        # disable auto-broadcast so the join would otherwise shuffle
        with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bl.join(bo, bl["l_orderkey"] == bo["o_orderkey"])
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # co-located: zero shuffles
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_dedup_signatures_stay_jvm_side(spark, sf_dir, queries):
    """MinHash and SimHash signatures are plain JVM aggregations — a
    Python eval node in these plans means the collect_list→UDF shape
    regressed (shuffles every shingle/token hash instead of 64 longs)."""
    for key in ("q_dedup_near", "q_dedup_simhash"):
        plan = _plan(queries[key](spark, sf_dir))
        assert "EvalPython" not in plan, key  # Batch- or ArrowEvalPython


def test_minhash_single_shuffle_before_join(spark, sf_dir, queries):
    """The minhash signature build needs exactly one data exchange (the
    doc_id window); the groupBy must reuse that partitioning and the
    band self-join must not re-shuffle the cached signature table."""
    from pfithic_spark import llmops
    from pfithic_spark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    sigs_plan = _plan(
        llmops.shingle_rows(d, "text", "doc_id", dedup=False).select(
            "doc_id", F.xxhash64("shingle").alias("h")
        )
        .groupBy("doc_id")
        .agg(F.min("h"))
    )
    # tree + details each mention the node once → one Exchange = 2 hits
    assert sigs_plan.count("Exchange") <= 2, sigs_plan


def test_multimodal_stages_have_no_shuffle(spark, sf_dir, queries):
    """The multimodal mapInPandas stages (resize / frames / features)
    are scan → project → Arrow-batched map: a shuffle-free narrow
    pipeline, so a 100 TB corpus streams through without an Exchange."""
    for key in ("q_multimodal_resize", "q_multimodal_frames", "q_multimodal_features"):
        plan = _plan(queries[key](spark, sf_dir))
        assert "Exchange" not in plan, f"{key} gained a shuffle:\n{plan}"
        assert "MapInPandas" in plan


def test_ivf_probe_is_equi_join_on_cell(spark, sf_dir, queries):
    """q_sim_ivf's probe join must be a hash equi-join on the cell key
    (broadcast query side) — never a nested-loop over the corpus."""
    plan = _plan(queries["q_sim_ivf"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "cell" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_index_probe_partition_pruning(spark, sf_dir, tmp_path):
    """The on-disk IVF path: corpus written partitioned by cell, probe
    filter reaches the scan as a PartitionFilter (only probed cells'
    files are read), and results match the in-memory IVF form."""
    from pfithic_spark import llmops
    from pfithic_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = [
        r["embedding"]
        for r in e.filter(F.col("vec_id") % 37 == 0)
        .orderBy("vec_id")
        .limit(16)
        .collect()
    ]
    path = str(tmp_path / "ivf_index")
    llmops.ivf_write_index(e, cents, path)
    q = e.filter(F.col("vec_id") < 10)
    pruned = llmops.ivf_topk_pruned(spark, path, q, cents, k=5, nprobe=4)
    plan = _plan(pruned)
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "cell" in pf and ("IN" in pf or "in(" in pf.lower()), pf
    got = {(r["q_id"], r["e_id"]) for r in pruned.collect()}
    want = {
        (r["q_id"], r["e_id"])
        for r in llmops.ivf_topk(e, q, cents, k=5, nprobe=4).collect()
    }
    assert got == want


def test_text_clean_is_narrow_pipeline(spark, sf_dir, queries):
    """q_text_clean is scan → project (regexp in codegen) with ZERO
    exchanges — a 100 TB corpus streams through without a shuffle."""
    plan = _plan(queries["q_text_clean"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan  # pure JVM regexp, no UDF


def test_cap_per_group_uses_window_group_limit(spark, sf_dir, queries):
    plan = _plan(queries["q_cap_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_stream_join_is_banded_equi_join(spark, sf_dir, queries):
    """The time-range self-join must be an equi-join on
    (user_id, time-bucket) — never a nested-loop, and never keyed on
    user_id alone (hot-user skew)."""
    plan = _plan(queries["q_stream_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_bkt" in plan  # the banding key made it into the join


def test_forced_two_phase_paths(spark):
    """small_threshold=None forces the two-phase cumsum / distributed
    BH that a 100 TB input would take: the big side must be
    range-partitioned with windows inside _pid partitions (never one
    global window task), and both must agree exactly with the
    single-window forms / a closed form."""
    import numpy as np

    from pfithic_spark import windows as win

    n = 300_000
    df = spark.range(n).select(
        F.col("id").alias("d"), ((F.col("id") * 37) % 97 + 1).alias("cc")
    )
    two = win.scalable_cumsum(df, "d", {"run": "cc"}, small_threshold=None)
    plan = _plan(two)
    assert "_pid" in plan, "running window must partition by _pid"
    # bucket ids must be a pure function of the order VALUE, never the
    # physical partition id (branch consistency must not depend on AQE
    # exchange reuse — round-6 review)
    assert "SPARK_PARTITION_ID" not in plan.upper()
    i = np.arange(n, dtype=np.int64)
    cs = np.cumsum((i * 37) % 97 + 1)
    probe = [0, 12_345, n - 1]
    got = {r["d"]: r["run"] for r in two.filter(F.col("d").isin(probe)).collect()}
    assert got == {p: int(cs[p]) for p in probe}

    scored = df.withColumn(
        "p_value", ((F.col("d") * 7919) % 1000003).cast("double") / 1000003.0
    )
    a = win.bh_fdr_scalable(scored, "p_value", m=n, tiebreak=["d"])
    assert "_pid" in _plan(a)
    assert "SPARK_PARTITION_ID" not in _plan(a).upper()
    b = win.bh_fdr(scored, "p_value", m=n, tiebreak=["d"])
    diff = (
        a.select("d", F.col("q_value").alias("qa"))
        .join(b.select("d", F.col("q_value").alias("qb")), "d")
        .agg(F.max(F.abs(F.col("qa") - F.col("qb"))))
        .collect()[0][0]
    )
    assert diff == 0.0, f"scalable BH diverges from single-window BH by {diff}"


def test_probe_cache_released_when_over_threshold(spark):
    """windows._probe_small: the small-threshold count probe persists
    its input so the returned plan's re-reads hit cache, but an input
    that FAILS the probe — the at-scale path, where the frame is
    arbitrarily large — must be unpersisted immediately instead of
    squatting in MEMORY_AND_DISK until keep-4 eviction.  Only
    confirmed-small frames stay cached."""
    from pfithic_spark import session
    from pfithic_spark import windows as win

    session.release_bounded_caches()
    small = spark.range(100).select(
        F.col("id").alias("d"), F.lit(1).alias("v")
    )
    win.scalable_cumsum(small, "d", {"run": "v"}, small_threshold=1000)
    assert len(session._bounded_caches) == 1
    assert session._bounded_caches[0].is_cached
    session.release_bounded_caches()

    big = spark.range(5000).select(
        F.col("id").alias("d"), F.lit(1).alias("v")
    )
    out = win.scalable_cumsum(big, "d", {"run": "v"}, small_threshold=1000)
    assert session._bounded_caches == [], "over-threshold frame must be released"
    # the two-phase path still computes correctly after the release
    got = {
        r["d"]: r["run"]
        for r in out.filter(F.col("d").isin([0, 4999])).collect()
    }
    assert got == {0: 1, 4999: 5000}


def test_scalable_cumsum_multi_two_phase(spark):
    """scalable_cumsum with several sums and totals (the
    q_energy_distance spine): the forced two-phase path must equal the
    plain one-task window forms for EVERY requested running sum and
    global total, under reuse-off/AQE-off flags (the branch-consistency
    gate — all lineage branches must derive identical _pid from the
    frozen boundary literals), and its plan must partition every
    data-grain window by _pid."""
    from pyspark.sql import Window as W

    from pfithic_spark import windows as win

    n = 120_000
    df = spark.range(n).select(
        F.col("id").alias("v"),
        ((F.col("id") * 37) % 97 + 1).alias("a"),
        ((F.col("id") * 13) % 41 + 2).alias("b"),
    )
    confs = {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {}
    for k, val in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, val)
    try:
        got = win.scalable_cumsum(
            df,
            "v",
            sums={"ca": "a", "cb": "b"},
            tots={"ta": "a", "tb": "b"},
            small_threshold=None,
        )
        p = _plan(got)
        assert "windowspecdefinition(_pid" in p, p[:1500]
        assert "SPARK_PARTITION_ID" not in p.upper()
        w = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
        exp = df.select(
            "v",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
        )
        bad = (
            got.select("v", F.col("ca").alias("ga"), F.col("cb").alias("gb"))
            .join(exp, "v")
            .filter((F.col("ga") != F.col("ca")) | (F.col("gb") != F.col("cb")))
            .count()
        )
        assert bad == 0
        r0 = got.select("ta", "tb").first()
        tot = df.agg(F.sum("a"), F.sum("b")).first()
        assert (r0["ta"], r0["tb"]) == (tot[0], tot[1])
    finally:
        for k, val in old.items():
            if val is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, val)


@pytest.mark.parametrize("variant", ["part", "part_tots", "desc_tiebreak"])
def test_scalable_cumsum_two_phase_variants(spark, variant):
    """The forced two-phase scalable_cumsum equals the plain window
    exactly, in values and column order, under reuse-off/AQE-off
    flags, in the forms its callers use besides one global sum:
    per-part running sums (q_auc_by_group), per-part sums with
    per-part totals, and a descending leading column with ties, NULLs
    and an ascending tiebreak (compaction_plan's next-fit order)."""
    from pyspark.sql import Window as W

    from pfithic_spark import windows as win

    n = 60_000
    df = spark.range(n).select(
        "id",
        (F.col("id") % 5).alias("seg"),
        F.when(F.col("id") % 1000 == 0, F.lit(None))
        .otherwise(F.abs(F.xxhash64("id")) % 3000)
        .alias("v"),
        ((F.col("id") * 37) % 97 + 1).alias("a"),
    )
    if variant == "desc_tiebreak":
        kw = dict(order_col="v", descending=True, tiebreak=["id"])
        w = W.orderBy(F.col("v").desc(), "id")
    else:
        kw = dict(order_col="id", part_cols=["seg"])
        w = W.partitionBy("seg").orderBy("id")
    tots = {"t": "a"} if variant == "part_tots" else {}
    exp = df.select(
        "id",
        F.sum("a").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("c"),
        *[
            F.sum("a")
            .over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
            .alias(out)
            for out in tots
        ],
    )
    confs = {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, val in confs.items():
        spark.conf.set(k, val)
    try:
        got = win.scalable_cumsum(
            df, sums={"c": "a"}, tots=tots, small_threshold=None, **kw
        )
        assert "_pid" in _plan(got)
        cols = ["c", *tots]
        # the plain window's column order, whichever route ran
        assert got.columns == [*df.columns, *cols]
        g = got.select("id", *[F.col(c).alias("g_" + c) for c in cols])
        bad = (
            g.join(exp, "id")
            .filter(
                " OR ".join(f"NOT (g_{c} <=> {c})" for c in cols)
            )
            .count()
        )
        assert bad == 0 and got.count() == n
    finally:
        for k, val in old.items():
            if val is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, val)


def test_bh_fdr_sorts_once(spark):
    """bh_fdr's executed plan holds exactly ONE Sort: the ascending
    rank is count(*) over the whole frame + 1 − row_number() in the
    same descending window that takes the suffix-min, so no caller
    needs to know the row count for the single-sort plan."""
    import re

    from pfithic_spark import windows as win

    n = 5000
    df = spark.range(n).select(
        "id",
        (((F.col("id") * 7919) % 1003).cast("double") / 1003.0).alias(
            "p_value"
        ),
    )
    out = win.bh_fdr(df, "p_value", m=3 * n, tiebreak=["id"])
    assert len(out.collect()) == n
    plan = out._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    sorts = re.findall(r"(?m)^[\s:+|-]*(?:\*\(\d+\) )?Sort \[", plan.toString())
    assert len(sorts) == 1, plan.toString()


def test_scalable_rank_survives_disabled_exchange_reuse(spark):
    """Round-6 review regression: a spark_partition_id-stamped
    two-phase rank is only correct because AQE dedupes the two
    identical rangepartitioning exchanges — with exchange reuse and
    AQE off, each lineage branch re-samples partition boundaries
    independently and the _pid offsets mis-rank.  scalable_rank
    instead derives bucket ids as a pure function of the order value
    (frozen quantile-boundary literals), so its ranks must equal the
    single-window row_number under ANY optimizer flags."""
    from pyspark.sql import Window as W

    from pfithic_spark import windows as win

    n = 50_000
    df = spark.range(n).select(
        (F.xxhash64(F.col("id")) % 10_000).alias("v"), "id"
    )
    confs = {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        ranked = win.scalable_rank(
            df, [F.col("v"), F.col("id")], "v", rank_col="rk", tot_col="tot"
        )
        got = {r["id"]: r["rk"] for r in ranked.collect()}
        exp_df = df.withColumn(
            "rk", F.row_number().over(W.orderBy("v", "id")).cast("long")
        )
        exp = {r["id"]: r["rk"] for r in exp_df.collect()}
        assert got == exp
        assert ranked.select("tot").first()["tot"] == n
        # same gate for the sibling helpers — cumsum and exclusive
        # cummax branch at the identical point
        uniq = df.groupBy("id").agg(F.max("v").alias("val"))
        cs = win.scalable_cumsum(
            uniq, "id", {"run": "val"}, small_threshold=None
        )
        w_all = W.orderBy("id").rowsBetween(W.unboundedPreceding, 0)
        cs_exp = uniq.withColumn("run", F.sum("val").over(w_all))
        diff = (
            cs.select("id", F.col("run").alias("a"))
            .join(cs_exp.select("id", F.col("run").alias("b")), "id")
            .filter(F.col("a") != F.col("b"))
            .count()
        )
        assert diff == 0
        cm = win.scalable_cummax_exclusive(uniq, "id", "val", "prevmax")
        w_ex = W.orderBy("id").rowsBetween(W.unboundedPreceding, -1)
        cm_exp = uniq.withColumn("prevmax", F.max("val").over(w_ex))
        diff2 = (
            cm.select("id", F.col("prevmax").alias("a"))
            .join(cm_exp.select("id", F.col("prevmax").alias("b")), "id")
            .filter(
                ~(
                    (F.col("a") == F.col("b"))
                    | (F.col("a").isNull() & F.col("b").isNull())
                )
            )
            .count()
        )
        assert diff2 == 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scalable_trailing_aggs_matches_plain_window(spark):
    """Round-7: scalable_trailing_aggs (rank-chunked trailing frame
    with replicated context rows) must equal the plain
    W.partitionBy(part).orderBy(...).rowsBetween(-L, -1|0) window
    EXACTLY — multiple parts, chunk smaller than parts' row counts so
    many chunk boundaries are crossed, both frame variants, and under
    exchange-reuse/AQE disabled (branch-consistency gate)."""
    from pyspark.sql import Window as W

    from pfithic_spark import windows as win

    n = 30_000
    df = spark.range(n).select(
        (F.col("id") % 3).alias("g"),
        (F.xxhash64(F.col("id")) % 100_000).alias("t"),
        "id",
        ((F.col("id") * 37) % 97).cast("decimal(18,4)").alias("v"),
    )
    aggs = {
        "n": F.count(F.lit(1)),
        "s": F.sum(F.col("v")),
        "mx": F.max(F.col("v")),
    }
    confs = {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        for include_current in (False, True):
            got = win.scalable_trailing_aggs(
                df,
                ["g"],
                ["t", "id"],
                aggs,
                lookback=100,
                include_current=include_current,
                chunk=500,  # far below per-part rows -> many boundaries
                small_threshold=None,
            )
            fr = (
                W.partitionBy("g")
                .orderBy("t", "id")
                .rowsBetween(-100, 0 if include_current else -1)
            )
            exp = df.select(
                "id", *[c.over(fr).alias(k2) for k2, c in aggs.items()]
            )
            bad = (
                got.select("id", "n", "s", "mx")
                .join(
                    exp.select(
                        "id",
                        F.col("n").alias("n2"),
                        F.col("s").alias("s2"),
                        F.col("mx").alias("mx2"),
                    ),
                    "id",
                )
                .filter(
                    (F.col("n") != F.col("n2"))
                    | ~(
                        (F.col("s") == F.col("s2"))
                        | (F.col("s").isNull() & F.col("s2").isNull())
                    )
                    | ~(
                        (F.col("mx") == F.col("mx2"))
                        | (F.col("mx").isNull() & F.col("mx2").isNull())
                    )
                )
                .count()
            )
            assert bad == 0, f"include_current={include_current}"
            assert got.count() == n, "context rows must not leak"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_scalable_part_rank_matches_plain_window(spark):
    """Round-7: scalable_part_rank (per-part two-phase rank, factored
    out of scalable_trailing_aggs) must equal the plain
    W.partitionBy(part).orderBy(...) row_number EXACTLY — several
    partition values, heavy ties in the leading order column (forces
    the tiebreak chain through bucket boundaries), reuse/AQE off
    (branch-consistency gate, the _pid determinism contract)."""
    from pyspark.sql import Window as W

    from pfithic_spark import windows as win

    n = 50_000
    df = spark.range(n).select(
        (F.col("id") % 5).alias("g"),
        # only 97 distinct leading values -> every bucket boundary
        # lands inside a tie run
        (F.xxhash64(F.col("id")) % 97).alias("t"),
        "id",
    )
    confs = {
        "spark.sql.exchange.reuse": "false",
        "spark.sql.adaptive.enabled": "false",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        got = win.scalable_part_rank(
            df, ["g"], ["t", "id"], rank_col="r", num_partitions=64
        )
        exp = df.withColumn(
            "r", F.row_number().over(W.partitionBy("g").orderBy("t", "id"))
        )
        bad = (
            got.select("id", F.col("r").alias("a"))
            .join(exp.select("id", F.col("r").cast("long").alias("b")), "id")
            .filter(F.col("a") != F.col("b"))
            .count()
        )
        assert bad == 0
        assert got.count() == n
        assert set(got.columns) == {"g", "t", "id", "r"}, got.columns
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_by_value_above_256_buckets(spark):
    """Round-7 (VERDICT r6 #1): the 256-bucket cap in
    _bucketed_by_value ceilinged phase-2 parallelism of the two-phase
    helpers; the log-depth nested-when binary search lifts it to 2048.
    At 1024 requested buckets the helper must actually produce >256
    distinct _pid values AND keep ranks exact against the single-window
    form (the binary-search bucket id must equal the flat
    count-of-boundaries-passed semantics for every row)."""
    from pyspark.sql import Window as W

    from pfithic_spark import windows as win

    n = 200_000
    df = spark.range(n).select(
        (F.xxhash64(F.col("id")) % 1_000_003).alias("v"), "id"
    )
    parted = win._bucketed_by_value(df, "v", 1024)
    n_pids = parted.select("_pid").distinct().count()
    assert n_pids > 256, f"cap not lifted: {n_pids} buckets"
    ranked = win.scalable_rank(
        df, [F.col("v"), F.col("id")], "v", num_partitions=1024, rank_col="rk"
    )
    exp = df.withColumn(
        "rk", F.row_number().over(W.orderBy("v", "id")).cast("long")
    )
    diff = (
        ranked.select("id", F.col("rk").alias("a"))
        .join(exp.select("id", F.col("rk").alias("b")), "id")
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert diff == 0
    # descending direction shares the binary-search builder — gate it too
    desc = win.scalable_cummax_exclusive(
        df.groupBy("id").agg(F.max("v").alias("val")),
        "id",
        "val",
        "prevmax",
        descending=True,
        num_partitions=1024,
    )
    w_ex = W.orderBy(F.col("id").desc()).rowsBetween(W.unboundedPreceding, -1)
    exp2 = (
        df.groupBy("id")
        .agg(F.max("v").alias("val"))
        .withColumn("prevmax", F.max("val").over(w_ex))
    )
    bad = (
        desc.select("id", F.col("prevmax").alias("a"))
        .join(exp2.select("id", F.col("prevmax").alias("b")), "id")
        .filter(
            ~(
                (F.col("a") == F.col("b"))
                | (F.col("a").isNull() & F.col("b").isNull())
            )
        )
        .count()
    )
    assert bad == 0


def test_bucketed_by_value_nulls_and_dtype(spark):
    """ADVICE r6: non-numeric bucket_col must fail fast with a targeted
    error (not a py4j IllegalArgumentException mid-job); NULL order
    values must rank exactly where a plain Window.orderBy puts them
    (NULLS FIRST ascending) instead of being silently mis-bucketed."""
    import pytest

    from pyspark.sql import Window as W

    from pfithic_spark import windows as win

    sdf = spark.range(10).select(F.col("id").cast("string").alias("s"), "id")
    with pytest.raises(ValueError, match="numeric"):
        win._bucketed_by_value(sdf, "s", 8)

    n = 5_000
    df = spark.range(n).select(
        F.when(F.col("id") % 97 == 0, F.lit(None)).otherwise(
            F.xxhash64(F.col("id")) % 10_000
        ).alias("v"),
        "id",
    )
    ranked = win.scalable_rank(
        df, [F.col("v"), F.col("id")], "v", num_partitions=64, rank_col="rk"
    )
    exp = df.withColumn(
        "rk", F.row_number().over(W.orderBy("v", "id")).cast("long")
    )
    diff = (
        ranked.select("id", F.col("rk").alias("a"))
        .join(exp.select("id", F.col("rk").alias("b")), "id")
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert diff == 0


def test_outer_join_aggregates_before_join(spark, sf_dir, queries):
    """q_join_outer's order side pre-aggregates (partial+final) before
    the join — the join input is per-key, not per-order-row."""
    plan = _plan(queries["q_join_outer"](spark, sf_dir))
    assert "HashAggregate" in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_pack_sequences_partitioned_window(spark, sf_dir, queries):
    """q_pack_sequences' running total must window within (source,
    shard) partitions — no global/SinglePartition window anywhere."""
    plan = _plan(queries["q_pack_sequences"](spark, sf_dir))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning" in plan.lower()


def test_mix_sources_corpus_never_shuffles(spark, sf_dir, queries):
    """q_mix_sources: the rate dimension broadcasts back onto the
    corpus; the only exchanges are the tiny per-source count agg and
    broadcasts — the documents relation itself is never hash-exchanged."""
    plan = _plan(queries["q_mix_sources"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every non-broadcast exchange operates on the counts agg (n_src),
    # never on full corpus rows (which would carry text/doc_id payload)
    import re

    for m in re.finditer(r"\(\d+\) Exchange\n(.*?)\n\n", plan, re.S):
        detail = m.group(1)
        if "SinglePartition" in detail or "broadcast" in detail.lower():
            continue
        assert "n_src" in detail or "count" in detail, detail


def test_overlap_join_is_banded_equi_join(spark, sf_dir, queries):
    """The interval-overlap join must be an equi-join on the day-bucket
    key — never a nested loop or cartesian over the interval sets."""
    plan = _plan(queries["q_join_interval_overlap"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "_bkt" in plan  # banding key reached the join


def test_skew_salted_join_stays_on_shuffle_path(spark, sf_dir, queries):
    """q_join_skew_salted demonstrates manual salting: the hints must
    keep it a shuffled hash join (a broadcast would bypass the very
    path salting exists to fix) and the join keys must include the
    salt column so hot users spread over reducers."""
    plan = _plan(queries["q_join_skew_salted"](spark, sf_dir))
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert "salt" in plan


def test_profile_columns_single_scan(spark, sf_dir, queries):
    """q_profile_columns computes every per-column statistic from ONE
    pass over lineitem: exactly one parquet scan, with the ×7 Expand
    (six exact distincts + plain aggs) applied post-projection."""
    import re

    plan = _plan(queries["q_profile_columns"](spark, sf_dir))
    # one detail entry "(n) Scan parquet" per physical scan node (the
    # raw string also repeats each node in the tree header)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan


def test_pagerank_iterations_read_cached_edges(spark, sf_dir, queries):
    """q_pagerank's five iterations must scan the persisted edge list
    (InMemoryTableScan), not re-derive orders ⋈ lineitem per round:
    at most the two derivation scans appear, against ≥5 cache reads."""
    import re

    # the lazy dataflow: the registered q_pagerank eagerly checkpoints
    # and unpersists (so its returned plan is just a checkpoint scan)
    from pfithic_spark.registry import pagerank_lazy

    df, invariants = pagerank_lazy(spark, sf_dir)
    plan = _plan(df)
    for inv in invariants:
        inv.unpersist()
    # ≥5 cache-read nodes: one per iteration join (plus deg reads).
    # Parquet scans can't be bounded textually — the InMemoryRelation
    # detail blocks reprint the cached subtree's scans — so the
    # recompute protection is the wall-clock scale row + this gate.
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 5


def test_bucketed_join_has_no_exchange(spark, sf_dir, queries):
    """q_join_bucketed: both sides bucketed on the join key into the
    same bucket count → the join itself must run with ZERO Exchange
    (the only exchange allowed is the one feeding the final
    aggregation).  This is the pay-once-at-ingest co-location pattern;
    an Exchange ahead of the join means bucketing was silently lost."""
    df = queries["q_join_bucketed"](spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    # both scans must actually read as bucketed
    assert plan.count("Bucketed: true") == 2, plan
    # exactly ONE physical Exchange — the final aggregation's; each
    # node prints twice in formatted output (tree + detail), so one
    # exchange = at most 2 mentions.  A third mention means a join
    # input was re-shuffled and bucketing was silently lost.
    assert plan.count("Exchange") <= 2, plan


def test_bloom_semi_join_probe_in_fact_scan_stage(spark, sf_dir, queries):
    """q_join_bloom: the bloom probe (xxhash64 shifts/ands over a
    constant-folded literal array) must sit in a Filter on the FACT
    side before the semi join — pruning rows ahead of the shuffle is
    the entire point of the pattern."""
    plan = _plan(queries["q_join_bloom"](spark, sf_dir))
    assert "xxhash64" in plan
    assert "LeftSemi" in plan
    # the probe is a fact-side Filter, not a post-join projection:
    # xxhash64 must appear before the join node in the tree header
    tree = plan.split("\n\n")[0]
    join_line = next(
        i for i, l in enumerate(tree.split("\n")) if "Join" in l
    )
    filter_lines = [
        i
        for i, l in enumerate(tree.split("\n"))
        if "Filter" in l and i > join_line
    ]
    assert filter_lines, "no Filter below the join on the fact input"


def test_chunk_documents_is_narrow(spark, sf_dir, queries):
    """q_chunk_documents must be a zero-shuffle, zero-Python pipeline —
    chunks are emitted at scan speed on the partition that read the
    document."""
    plan = _plan(queries["q_chunk_documents"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_pca_projection_is_narrow(spark, sf_dir, queries):
    """q_pca's returned projection is a narrow JVM fold over the scan —
    the covariance/eigensolve cost was paid while BUILDING the query,
    the result DataFrame itself re-executes shuffle-free."""
    plan = _plan(queries["q_pca"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_sessionize_single_shuffle(spark, sf_dir, queries):
    """Both windows and the final groupBy must ride ONE user_id
    exchange: hashpartitioning(user_id) satisfies the (user_id, sess)
    clustering, so a second exchange is a plan regression."""
    import re

    plan = _plan(queries["q_sessionize"](spark, sf_dir))
    # count detail-section nodes "(n) Exchange" — one entry per node
    n_exchanges = sum(
        1
        for ln in plan.splitlines()
        if re.match(r"^\(\d+\) Exchange", ln.strip())
    )
    assert n_exchanges == 1, plan[:2000]


def test_bm25_filters_through_broadcast(spark, sf_dir, queries):
    """The query-term set is a fixed literal, so (round-8) tf pivots
    into conditional aggregates of the SAME doc_id groupBy that counts
    document length — the token stream never joins anything (the r4
    spelling broadcast-joined the 3-term set, then shuffle-joined tf
    back to dl doc-by-doc), and the whole scorer stays JVM-side."""
    plan = _plan(queries["q_bm25"](spark, sf_dir))
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_heavy_hitters_exact_pass_is_broadcast(spark, sf_dir, queries):
    """Candidate filtering must broadcast the bounded candidate set
    onto the token stream — the long-tail vocabulary never shuffles."""
    plan = _plan(queries["q_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_sample_reservoir_is_top_n(spark, sf_dir, queries):
    """The deterministic sample must plan as TakeOrderedAndProject
    (per-partition k-heaps), never a global Sort + Limit."""
    plan = _plan(queries["q_sample_reservoir"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_corr_matrix_single_scan(spark, sf_dir, queries):
    """All d(d+1)/2 sufficient sums must come from ONE lineitem scan —
    the anti-pattern is a scan per column pair."""
    plan = _plan(queries["q_corr_matrix"](spark, sf_dir))
    # each scan appears twice in a formatted plan (tree + detail)
    assert plan.count("Scan parquet") == 2
    assert "HashAggregate" in plan


def test_dq_checks_single_scan(spark, sf_dir, queries):
    """The whole validation suite costs one scan of orders."""
    plan = _plan(queries["q_dq_checks"](spark, sf_dir))
    # each scan appears twice in a formatted plan (tree + detail)
    assert plan.count("Scan parquet") == 2


def test_referential_orphans_broadcast_anti(spark, sf_dir, queries):
    """Dimension sides of the NOT EXISTS audits must broadcast: the
    fact tables never shuffle for these anti joins."""
    plan = _plan(queries["q_referential_orphans"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftAnti" in plan


def test_sorted_neighborhood_no_global_sort(spark, sf_dir, queries):
    """The neighborhood window is PARTITIONED by source: every Sort in
    the plan is partition-local (global=false)."""
    plan = _plan(queries["q_dedup_sorted_neighborhood"](spark, sf_dir))
    import re

    assert "Window" in plan
    # formatted plans render global sorts via a preceding rangepartitioning
    assert "rangepartitioning" not in plan


def test_incremental_agg_partial_merge(spark, sf_dir, queries):
    """Base and delta produce PARTIAL aggregates that merge — the plan
    carries partial_sum/merge HashAggregates, and the final merge agg
    runs over the unioned partials, not the raw rows."""
    plan = _plan(queries["q_incremental_agg"](spark, sf_dir))
    assert "HashAggregate" in plan
    assert "Union" in plan


def test_edit_distance_dedup_is_equi_join(spark, sf_dir, queries):
    """Blocking must be an equi-join on (source, prefix) — never a
    cartesian/nested-loop over the corpus."""
    plan = _plan(queries["q_edit_distance_dedup"](spark, sf_dir))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_ks_test_single_scan(spark, sf_dir, queries):
    """n0/n1 derive from the value-grain aggregate — the raw events
    table is scanned exactly once."""
    plan = _plan(queries["q_ks_test"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2  # tree + detail of ONE scan


def test_degree_dist_no_cartesian(spark, sf_dir, queries):
    plan = _plan(queries["q_graph_degree_dist"](spark, sf_dir))
    assert "Cartesian" not in plan


def test_zipf_regression_on_bounded_topk(spark, sf_dir, queries):
    """The OLS runs past a rank filter (rk <= 1000) — the plan carries
    the window + filter, and raw text reaches only the token count."""
    plan = _plan(queries["q_zipf_fit"](spark, sf_dir))
    assert "Window" in plan


def test_chi_square_single_scan(spark, sf_dir, queries):
    """Margins ride windows over the bounded crosstab — one events
    scan, not one per margin branch."""
    plan = _plan(queries["q_chi_square"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2  # tree + detail of ONE scan


def test_dedup_substring_jvm_side_no_python(spark, sf_dir, queries):
    """The whole span pipeline (gram build, hash flag, islands) is
    built-in expressions — no Python eval node may appear, and the
    only shuffled text is the 32-hex md5, never raw grams."""
    plan = _plan(queries["q_dedup_substring"](spark, sf_dir))
    assert "EvalPython" not in plan and "Cartesian" not in plan


def test_welch_ttest_single_scan(spark, sf_dir, queries):
    """Both cohorts' sufficient statistics come out of ONE lineitem
    scan (conditional aggregates), never a scan per group."""
    plan = _plan(queries["q_welch_ttest"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2  # tree + detail of ONE scan


def test_iqr_outliers_fences_broadcast(spark, sf_dir, queries):
    """The <=5-row fence table must broadcast back onto the fact scan
    — a sort-merge join here would shuffle the whole fact table."""
    plan = _plan(queries["q_iqr_outliers"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_edit_distance_block_cap_shares_exchange(spark, sf_dir, queries):
    """The hot-block-size window rides each join side's own
    (source, blk) hash partitioning — the cap must not add any shuffle
    beyond the two the self-join already pays (plus one broadcast).
    Formatted plans list each node twice, so 3 exchanges = 6 hits."""
    plan = _plan(queries["q_edit_distance_dedup"](spark, sf_dir))
    assert plan.count("Exchange") <= 6


def test_star_agg_dims_broadcast_one_fact_shuffle(spark, sf_dir, queries):
    """The dimension chain (customer/nation/region) must broadcast —
    the only SortMergeJoin/shuffle-join allowed is lineitem><orders.
    Formatted plans list each node twice (tree + detail), so >= 3
    broadcast joins = >= 6 hits and ONE allowed shuffle join = <= 2."""
    plan = _plan(queries["q_star_agg"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 6
    assert plan.count("SortMergeJoin") + plan.count(
        "ShuffledHashJoin"
    ) <= 2


def test_hhi_single_scan_margin_windows(spark, sf_dir, queries):
    """HHI/CR4 margins ride windows over the bounded (nation,
    supplier) grain — one lineitem scan (plus the two broadcast
    dims), never a scan per margin branch."""
    plan = _plan(queries["q_hhi_concentration"](spark, sf_dir))
    # formatted plans list each node twice: 3 tables x 2 = 6
    assert plan.count("Scan parquet") == 6
    assert "Window" in plan


def test_cramers_v_single_scan(spark, sf_dir, queries):
    plan = _plan(queries["q_cramers_v"](spark, sf_dir))
    assert plan.count("Scan parquet") == 4  # orders + customer, x2
    assert "BroadcastHashJoin" in plan


def test_anova_single_scan(spark, sf_dir, queries):
    """All per-group sufficient sums come from ONE orders scan."""
    plan = _plan(queries["q_anova_f"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2


def test_assoc_rules_no_cartesian_topk(spark, sf_dir, queries):
    """Gates the REAL shipped plan (the registered key returns an
    opaque eager localCheckpoint, so the key's own lazy builders are
    gated instead — including the basket-cap count + left-semi join):
    pair generation is an equi-join on the basket key (never a
    cartesian) and the top-100 is a TakeOrderedAndProject, not a
    global sort."""
    from pfithic_spark.io import load_table
    from pfithic_spark.registry.keys_r6 import (
        assoc_basket_table,
        assoc_rules_from_baskets,
    )

    li = load_table(spark, sf_dir, "lineitem")
    plan = _plan(assoc_rules_from_baskets(assoc_basket_table(li)))
    assert "Cartesian" not in plan
    # exactly ONE BroadcastNestedLoopJoin is sanctioned: the 1-row
    # broadcast n_baskets scalar attach (x2 in formatted plans)
    assert plan.count("BroadcastNestedLoop") <= 2
    assert "TakeOrderedAndProject" in plan


def test_cusum_one_scan_bounded_windows(spark, sf_dir, queries):
    plan = _plan(queries["q_cusum_changepoint"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_rolling_corr_day_grain_window(spark, sf_dir, queries):
    """The window runs on the day-grain aggregate — one orders scan,
    sufficient stats inside the window frame."""
    plan = _plan(queries["q_rolling_corr"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_seasonal_decompose_one_scan(spark, sf_dir, queries):
    plan = _plan(queries["q_seasonal_decompose"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_conversion_lag_single_scan(spark, sf_dir, queries):
    """Both event types' first-times come from ONE events scan via
    conditional aggregates — never a scan per funnel step."""
    plan = _plan(queries["q_conversion_lag"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2


def test_gains_table_one_scan_decile_windows(spark, sf_dir, queries):
    """The ranking window runs on the customer-grain aggregate and the
    margins on the 10-row decile table — one orders scan total."""
    plan = _plan(queries["q_gains_table"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_lsh_cosine_no_cartesian_banded(spark, sf_dir, queries):
    """Candidate generation must be band-keyed equi-joins — never a
    cartesian over the corpus — and the signature build must stay
    JVM-side (no Python eval)."""
    plan = _plan(queries["q_dedup_lsh_cosine"](spark, sf_dir))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan


def test_control_chart_single_scan(spark, sf_dir, queries):
    """p-bar rides a full-frame window over the day grain — one
    events scan, never a separate global-total branch."""
    plan = _plan(queries["q_control_chart"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_topk_movers_one_chain(spark, sf_dir, queries):
    """Both periods pivot on ONE chain: each fact table is scanned
    exactly once (a per-period branch self-join would double the
    scan+join+window subtree), and the |gain| top-20 is a
    TakeOrderedAndProject."""
    plan = _plan(queries["q_topk_movers"](spark, sf_dir))
    assert plan.count("Scan parquet") == 4  # lineitem + orders, x2
    assert "TakeOrderedAndProject" in plan


def test_forecast_eval_one_scan(spark, sf_dir, queries):
    plan = _plan(queries["q_forecast_naive_eval"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_two_proportion_ztest_one_scan(spark, sf_dir, queries):
    """All four sufficient integers come from ONE events scan."""
    plan = _plan(queries["q_two_proportion_ztest"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2


def test_histogram_2d_one_scan(spark, sf_dir, queries):
    plan = _plan(queries["q_histogram_2d"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_cohort_ltv_windows_after_custkey_shuffle(spark, sf_dir, queries):
    plan = _plan(queries["q_cohort_ltv"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_theil_sen_broadcasts_day_grain(spark, sf_dir, queries):
    """The O(D^2) pair join is a broadcast NLJ over the bounded day
    table, never a shuffled cartesian; and the two-phase median's
    bucket ids must be value-deterministic (never a
    spark_partition_id stamp, whose cross-branch consistency is only
    an AQE exchange-reuse accident — round-6 review)."""
    plan = _plan(queries["q_theil_sen_trend"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SPARK_PARTITION_ID" not in plan.upper()


def test_abc_classification_one_scan(spark, sf_dir, queries):
    plan = _plan(queries["q_abc_classification"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    assert "Window" in plan


def test_runs_test_one_scan(spark, sf_dir, queries):
    plan = _plan(queries["q_runs_test"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2


def test_winsorized_single_exchange(spark, sf_dir, queries):
    """Windows + groupBy all cluster on c_nationkey: ONE shuffle."""
    plan = _plan(queries["q_winsorized_stats"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    import re
    assert len(re.findall(r"\bExchange\b", plan)) == 2  # 1 real, x2 fmt


def test_session_paths_single_fact_exchange(spark, sf_dir, queries):
    """All three windows + the session groupBy reuse the user_id
    exchange; only the tiny path groupBy adds a second."""
    plan = _plan(queries["q_session_paths"](spark, sf_dir))
    assert plan.count("Scan parquet") == 2
    import re
    assert len(re.findall(r"\bExchange\b", plan)) == 4  # 2 real, x2 fmt
    assert "TakeOrderedAndProject" in plan


def test_r7_key_plan_shapes(spark):
    """Round-7 §2.19 plan gates: the perf claims in the docstrings must
    hold in the executed plan, not just prose — (a) q_price_volume_mix
    pushes the raw shipdate range to the parquet scan and broadcasts
    both dims (no SortMergeJoin anywhere); (b) q_open_order_backlog's
    only fact-fact operation is ONE join (the orderkey shuffle) and the
    grid join is broadcast; (c) q_mutual_information broadcasts the
    customer dim."""
    import __spark_entry__ as e

    q = e.queries()
    sf = "/root/testdata/sf0.01"

    plan = (
        q["q_price_volume_mix"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "l_shipdate" in plan and ">= 1997-01-01" in plan, plan[:1500]
    scan_lines = [
        ln for ln in plan.splitlines() if "DataFilters" in ln and "l_shipdate" in ln
    ]
    assert scan_lines, "shipdate range must reach the scan as a data filter"
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, "both dims must broadcast"

    plan2 = (
        q["q_mutual_information"](spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan2 and "SortMergeJoin" not in plan2

    # (b) q_open_order_backlog: the registered key returns an eager
    # localCheckpoint (ExistingRDD scan), so the gate reads the lazy
    # dataflow — same split as pagerank_lazy.  ONE fact-fact orderkey
    # join (whatever strategy AQE picks at this scale), the day-grid
    # calendar join broadcast, and no cartesian anywhere.
    from pfithic_spark.registry import open_order_backlog_lazy

    out, invariants = open_order_backlog_lazy(spark, sf)
    try:
        plan3 = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for inv in invariants:
            inv.unpersist()
    import re

    # The orderkey join must live ONLY inside the persisted dd's
    # lineage: the plan string reprints the InMemoryRelation subtree
    # once per cache reader (bounds branch + calendar join branch), so
    # every textual okey-join occurrence must be one of those reprints
    # — equal counts means zero okey joins outside the cache, i.e. the
    # fact-fact join executes exactly once, at dd materialization.
    okey_joins = re.findall(r"\w*Join \[okey", plan3)
    cache_blocks = plan3.count("InMemoryRelation [")
    assert cache_blocks == 2, plan3[:1500]
    assert len(okey_joins) == cache_blocks, okey_joins
    assert re.search(r"BroadcastHashJoin \[dayidx", plan3), plan3[:1500]
    assert "CartesianProduct" not in plan3


def test_r8_key_plan_shapes(spark):
    """Round-8 §2.20 plan gates: (a) q_tdigest_quantiles' global rank
    runs the two-phase bucket machinery (windows partitioned by _pid —
    never an unpartitioned one-task sort) over exactly TWO pruned
    lineitem scans (the rank-window branch and the bucket-count
    branch; at 100 TB two 3-column scans beat caching the full fact
    table, which is why the input is deliberately NOT persisted —
    unlike q_theil_sen_trend, whose rank input is a bounded pair
    table); (b)
    q_weighted_sample is a stateless hash projection into
    TakeOrderedAndProject — one scan, no shuffle-join anywhere; (c)
    q_markov_attribution reads events EXACTLY ONCE (the terminal
    transition rides the same pass via the explode-delta pattern, not
    a self-union re-scan); (d) q_pq_codes broadcasts the codebook
    (never a shuffled join against the 1,024-row model) and no
    cartesian appears; (e) q_negative_sampling broadcasts the brand
    dim on both uses."""
    import re

    import __spark_entry__ as e

    q = e.queries()
    sf = "/root/testdata/sf0.01"

    def plan(key):
        return _plan(q[key](spark, sf))

    p = plan("q_tdigest_quantiles")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p[:1500]
    assert "windowspecdefinition(_pid" in p, p[:1500]
    assert "CartesianProduct" not in p

    p = plan("q_weighted_sample")
    assert "TakeOrderedAndProject" in p
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p

    p = plan("q_markov_attribution")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, (
        "events must be scanned once — the terminal row rides the "
        "explode, not a union re-scan"
    )
    assert "CartesianProduct" not in p

    p = plan("q_pq_codes")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p

    p = plan("q_kruskal_wallis")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1

    # (f) q_brown_forsythe: the 5-row median table broadcasts back to
    # the fact scan (two pruned scans — median branch + join branch;
    # persisting the full fact at 100 TB would be worse), never a SMJ.
    p = plan("q_brown_forsythe")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2, p[:1500]
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_pmi_bigrams_single_pass_no_window(spark, sf_dir):
    """q_pmi_bigrams (round-8 modernization): ONE documents scan —
    N and both marginals derive from the persisted bigram-count table,
    never from re-executed corpus branches — and the bigram stream is
    an array-side slice/zip with NO per-doc window (the old lead()
    spelling paid a doc_id shuffle before the counts).  The lazy
    dataflow is gated (the registered key returns a checkpoint)."""
    import re

    from pfithic_spark.registry import pmi_bigrams_lazy

    out, invariants = pmi_bigrams_lazy(spark, sf_dir)
    try:
        plan = _plan(out)
    finally:
        for inv in invariants:
            inv.unpersist()
    # the InMemoryRelation detail blocks reprint the cached subtree's
    # scan once per cache reader; every textual scan must be such a
    # reprint — equal counts means no scan outside the cache
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    caches = len(re.findall(r"\(\d+\) InMemoryTableScan", plan))
    assert caches >= 4, plan[:1200]  # n, c12-filter, c1, c2 readers
    assert scans <= caches, (scans, caches)
    assert "Window" not in plan, "bigrams must not use a per-doc window"
    assert "TakeOrderedAndProject" in plan


def test_bm25_single_pass_no_fact_join(spark, sf_dir):
    """q_bm25 (round-8 modernization): ONE token-stream pass — dl and
    the per-term tf columns are conditional aggregates of the same
    doc_id groupBy, the doc-grain wide table is cached, and the scalar
    stats attach by broadcast — so the old doc-keyed tf-to-dl shuffle
    join is gone.  Every textual parquet scan must be the cached
    subtree's reprint (q_pmi_bigrams gate discipline)."""
    import re

    from __spark_entry__ import queries

    out = queries()["q_bm25"](spark, sf_dir)
    plan = _plan(out)
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    caches = len(re.findall(r"\(\d+\) InMemoryTableScan", plan))
    assert caches >= 2, plan[:1200]  # stats reader + scoring reader
    assert scans <= caches, (scans, caches)
    assert "SortMergeJoin" not in plan, "no doc-keyed fact join"
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats attach


def test_lm_score_no_window_model_cached(spark, sf_dir):
    """q_lm_score (round-8 modernization): bigrams come from an
    array-side slice/zip (NO per-doc lead() window — the old spelling
    paid a doc_id shuffle before any counting), and the
    vocabulary-bounded (w1, w2) model table is cached and feeds both
    the prefix counts (c1 = sum of c12) and the scoring join.  The
    narrow bigram branch recomputes for scoring (scan + split + zip,
    zero shuffles) — so at most TWO live corpus scans (vocab + scoring)
    appear beyond the cached subtree's reprints."""
    import re

    from __spark_entry__ import queries

    out = queries()["q_lm_score"](spark, sf_dir)
    plan = _plan(out)
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    caches = len(re.findall(r"\(\d+\) InMemoryTableScan", plan))
    assert caches >= 2, plan[:1200]  # c1 reader + scoring-join reader
    assert scans <= 2 + caches, (scans, caches)
    assert "Window" not in plan, "bigrams must not use a per-doc window"


def test_r8b_key_plan_shapes(spark, sf_dir, queries):
    """§2.21 performance claims pinned to physical plans:
    (a) q_roc_auc / q_mcnemar / q_calibration_bins / q_feature_hash
        are single-scan, join-free plans (value/customer/decile/vocab
        grain aggregation only);
    (b) q_split_information_gain reads lineitem ONCE (inline-array
        explode, not a unionAll double-scan) and its windows run on
        the bounded feature-value grain;
    (c) q_hll_sketch touches events exactly twice (registers + the
        exact-count certification column) with broadcast-only joins;
    (d) q_silhouette_score broadcasts the codebook onto the component
        stream — vectors never join vectors;
    (e) q_ndcg plans no shuffle join and one parquet scan.
    Everything stays JVM-side (no EvalPython anywhere)."""
    import re

    def plan(key):
        df = queries[key](spark, sf_dir)
        return _plan(df)

    def scans(p):
        return len(re.findall(r"\(\d+\) Scan parquet", p))

    for k in ("q_roc_auc", "q_mcnemar", "q_calibration_bins",
              "q_feature_hash"):
        p = plan(k)
        assert scans(p) == 1, (k, p[:1200])
        assert "Join" not in p, k
        assert "EvalPython" not in p, k

    p = plan("q_split_information_gain")
    assert scans(p) == 1, p[:1500]
    assert "Generate" in p  # the 2-feature inline explode
    assert "Join" not in p

    p = plan("q_hll_sketch")
    assert scans(p) == 2, p[:1500]
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p

    p = plan("q_silhouette_score")
    assert scans(p) == 2, p[:1500]  # embeddings + codebook parquet
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    p = plan("q_ndcg")
    assert scans(p) == 1, p[:1500]
    assert "SortMergeJoin" not in p and "EvalPython" not in p


def test_r8b_scalar_census_keys_join_free(spark, sf_dir, queries):
    """q_cochran_armitage / q_ab_srm are single-scan join-free scalar
    censuses; q_cliffs_delta is the q_mann_whitney value-grain shape
    (one scan, no join, bounded-grain window)."""
    import re

    for k in ("q_cochran_armitage", "q_ab_srm", "q_cliffs_delta"):
        p = _plan(queries[k](spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, k
        assert "Join" not in p, k
        assert "EvalPython" not in p, k


def test_knn_and_readability_plan_shapes(spark, sf_dir, queries):
    """q_knn_classify (round 14): ONE Arrow pass over the corpus
    (MapInPandas — llmops.cosine_topk_gemm, bit-exactness pinned by
    test_cosine_topk_gemm_equals_catalyst) replaces the n·q non-equi
    broadcast join; the n·q pair fan and row-at-a-time Python stay
    banned.  q_readability: a narrow zero-shuffle projection
    (multimodal-gate discipline)."""
    import re

    p = _plan(queries["q_knn_classify"](spark, sf_dir))
    assert "MapInPandas" in p, p[:1500]
    assert "BroadcastNestedLoopJoin" not in p  # the old n·q pair fan
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p

    p = _plan(queries["q_readability"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Exchange" not in p, "readability gained a shuffle"


def test_record_linkage_blocked_capped_join(spark, sf_dir, queries):
    """q_record_linkage: candidate pairs come from an equi-join on the
    block key (never a cartesian product), and the rn <= cap filter
    sits BELOW the self-join on both sides (the quadratic lever fires
    before any pair exists)."""
    p = _plan(queries["q_record_linkage"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # both sides of the self-join carry the rn cap predicate
    assert p.count("rn#") >= 2 and "100" in p
    assert "EvalPython" not in p


def test_quantile_normalize_pooled_rank_scalable(spark, sf_dir, queries):
    """q_quantile_normalize (VERDICT r8 `weak` fix): the pooled-corpus
    rank spine routes through windows.scalable_rank — every window in
    the executed plan is partitioned by _pid (two-phase bucket
    machinery; the ~32-row broadcast prefix-offset window also orders
    by _pid) or by source (the per-source decile rank).  A raw
    corpus-grain `Window.orderBy(n_chars, doc_id)` row_number — the
    §4.4 one-task collapse at 100 TB — must NOT appear."""
    import re

    p = _plan(queries["q_quantile_normalize"](spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs, p[:1500]
    assert all(s in ("_pid", "source") for s in specs), specs
    assert "CartesianProduct" not in p


def test_value_grain_prefix_keys_two_phase_at_scale(
    spark, sf_dir, queries, monkeypatch
):
    """VERDICT r9 #4: every o_totalprice/metric-value-grain prefix-sum
    key must route through the scalable helpers so that ABOVE the
    small threshold (monkeypatched to 0 here — the 100 TB regime)
    every data-grain window in the plan is _pid-partitioned (per-part
    keys: part cols + _pid), and the forced-two-phase values equal
    the default-path values exactly."""
    import re

    from pfithic_spark import windows as win

    keys = (
        "q_roc_auc",
        "q_cliffs_delta",
        "q_weighted_quantile",
        "q_energy_distance",
        "q_auc_by_group",
        "q_conformal_interval",
    )
    base = {k: queries[k](spark, sf_dir).collect() for k in keys}
    monkeypatch.setattr(win, "SMALL_THRESHOLD_DEFAULT", 0)
    for k in keys:
        df = queries[k](spark, sf_dir)
        p = _plan(df)
        heads = re.findall(r"windowspecdefinition\((\w+)#", p)
        if k != "q_conformal_interval":
            # conformal's rank spine is eager-localCheckpointed at
            # construction, so its RETURNED plan carries no window —
            # value equality below still exercises the two-phase path
            assert heads, (k, p[:1500])
        assert all(h in ("_pid", "segment") for h in heads), (k, heads)
        got = sorted(map(str, df.collect()))
        assert got == sorted(map(str, base[k])), k


def test_r9_key_plan_shapes(spark, sf_dir, queries):
    """§2.22 performance claims pinned to physical plans:
    (a) q_er_clusters / q_bipartite_projection: the pair generator is
        an equi-join with the rank cap BELOW it — never a cartesian;
    (b) q_group_reservoir: one scan, per-group WindowGroupLimit, no
        shuffle join anywhere;
    (c) q_session_ngrams: events scanned ONCE, all windows cluster on
        user_id, top-k is TakeOrderedAndProject;
    (d) q_simhash_band_index: one documents scan, the band explode is
        a Generate (no join at all), everything JVM-side;
    (e) q_energy_distance: ONE orders scan, value-grain windows, no
        joins;
    (f) q_quantile_sketch: global rank through the two-phase _pid
        machinery (never a one-task sort); scalar attaches are 1-row
        broadcasts;
    (g) q_knn_graph: the edge build is ONE grouped-Arrow kernel per
        label block (FlatMapGroupsInPandas — round 14), never an n²
        pair join or a cartesian; the ≤ k·n edge table is persisted
        before the mutuality self-join;
    (h) q_lift_deciles: broadcast-or-shuffle equi-join only, no
        cartesian, response collapses to customer grain.
    No EvalPython anywhere."""
    import re

    def plan(key):
        return _plan(queries[key](spark, sf_dir))

    def scans(p):
        return len(re.findall(r"\(\d+\) Scan parquet", p))

    p = plan("q_er_clusters")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p

    p = plan("q_group_reservoir")
    assert scans(p) == 1, p[:1200]
    assert "WindowGroupLimit" in p, p[:1500]
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p

    p = plan("q_session_ngrams")
    assert scans(p) == 1, p[:1200]
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "Join" not in p

    p = plan("q_simhash_band_index")
    assert scans(p) == 1, p[:1200]
    assert "Generate" in p
    assert "Join" not in p and "EvalPython" not in p

    p = plan("q_energy_distance")
    assert scans(p) == 1, p[:1200]
    assert "Join" not in p and "EvalPython" not in p
    assert "windowspecdefinition" in p

    p = plan("q_quantile_sketch")
    assert "windowspecdefinition(_pid" in p, p[:1500]
    assert "CartesianProduct" not in p

    # q_knn_graph checkpoints its bounded output — gate the lazy
    # dataflow (open_order_backlog_lazy convention).  Round 14: the
    # edge build is the grouped-Arrow kernel (FlatMapGroupsInPandas,
    # bit-exactness pinned by test_knn_edges_gemm_equals_catalyst) —
    # the n² pair join, the CodegenFallback zip_with fold and the
    # rank-window exchange must be GONE; the persisted ≤ k·n edge
    # table must appear as an InMemoryRelation so the kernel executes
    # once across its three consumers; row-at-a-time Python
    # (BatchEvalPython) stays banned.
    from pfithic_spark.registry import knn_graph_lazy

    out, invariants = knn_graph_lazy(spark, sf_dir)
    try:
        p = _plan(out)
    finally:
        for inv in invariants:
            inv.unpersist()
    assert "CartesianProduct" not in p
    assert "FlatMapGroupsInPandas" in p, p[:1500]
    assert "aggregate(zip_with" not in p, p[:1500]
    assert "WindowGroupLimit" not in p, p[:1500]
    assert "InMemoryRelation" in p, p[:1500]
    assert "BatchEvalPython" not in p

    p = plan("q_bipartite_projection")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p

    p = plan("q_lift_deciles")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    # VERDICT r9 #3: the customer-grain global rank must ride the
    # two-phase _pid spine — the only permissible unpartitioned
    # window specs are the 10-row decile-table margins and the
    # bucket-offset prefix (both bounded grains).  A raw
    # customer-grain NTILE/row_number shows up as an unpartitioned
    # spec ordering by score_cents.
    assert "windowspecdefinition(_pid" in p, p[:1500]
    assert "ntile" not in p.lower(), p[:1500]
    for m in re.finditer(r"windowspecdefinition\((\w+)", p):
        head = m.group(1)
        assert head in ("_pid", "decile"), (head, p[:1500])


def test_conformal_interval_plan(spark, sf_dir, queries):
    """q_conformal_interval: the fit and q̂ 1-row frames are
    eager-localCheckpointed at construction (each of the three
    pruned 4-column lineitem scans executes ONCE; re-executing the
    stats scan per crossJoin branch was the pre-gate plan), so the
    RETURNED plan holds exactly one parquet scan (the test-half
    census); scalar attaches are 1-row broadcasts
    (BroadcastNestedLoopJoin is the accepted 1-row-attach physical
    form; a CartesianProduct is not), and no EvalPython."""
    import re

    p = _plan(queries["q_conformal_interval"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p[:1500]
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p


def test_r9b_key_plan_shapes(spark, sf_dir, queries):
    """Second §2.22 batch plan gates:
    (a) q_rrf_fusion: BOTH global rankings run the two-phase _pid
        machinery — every window in the plan is _pid-partitioned
        (raw corpus-grain Window.orderBy is the §4.4 collapse);
        fused top-k is TakeOrderedAndProject;
    (b) q_mixture_allocation: ONE corpus scan; all windows ride the
        bounded |sources|-row grain;
    (c) q_interarrival_stats: the median rank runs through
        scalable_part_rank (windows carry _pid beside the lag
        window's user_id clustering); census join broadcasts;
    (d) q_ngram_novelty: train side collapses to DISTINCT before the
        join (HashAggregate below the join), no cartesian;
    (e) q_length_log2_histogram: single scan, join-free, no
        EvalPython anywhere."""
    import re

    def plan(key):
        return _plan(queries[key](spark, sf_dir))

    def scans(p):
        return len(re.findall(r"\(\d+\) Scan parquet", p))

    p = plan("q_rrf_fusion")
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and all(s == "_pid" for s in specs), specs
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p

    p = plan("q_mixture_allocation")
    assert scans(p) == 1, p[:1200]
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = plan("q_interarrival_stats")
    assert "windowspecdefinition" in p
    assert "_pid" in p, p[:1500]
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p

    p = plan("q_ngram_novelty")
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = plan("q_length_log2_histogram")
    assert scans(p) == 1, p[:1200]
    assert "Join" not in p and "EvalPython" not in p


def test_r9c_key_plan_shapes(spark, sf_dir, queries):
    """Third §2.22 batch plan gates:
    (a) q_auc_by_group: the prefix sum is PARTITIONED by segment
        (windowspecdefinition leads with the slice key — never an
        unpartitioned score window), join is an equi-join;
    (b) q_power_mde: scalar census — no window at all, no cartesian;
    (c) q_bloom_membership: the filter collapses to a DISTINCT bit
        set (HashAggregate) and probes join it by equality; scalar
        attaches are 1-row broadcasts, never a CartesianProduct;
    (d) q_gini_coefficient: the global rank is two-phase (_pid
        windows only);
    (e) q_dp_counts / q_holdout_leakage: single-pass censuses, no
        EvalPython, no cartesian."""
    import re

    def plan(key):
        return _plan(queries[key](spark, sf_dir))

    p = plan("q_auc_by_group")
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and all(s == "segment" for s in specs), specs
    assert "CartesianProduct" not in p

    p = plan("q_power_mde")
    assert "windowspecdefinition" not in p, p[:1200]
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = plan("q_bloom_membership")
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p
    assert "EvalPython" not in p

    p = plan("q_gini_coefficient")
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and all(s == "_pid" for s in specs), specs
    assert "CartesianProduct" not in p

    p = plan("q_dp_counts")
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = plan("q_holdout_leakage")
    assert "CartesianProduct" not in p and "EvalPython" not in p


def test_r9d_key_plan_shapes(spark, sf_dir, queries):
    """Fourth §2.22 batch plan gates: (a) q_er_golden_record — no
    cartesian, the block equi-join carries the rn cap; (b)
    q_price_elasticity — the part dim joins BROADCAST onto the
    part-grain aggregate, no sort-merge, no window; (c)
    q_sketch_merge — everything rides 256-bucket-grain aggregates
    (no window, no EvalPython, the merge compare is a bounded
    full-outer join)."""
    def plan(key):
        return _plan(queries[key](spark, sf_dir))

    p = plan("q_er_golden_record")
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = plan("q_price_elasticity")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "windowspecdefinition" not in p
    assert "CartesianProduct" not in p

    p = plan("q_sketch_merge")
    assert "windowspecdefinition" not in p
    assert "CartesianProduct" not in p and "EvalPython" not in p


def test_r9e_key_plan_shapes(spark, sf_dir, queries):
    """Fifth §2.22 batch: q_ab_cuped is a window-free scalar census
    (one fact-to-customer-grain aggregate + one customer join);
    q_importance_weights is a single-scan bounded-bucket-grain
    report.  No cartesian, no EvalPython."""
    import re

    p = _plan(queries["q_ab_cuped"](spark, sf_dir))
    assert "windowspecdefinition" not in p, p[:1200]
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = _plan(queries["q_importance_weights"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, p[:1200]
    assert "Join" not in p and "EvalPython" not in p


def test_r10_key_plan_shapes(spark, sf_dir, queries):
    """§2.23 performance claims pinned to physical plans:
    (a) q_minhash_signature_index: ONE documents scan, the band
        explode is a Generate — no join, no window, no shuffle
        aggregate (the per-doc minima are array_min over transform,
        never an explode+groupBy), everything JVM-side;
    (b) q_psi_source_panel: single scan, join-free; every window is
        partitioned by source (bounded bin-grain margins);
    (c) q_cohens_kappa / q_k_anonymity / q_ratio_metric_delta:
        single-scan join-free censuses, no window at data grain;
    (d) q_ivf_assignment: embeddings never join embeddings — the
        only join is the broadcast 16-row codebook attach, and the
        argmin is a WindowGroupLimit (rank-1 prune, no full sort
        materialization);
    (e) q_token_budget_curriculum: one corpus scan; the epoch grid
        is a broadcast attach, never a CartesianProduct;
    (f) q_stratified_conformal / q_pinball_loss: per-part ranks
        ride scalable_part_rank — every windowspecdefinition leads
        with the part key or _pid, never an unpartitioned value
        window; joins broadcast; q_heaps_law: one corpus scan to the
        inverted-index grain, the 1-row fit attach broadcasts;
    (g) q_rolling_distinct_hll: all windows partition by bucket (the
        bounded 256-register grain) and the register-grid attach is
        a broadcast;
    (h) q_source_overlap: the pair join is token-keyed equi (no
        cartesian), sizes broadcast.
    No EvalPython anywhere."""
    import re

    def plan(key):
        return _plan(queries[key](spark, sf_dir))

    def scans(p):
        return len(re.findall(r"\(\d+\) Scan parquet", p))

    def heads(p):
        return re.findall(r"windowspecdefinition\((\w+)#", p)

    p = plan("q_minhash_signature_index")
    assert scans(p) == 1, p[:1200]
    assert "Generate" in p
    assert "Join" not in p and "Window" not in p
    assert "Exchange" not in p, p[:1500]  # zero-shuffle write path
    assert "EvalPython" not in p

    p = plan("q_psi_source_panel")
    assert scans(p) == 1, p[:1200]
    assert "Join" not in p and "EvalPython" not in p
    assert heads(p) and all(h == "source" for h in heads(p)), heads(p)

    for k in ("q_cohens_kappa", "q_k_anonymity", "q_ratio_metric_delta"):
        p = plan(k)
        assert scans(p) == 1, (k, p[:1200])
        assert "Join" not in p, k
        assert "windowspecdefinition" not in p, k
        assert "EvalPython" not in p, k

    p = plan("q_ivf_assignment")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "WindowGroupLimit" in p, p[:1500]
    assert "EvalPython" not in p

    p = plan("q_token_budget_curriculum")
    assert scans(p) == 1, p[:1200]
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p

    p = plan("q_stratified_conformal")
    assert all(h in ("segment", "_pid") for h in heads(p)), heads(p)
    assert "CartesianProduct" not in p
    # the customer-fact join may legitimately shuffle (both sides
    # are data-grain); the 5-row stats/q̂ attaches must broadcast
    assert "BroadcastHashJoin" in p, p[:1500]
    assert "EvalPython" not in p

    p = plan("q_pinball_loss")
    assert all(h in ("segment", "_pid") for h in heads(p)), heads(p)
    assert "CartesianProduct" not in p and "EvalPython" not in p

    # q_heaps_law eager-checkpoints its bounded |sources|-row output
    # while the persisted panel is cached (single corpus scan at
    # construction); the returned plan must stay join- and UDF-free
    p = plan("q_heaps_law")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p

    # q_rolling_distinct_hll eager-checkpoints its bounded day-grain
    # output at construction (du persist discipline), so the RETURNED
    # plan is a checkpoint scan; gate the construction-time claim on
    # the lazy register pipeline instead
    from pfithic_spark.io import load_table as _lt
    from pfithic_spark import llmops as _llm
    from pyspark.sql import Window as _W

    ev = _lt(spark, sf_dir, "events")
    from pfithic_spark.io import epoch_us as _eus

    du = ev.select(
        F.floor(_eus(ev, "ts") / F.lit(86_400_000_000)).alias("day"),
        "user_id",
        _llm.knuth_hash("user_id").alias("h"),
    ).distinct()
    dr = (
        du.select("day", F.expr("h div 16777216").alias("bucket"))
        .groupBy("day", "bucket")
        .agg(F.count(F.lit(1)).alias("rho"))
    )
    wroll = _W.partitionBy("bucket").orderBy("day").rangeBetween(-6, 0)
    probe = dr.select("day", F.max("rho").over(wroll).alias("r"))
    p = _plan(probe)
    assert heads(p) and all(h == "bucket" for h in heads(p)), heads(p)
    p = plan("q_rolling_distinct_hll")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p

    p = plan("q_source_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "EvalPython" not in p


def test_r10b_key_plan_shapes(spark, sf_dir, queries):
    """§2.24 performance claims pinned to physical plans:
    (a) q_cmh_test: one fact join, then everything rides the bounded
        strata grain — no window anywhere, no cartesian;
    (b) q_hill_tail_index: the ONLY data-grain op is a
        TakeOrderedAndProject (per-partition heaps, never a global
        sort); the estimator runs on the bounded survivor set;
    (c) q_log_odds_tokens: ONE corpus scan to the vocab grain,
        derived marginals, TakeOrderedAndProject top-k;
    (d) q_poisson_rate_test / q_block_maxima_gumbel: single-scan
        join-free censuses with no window at data grain;
    (e) q_markov_stationary / q_sequence_entropy eager-checkpoint
        bounded outputs at construction (iterative/branched lineage
        truncation) — returned plans stay UDF- and cartesian-free.
    No EvalPython anywhere."""
    import re

    def plan(key):
        return _plan(queries[key](spark, sf_dir))

    def scans(p):
        return len(re.findall(r"\(\d+\) Scan parquet", p))

    p = plan("q_cmh_test")
    assert "windowspecdefinition" not in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p

    p = plan("q_hill_tail_index")
    assert "TakeOrderedAndProject" in p, p[:1500]
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p

    p = plan("q_log_odds_tokens")
    assert scans(p) == 1, p[:1200]
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p

    for k in ("q_poisson_rate_test", "q_block_maxima_gumbel"):
        p = plan(k)
        assert scans(p) == 1, (k, p[:1200])
        assert "Join" not in p, k
        assert "windowspecdefinition" not in p, k
        assert "EvalPython" not in p, k

    for k in ("q_markov_stationary", "q_sequence_entropy"):
        p = plan(k)
        assert "CartesianProduct" not in p, k
        assert "EvalPython" not in p, k


def _windows_ride_bounded_limits(plan: str) -> None:
    """Assert every Window node in the formatted plan tree has a
    TakeOrderedAndProject (or GlobalLimit) somewhere in its SUBTREE —
    i.e. any unpartitioned window only ever re-ranks a bounded
    limit-prefix, never the raw corpus.  This is the invariant the
    r10 q_rank_biased_overlap gate failed to state (VERDICT r10 #2):
    it rejected CartesianProduct/POWER/EvalPython but not the two
    corpus-grain global-sort windows that shipped."""
    tree = plan.split("\n\n")[0].splitlines()

    def indent(line: str) -> int:
        # tree glyphs (+- / : / spaces) precede the operator name
        return len(line) - len(line.lstrip(" +-:*"))

    for i, line in enumerate(tree):
        if "Window" not in line:
            continue
        w_ind = indent(line)
        ok = False
        for sub in tree[i + 1 :]:
            if indent(sub) <= w_ind:
                break
            if "TakeOrderedAndProject" in sub or "GlobalLimit" in sub:
                ok = True
                break
        assert ok, f"Window without bounded-limit subtree:\n{line}\n{plan[:2000]}"


def test_r10c_key_plan_shapes(spark, sf_dir, queries):
    """Final §2.24 batch plan gates (tightened round 11 per VERDICT
    r10 #2–#3):
    (a) q_mrr: NO window at all — first_rank is two bounded
        source-grain aggregates (min_by struct + broadcast-join
        count-strictly-ahead); no cartesian;
    (b) q_rank_biased_overlap: each rank spine is an
        orderBy().limit(50) TakeOrderedAndProject prefix; every
        Window node re-ranks a bounded limit output (subtree check),
        doc-keyed equi-join, frozen-literal weights (no runtime pow);
    (c) q_price_index: fact join + (part, year)-grain aggregate +
        part-keyed equi self-join — no cartesian;
    (d) q_negative_binomial_fit: single-scan join-free census with
        no window.
    No EvalPython anywhere."""
    import re

    def plan(key):
        return _plan(queries[key](spark, sf_dir))

    def scans(p):
        return len(re.findall(r"\(\d+\) Scan parquet", p))

    p = plan("q_mrr")
    assert "windowspecdefinition" not in p, p[:1500]
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = plan("q_rank_biased_overlap")
    assert "TakeOrderedAndProject" in p, p[:1500]
    _windows_ride_bounded_limits(p)
    assert "CartesianProduct" not in p
    assert "POWER" not in p.upper()
    assert "EvalPython" not in p

    p = plan("q_price_index")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p

    p = plan("q_negative_binomial_fit")
    assert scans(p) == 1, p[:1200]
    assert "Join" not in p
    assert "windowspecdefinition" not in p
    assert "EvalPython" not in p


def test_r10d_key_plan_shapes(spark, sf_dir, queries):
    """Completeness-estimator plan gates: q_capture_recapture and
    q_unseen_vocabulary are single-scan, join-free, window-free
    censuses over a signature/vocabulary grain; no EvalPython."""
    import re

    for k in ("q_capture_recapture", "q_unseen_vocabulary"):
        p = _plan(queries[k](spark, sf_dir))
        assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1, k
        assert "Join" not in p, k
        assert "windowspecdefinition" not in p, k
        assert "EvalPython" not in p, k


def test_r11_key_plan_shapes(spark, sf_dir, queries):
    """§2.25 plan gates:
    (a) q_psi_drift_incremental: every window rides the bounded
        source grain (the panel), snapshot/delta scans only — no
        EvalPython, no cartesian;
    (b) q_compaction_policy: the packing window's input is the
        manifest-bounded file census (an Aggregate over bucket
        feeds it); no EvalPython;
    (c) q_ivf_rebalance (gated on the LAZY dataflow — the registered
        key returns an eager checkpoint scan): the only non-equi
        expansion is the broadcast 16-row codebook
        (BroadcastNestedLoopJoin), every window partitions by
        vec_id, no CartesianProduct, no EvalPython."""
    import re

    p = _plan(queries["q_psi_drift_incremental"](spark, sf_dir))
    heads = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert heads and all(h == "source" for h in heads), heads
    assert "CartesianProduct" not in p and "EvalPython" not in p

    p = _plan(queries["q_compaction_policy"](spark, sf_dir))
    assert "CartesianProduct" not in p and "EvalPython" not in p
    # the unpartitioned packing window must consume the bucket-grain
    # aggregate (bounded by the manifest's file count), never raw rows
    assert "HashAggregate" in p

    from pfithic_spark.registry.keys_r10 import ivf_distance_table
    from pfithic_spark.registry import keys_r11 as r11

    q = ivf_distance_table(spark, sf_dir)
    qe = r11._quantized_embeddings(spark, sf_dir)
    cells = (
        spark.read.parquet(
            f"{r11._GOLDEN_DIR}/ivf_centroids.parquet"
        )
        .select("cell")
        .distinct()
    )
    out, caches = r11.ivf_rebalance_plan(q, qe, cells)
    p = _plan(out)
    for c in caches:
        c.unpersist()
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p  # the bounded 16x codebook
    heads = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert heads and all(h == "vec_id" for h in heads), heads


def test_r11b_key_plan_shapes(spark, sf_dir, queries):
    """§2.25 second-batch plan gates:
    (a) q_packing_efficiency: the packing window partitions by
        (source, shard) — never global; bounded-grain aggregates
        after;
    (b) q_temperature_mixing: the rate panel broadcasts; the corpus
        pass is one aggregate — no window at all, no POWER (the
        exponent grid is sqrt-composed by design);
    (c) q_tukey_hsd: the pairwise join runs on the bounded k-row
        group table (both join inputs are aggregates), no window;
    (d) q_survival_km: sessionization windows partition by user_id;
        the KM spine's unpartitioned windows ride the bounded
        duration grain (fed by aggregates).
    No EvalPython, no CartesianProduct with fact inputs."""
    import re

    p = _plan(queries["q_packing_efficiency"](spark, sf_dir))
    heads = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert heads and all(h == "source" for h in heads), heads
    assert "EvalPython" not in p

    p = _plan(queries["q_temperature_mixing"](spark, sf_dir))
    assert "windowspecdefinition" not in p
    assert "POWER" not in p.upper()
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "EvalPython" not in p

    p = _plan(queries["q_tukey_hsd"](spark, sf_dir))
    assert "windowspecdefinition" not in p
    assert "EvalPython" not in p
    # one fact scan feeding aggregates; the pair join is post-agg
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 3

    p = _plan(queries["q_survival_km"](spark, sf_dir))
    heads = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert heads and all(h in ("user_id", "dur") for h in heads), heads
    assert "EvalPython" not in p


def test_minhash_calibration_plan(spark, sf_dir, queries):
    """q_minhash_calibration: candidates only via the banded
    equi-join (never a doc-grain cross product); signatures are the
    zero-shuffle projection; no EvalPython."""
    p = _plan(queries["q_minhash_calibration"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p
    assert "windowspecdefinition" not in p


def test_vacuum_plan_is_metadata_only(spark, sf_dir, queries):
    """q_vacuum_plan is a MANIFEST census: the returned plan must be
    a local/driver-side table — no parquet scan, no Exchange (the
    whole point of manifest-based maintenance planning is that no
    data file is opened)."""
    import re

    p = _plan(queries["q_vacuum_plan"](spark, sf_dir))
    assert not re.search(r"\(\d+\) Scan parquet", p), p[:800]
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_herfindahl_plan(spark, sf_dir, queries):
    """q_herfindahl: the supplier-grain sufficient-stats aggregate
    feeds two consumers (the 1-row census and the share fold), so the
    fact scans exactly twice — both map-side-combining, never a
    window (an unpartitioned window over suppliers would serialize a
    dimension that GROWS with scale onto one task)."""
    import re

    p = _plan(queries["q_herfindahl"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 2
    assert "windowspecdefinition" not in p
    assert "EvalPython" not in p
    assert p.count("HashAggregate") >= 4  # partial + final
