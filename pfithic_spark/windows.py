"""Window operators (SURVEY.md §2.5) + the scale-critical primitives:
equal-occupancy binning, BH-FDR, and a two-phase global cumulative sum.

The reference's binning is a pandas ``sort_values`` + ``cumsum``
[P pFitHiC vectorization of `fithic.py::calculateProbabilities`]; its
BH correction is a sorted walk [P `fithic.py::benjamini_hochberg_correction`].
A naive Spark translation — ``Window.orderBy(...)`` with no
``partitionBy`` — collapses to ONE task and dies at 100 TB.  The
two-phase form here (SURVEY.md §4.4) keeps every step distributed:

1. range-repartition by the order key (equal keys co-locate);
2. per-partition running aggregate (ordinary partitioned window);
3. per-partition totals (one row each) → prefix offsets via a window
   over the tiny totals table → broadcast join back.

All in DataFrame ops, so Catalyst/AQE still optimize around it.

CORRECTNESS NOTE: every two-phase helper
branches its lineage at the bucket-stamped DataFrame — one branch takes
the per-bucket window, the other the per-bucket totals — so the two
branches MUST agree on every row's bucket id.  The original form
stamped ``spark_partition_id()`` after ``repartitionByRange`` and was
only consistent because AQE exchange reuse happened to dedupe the two
identical ``rangepartitioning`` exchanges: with
``spark.sql.exchange.reuse=false`` each branch re-executes the
repartition with an independently SAMPLED RangePartitioner (the sampler
seeds from the new rdd.id), boundaries can differ, and the offset join
silently mis-ranks.  The fix makes ``_pid`` a PURE FUNCTION OF THE
ORDER VALUE: quantile boundaries of the leading order column are
collected ONCE driver-side (a one-pass approxQuantile, no shuffle) and
frozen as literals, so any re-execution of any branch derives identical
bucket ids by construction — no materialization, no optimizer
dependence, and exchange reuse remains a pure optimization (identical
deterministic subtrees still dedupe at runtime).  Equal leading-column
values always share a bucket (strict boundary compares), so global
ranks stay exact for any total order led by that column; a heavily tied
leading column degrades to fewer effective buckets — the same skew
behavior range partitioning had.  Leading order columns must be numeric
(enforced fail-fast; all callers pre-aggregate or derive them); NULLs
are routed to the bucket Spark's default null ordering would place them
in, so they rank exactly as under a plain ``Window.orderBy``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .session import persist_bounded, release_bounded


#: Phase-2 parallelism of every two-phase helper equals the bucket
#: count; 2048 covers any realistic shuffle-partition setting while the
#: log-depth bucket expression keeps per-row cost at ~11 comparisons.
_MAX_BUCKETS = 2048

#: Shared small-threshold for the value-grain prefix-sum keys
#: (q_roc_auc / q_cliffs_delta / q_weighted_quantile /
#: q_energy_distance / q_auc_by_group): at or below this many rows the
#: plain one-task window wins (the two-phase machinery costs extra
#: jobs that dwarf it); above, the _pid bucket form.  Callers read it
#: AT CALL TIME (``win.SMALL_THRESHOLD_DEFAULT``) so tests can
#: monkeypatch it to 0 and gate the two-phase plans those keys would
#: run at 100 TB.
SMALL_THRESHOLD_DEFAULT = 2_000_000


# Why :func:`_probe_small` persists its input: a helper that runs an
# EAGER action on its input at plan-construction time — the
# small_threshold count probe, or _bucketed_by_value's approxQuantile
# boundary pass — re-executes the caller's full upstream lineage once
# per action plus once (rank helpers: twice — the window input AND the
# per-bucket counts subtree sit on different exchanges) inside the
# returned plan, because separate query executions never share shuffle
# stages.  Persisting the input before the first eager action makes
# every later reference a cache read (measured min-of-5 at sf0.1:
# q_auc_by_group 1.98→1.38 s, q_conformal_interval 2.60→2.05 s,
# q_weighted_quantile 1.98→1.62 s, q_roc_auc 1.00→0.91 s,
# q_energy_distance 1.41→1.16 s, q_anomaly_zscore 2.37→2.09 s; the one
# small loss is a tiny-input caller, q_cliffs_delta 0.60→0.71 s).
# Applied ONLY on the count-probe sites: the same persist ahead of
# _bucketed_by_value's approxQuantile pass regressed the rank-based
# keys (see the note there).  The returned plan reads the cache lazily,
# so there is no safe unpersist point here; the bounded pool
# (:func:`session.persist_bounded`) owns it.


def _probe_small(
    df: DataFrame, threshold: int, n_in: int | None = None
) -> tuple[DataFrame, bool]:
    """The small-input probe of the scalable_* helpers: ``(df, n ≤
    threshold)``, counting ``df`` unless the caller knows its row count
    ``n_in``.

    The count is an eager action and the returned plan reads ``df``
    again, so ``df`` is persisted first (:func:`session.persist_bounded`)
    and its upstream lineage executes once; the returned frame is that
    cache.  An over-threshold frame is released at once: an input that
    fails the probe is arbitrarily large at 100 TB, and holding it in
    MEMORY_AND_DISK until keep-4 eviction is exactly the executor
    memory/disk-pressure hazard the llmops shingle-table note declines
    a persist over — the two-phase path's re-reads of the frame are
    column-pruned scans, the cheaper price at that size.  A
    caller-persisted frame is not in the pool and is left alone (their
    cache, their release point)."""
    if n_in is not None:
        return df, n_in <= threshold
    df = persist_bounded(df)
    n_in = df.count()
    if n_in > threshold:
        release_bounded(df)
    return df, n_in <= threshold


def _bsearch_bucket(col: Column, seq: list, descending: bool, lo: int, hi: int):
    """Balanced nested-when binary search over the frozen boundary
    literals ``seq[lo:hi]``: returns a literal bucket id equal to the
    count of boundaries the value strictly passes (ascending: value >
    boundary; descending: value < boundary — ``seq`` must be sorted in
    bucket order, i.e. reverse-sorted when descending).

    Invariant: boundaries before ``lo`` are passed, boundaries from
    ``hi`` on are not; ``seq`` is strictly monotone (deduped), so
    passing ``seq[mid]`` passes every earlier boundary too.  Depth is
    ``ceil(log2(len(seq)+1))`` — ~11 comparisons per row at 2048
    buckets versus the 2047 comparisons+adds of a flat when()-sum.
    Deliberately NOT an array+filter higher-order function: a HOF
    lambda capturing an outer column, consumed as a derived groupBy key
    under a window with AQE/exchange-reuse disabled, hits a Spark 4.1
    optimizer bug ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] — the outer
    reference is pruned out of the window's child).  Nested when() has
    no outer capture and survives every flag combination (reuse-off
    regression: test_scalable_rank_survives_disabled_exchange_reuse).
    """
    if lo >= hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    passed = (
        (col < F.lit(seq[mid])) if descending else (col > F.lit(seq[mid]))
    )
    return F.when(
        passed, _bsearch_bucket(col, seq, descending, mid + 1, hi)
    ).otherwise(_bsearch_bucket(col, seq, descending, lo, mid))


def _bucketed_by_value(
    df: DataFrame,
    bucket_col: str,
    num_partitions: int | None,
    descending: bool = False,
) -> DataFrame:
    """Stamp ``_pid`` as a pure function of ``bucket_col``: quantile
    boundaries are collected once driver-side and frozen as literals,
    so every lineage branch derives identical bucket ids no matter how
    many times it re-executes (see module docstring).  Rows equal to a
    boundary all land in the lower bucket — equal values never split
    across buckets, which is what keeps ranks exact under tiebreak
    chains led by ``bucket_col``.

    ``bucket_col`` must be NUMERIC (approxQuantile's contract) — a
    non-numeric column fails fast here with a targeted error instead of
    a py4j IllegalArgumentException mid-job.  NULL values (which
    approxQuantile ignores, so they never become boundaries) are routed
    to the bucket matching Spark's default window null placement —
    first bucket for ascending order (NULLS FIRST), last for descending
    (NULLS LAST) — so the per-bucket window's own null ordering yields
    the same global order a plain ``Window.orderBy`` would.
    """
    from pyspark.sql.types import NumericType

    dt = df.schema[bucket_col].dataType
    if not isinstance(dt, NumericType):
        raise ValueError(
            f"two-phase window helpers order by a numeric leading "
            f"column; {bucket_col!r} is {dt.simpleString()} — derive a "
            f"numeric sort key first (e.g. io.epoch_us for timestamps)"
        )
    n = int(
        num_partitions
        or df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    n = min(n, _MAX_BUCKETS)
    bounds: list = []
    if n > 1:
        probs = [i / n for i in range(1, n)]
        # NOT persisted here (measured): an unconditional
        # persist ahead of this boundary pass regressed the rank-based
        # keys (q_quantile_sketch 2.7 s → 4.8 s, q_pinball_loss 2.0 s
        # → 2.3 s min-of-5 at sf0.1) — their inputs are cheap
        # projections of already-materialized frames, so the cache
        # write costs more than the saved re-execution.  Callers with
        # genuinely expensive lineage persist before calling (the
        # q_hodges_lehmann discipline).
        # one pass, no shuffle; boundaries are a partitioning CHOICE —
        # any value produces correct ranks, so the sketch's epsilon
        # only affects balance
        qs = df.stat.approxQuantile(bucket_col, probs, 1.0 / (4 * n))
        # bucket order: ascending boundaries for ascending ranks,
        # reversed for descending (so "passes seq[mid] → passes every
        # earlier boundary" holds in both directions)
        bounds = sorted(set(qs), reverse=descending)
    pid = _bsearch_bucket(F.col(bucket_col), bounds, descending, 0, len(bounds))
    if bounds:
        null_bucket = 0 if not descending else len(bounds)
        pid = F.when(
            F.col(bucket_col).isNull(), F.lit(null_bucket)
        ).otherwise(pid)
    return df.withColumn("_pid", pid.cast("int"))


def scalable_rank(
    df: DataFrame,
    order_cols: list,
    bucket_col: str,
    num_partitions: int | None = None,
    rank_col: str = "_rk",
    tot_col: str | None = None,
    descending: bool = False,
) -> DataFrame:
    """Two-phase distributed global row_number over ``order_cols``
    (which must be made total by a tiebreak chain when exact per-row
    ranks matter; ties are fine when rank use is value-neutral, e.g.
    median selection over the value being ordered).  ``bucket_col``
    names the LEADING order column (numeric, non-null; pass
    ``descending=True`` when it leads descending).

    Value-deterministic bucketing (see module docstring) →
    per-bucket row_number + broadcast prefix-count offsets.
    Returns the input columns plus ``rank_col`` (1-based global rank),
    ``_pid`` (callers running further per-bucket phases need it —
    drop it otherwise), and optionally ``tot_col`` (the global row
    count, same on every row)."""
    parted = _bucketed_by_value(df, bucket_col, num_partitions, descending)
    w_local = W.partitionBy("_pid").orderBy(*order_cols)
    d = parted.withColumn("_lrk", F.row_number().over(w_local))
    counts = parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    w_pre = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    sel = [
        F.col("_pid"),
        F.coalesce(F.sum("_cnt").over(w_pre), F.lit(0)).alias("_off"),
    ]
    if tot_col is not None:
        sel.append(
            F.sum("_cnt")
            .over(
                W.orderBy("_pid").rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            )
            .alias(tot_col)
        )
    offs = counts.select(*sel)
    return (
        d.join(F.broadcast(offs), "_pid")
        .withColumn(rank_col, (F.col("_lrk") + F.col("_off")).cast("long"))
        .drop("_lrk", "_off")
    )


def scalable_cumsum(
    df: DataFrame,
    order_col: str,
    sums: dict[str, str],
    tots: dict[str, str] | None = None,
    part_cols: Sequence[str] = (),
    descending: bool = False,
    tiebreak: Sequence[str] = (),
    num_partitions: int | None = None,
    small_threshold: int | None = None,
    precomputed_count: int | None = None,
) -> DataFrame:
    """Globally ordered running sums without a single-task global window.

    ``sums``: ``{out_col: value_col}`` inclusive running sums
    (UNBOUNDED PRECEDING..CURRENT ROW) over ``order_col`` — descending
    when ``descending`` — then the ascending ``tiebreak`` columns.
    ``tots``: ``{out_col: value_col}`` whole-frame sums attached to
    every row.  With ``part_cols`` every sum and total restarts per
    part, as under ``W.partitionBy(*part_cols)``, but parallelism is
    #parts × #buckets instead of #parts.  All columns share ONE
    bucketing pass and one probe.

    The order must be total within a part: ``order_col`` unique per
    row (pre-aggregate first, which also bounds cardinality: distances
    ≤ chromosome_length/resolution), or made total by ``tiebreak``.

    Value-deterministic buckets on ``order_col`` (module docstring) →
    per-(part, bucket) running sums → per-(part, bucket) totals, whose
    prefix offsets and part totals come from a window over that small
    table → broadcast join back.

    ``small_threshold``: when set, the input is counted
    (:func:`_probe_small`; skipped when the caller passes
    ``precomputed_count``) and at or below the threshold the plain
    window is used — for bounded-cardinality inputs the two-phase
    machinery costs several extra jobs that dwarf a one-task window.
    Pass None (default) to force the two-phase form.
    """
    tots = tots or {}
    lead = F.col(order_col).desc() if descending else F.col(order_col)
    order = [lead, *tiebreak]
    if small_threshold:
        df, small = _probe_small(df, small_threshold, precomputed_count)
        if small:
            w = W.partitionBy(*part_cols).orderBy(*order)
            run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
            whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            for out, vc in sums.items():
                df = df.withColumn(out, F.sum(vc).over(run))
            for out, vc in tots.items():
                df = df.withColumn(out, F.sum(vc).over(whole))
            return df
    parted = _bucketed_by_value(df, order_col, num_partitions, descending)
    keys = [*part_cols, "_pid"]
    w_local = (
        W.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = parted
    for out, vc in sums.items():
        local = local.withColumn("_lc_" + out, F.sum(vc).over(w_local))
    # one row per (part, bucket) → offsets/totals are trivially small
    value_cols = sorted(set(sums.values()) | set(tots.values()))
    totals = parted.groupBy(*keys).agg(
        *[F.sum(vc).alias("_pt_" + vc) for vc in value_cols]
    )
    w_pids = W.partitionBy(*part_cols).orderBy("_pid")
    before = w_pids.rowsBetween(W.unboundedPreceding, -1)
    whole = w_pids.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    offsets = totals.select(
        *keys,
        *[
            F.coalesce(F.sum("_pt_" + vc).over(before), F.lit(0)).alias(
                "_off_" + out
            )
            for out, vc in sums.items()
        ],
        *[F.sum("_pt_" + vc).over(whole).alias(out) for out, vc in tots.items()],
    )
    # the join moves its keys first: select restores the plain window's
    # column order (input columns, then sums, then totals)
    return local.join(F.broadcast(offsets), keys).select(
        *df.columns,
        *[(F.col("_lc_" + out) + F.col("_off_" + out)).alias(out) for out in sums],
        *tots,
    )


def per_distance_totals(contacts_with_dist: DataFrame) -> DataFrame:
    """Pre-compress contacts to one row per distance: (d, cc, np).

    The cardinality-bounding step before any global-order op
    [P pFitHiC groupby pre-compression]."""
    return contacts_with_dist.groupBy(F.col("dist").alias("d")).agg(
        F.sum("contact_count").alias("cc"), F.count(F.lit(1)).alias("np")
    )


def equal_occupancy_assign(
    byd: DataFrame,
    nbins: int,
    total: int | None = None,
    small_threshold: int | None = 200_000,
) -> DataFrame:
    """Assign each distance to an equal-occupancy bin [SC-1].

    ``bin_id = min(floor((cumsum - cc) / target), nbins-1)`` with
    ``target = Σcc / nbins``; rows at the same distance share a bin by
    construction (input is per-distance).  The one driver-side scalar
    (``total``) is the sanctioned sync point — a single agg row.

    Ref: fithic.py::calculateProbabilities walk loop; pFitHiC cumsum.
    """
    n_dists = None
    if small_threshold:
        # reused by the agg, the cumsum and the stats
        byd = persist_bounded(byd)
        if total is None:
            # one job for both scalars the decision needs
            n_dists, total = byd.agg(
                F.count(F.lit(1)), F.sum("cc")
            ).collect()[0]
    if total is None:
        total = byd.agg(F.sum("cc")).collect()[0][0]
    if total is None:
        # sum over zero ROWS is SQL null → empty input; any finite
        # target works (there is nothing to assign)
        total = 0
    target = total / nbins  # exact-int inputs → identical double everywhere
    if target == 0.0:
        # rows present but Σcc == 0 (or empty input): every row belongs
        # in bin 0 rather than dividing by zero — explicit, instead of
        # conflating "no rows" with "zero counts" via falsiness
        target = 1.0
    cum = scalable_cumsum(
        byd,
        "d",
        {"cumcc": "cc"},
        small_threshold=small_threshold,
        precomputed_count=n_dists,
    )
    return cum.withColumn(
        "bin_id",
        F.least(
            F.floor((F.col("cumcc") - F.col("cc")) / F.lit(target)),
            F.lit(nbins - 1),
        ).cast("long"),
    )


def bin_stats(assigned: DataFrame) -> DataFrame:
    """Per-bin null-model support stats (ref: calculateProbabilities
    output: avgDist, Σcc, n pairs).  All inputs exact integers, so the
    weighted average is deterministic."""
    return assigned.groupBy("bin_id").agg(
        F.min("d").alias("min_dist"),
        F.max("d").alias("max_dist"),
        F.sum("cc").alias("sum_cc"),
        F.sum("np").alias("n_pairs"),
        # exact integer sums → one IEEE division: bit-identical on any
        # engine without rounding (rounding a >2^33 magnitude at 9 dp
        # actually *creates* cross-engine mismatches)
        (F.sum(F.col("d") * F.col("cc")).cast("double") / F.sum("cc")).alias(
            "avg_dist"
        ),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str = "p_value",
    m: int | None = None,
    tiebreak: list[str] | None = None,
    q_col: str = "q_value",
) -> DataFrame:
    """Benjamini–Hochberg q-values [P `fithic.py::benjamini_hochberg_correction`].

    ``q_i = min_{j>=i} min(1, p_j * M / j)`` with M =
    possibleIntraInRangeCount (possible, NOT observed pairs — SC-3);
    pass ``m`` explicitly for that semantics, default falls back to the
    observed row count.

    ONE descending window over (p, tiebreak) gives both terms, so the
    plan sorts once: the ascending rank is ``n + 1 − row_number``,
    where n is ``count(*)`` over the whole frame of the same window
    spec, and the suffix-min is a running min over that order.  Do NOT
    rewrite the suffix-min as a min over [currentRow,
    unboundedFollowing] on the ascending order: Spark executes
    shrinking frames with UnboundedFollowingWindowFunctionFrame, which
    recomputes the aggregate from scratch per row — O(n^2) per
    partition (measured ~30x slower at 25k rows/partition).  Tied
    (p, tiebreak) rows share one q-value under either order.

    Global-order note: the window is unpartitioned — fine for the
    ≤10⁶-row significance tables this runs on after pre-aggregation; for
    larger inputs use :func:`bh_fdr_scalable` (§4.4).
    """
    tiebreak = tiebreak or []
    if m is None:
        m = df.count()
    w = W.orderBy(F.col(p_col).desc(), *[F.col(c).desc() for c in tiebreak])
    n = F.count(F.lit(1)).over(
        w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    rk = n + 1 - F.row_number().over(w)
    q_raw = F.least(F.lit(1.0), F.col(p_col) * F.lit(float(m)) / rk)
    return (
        df.withColumn("_q_raw", q_raw)
        .withColumn(
            q_col,
            F.min("_q_raw").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .drop("_q_raw")
    )


def topk_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    rn_col: str = "rn",
) -> DataFrame:
    """Top-k per partition via row_number — Catalyst rewrites the
    rn<=k filter into a per-partition top-k (WindowGroupLimit), so no
    partition is fully sorted at scale."""
    w = W.partitionBy(*partition_cols).orderBy(*order_cols)
    return (
        df.withColumn(rn_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rn_col) <= k)
    )


def bh_fdr_scalable(
    df: DataFrame,
    p_col: str = "p_value",
    m: int | None = None,
    tiebreak: list[str] | None = None,
    q_col: str = "q_value",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed BH-FDR: identical semantics to :func:`bh_fdr` with no
    single-task global window.

    Two-phase global rank (:func:`scalable_rank` — value-deterministic
    p-value buckets → per-bucket row_number + broadcast prefix-count
    offsets) and two-phase suffix-min for the monotonicity step
    (per-bucket suffix-min + broadcast min-of-later-buckets).  The
    tiebreak chain must make the ordering total.
    """
    tiebreak = tiebreak or []
    if m is None:
        m = df.count()
    n = int(
        num_partitions
        or df.sparkSession.sparkContext.defaultParallelism
        or 32
    )
    order_cols = [F.col(p_col)] + [F.col(c) for c in tiebreak]
    d = scalable_rank(
        df, order_cols, p_col, num_partitions=n, rank_col="_rk"
    )
    d = d.withColumn(
        "_q_raw",
        F.least(F.lit(1.0), F.col(p_col) * F.lit(float(m)) / F.col("_rk")),
    )
    # suffix-min over global rank: local suffix + min of later partitions.
    # Keep the descending-order running-min form — an ascending-order
    # frame [currentRow, unboundedFollowing] looks like it would share
    # the rank window's sort, but Spark's shrinking-frame executor is
    # O(n^2) per partition (recomputes the min per row).
    w_desc = (
        W.partitionBy("_pid")
        .orderBy(F.col("_rk").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    d = d.withColumn("_sfx", F.min("_q_raw").over(w_desc))
    pid_mins = d.groupBy("_pid").agg(F.min("_q_raw").alias("_pmin"))
    w_tail = W.orderBy(F.col("_pid").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    tails = pid_mins.select(
        "_pid",
        F.coalesce(F.min("_pmin").over(w_tail), F.lit(1.0)).alias("_tailmin"),
    )
    d = d.join(F.broadcast(tails), "_pid").withColumn(
        q_col, F.least(F.col("_sfx"), F.col("_tailmin"))
    )
    return d.drop("_pid", "_rk", "_q_raw", "_sfx", "_tailmin")


def scalable_cummax_exclusive(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    descending: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running max over all STRICTLY-PRECEDING rows in a global order,
    without a single-task global window — same two-phase shape as
    :func:`scalable_cumsum` (value-deterministic buckets →
    per-bucket window → broadcast prefix offsets), max instead of
    sum, exclusive frame.  ``order_col`` values must be unique per row
    (pre-aggregate first).  Rows with no predecessor get NULL."""
    ord_expr = F.col(order_col).desc() if descending else F.col(order_col).asc()
    parted = _bucketed_by_value(
        df, order_col, num_partitions, descending=descending
    )
    w_local = (
        W.partitionBy("_pid")
        .orderBy(ord_expr)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = parted.withColumn("_local_max", F.max(value_col).over(w_local))
    totals = parted.groupBy("_pid").agg(F.max(value_col).alias("_ptot"))
    w_prefix = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = totals.select(
        "_pid", F.max("_ptot").over(w_prefix).alias("_off")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.greatest("_local_max", "_off"))
        .drop("_pid", "_local_max", "_off")
    )


def scalable_trailing_aggs(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    aggs: dict[str, Column],
    lookback: int,
    include_current: bool = False,
    chunk: int | None = None,
    num_partitions: int | None = None,
    small_threshold: int | None = None,
) -> DataFrame:
    """Trailing bounded-frame window aggregates — frame
    ``ROWS BETWEEN lookback PRECEDING AND (1 PRECEDING | CURRENT ROW)``
    over ``order_cols`` within ``part_cols`` — WITHOUT one task per
    partition value (the q_anomaly_zscore spine).

    ``W.partitionBy(event_type)`` parallelism equals the number of
    distinct partition values: with a handful of event types, 100 TB of
    events serialize onto a handful of window tasks.  A bounded ROWS
    frame only ever needs the ``lookback`` preceding rows, so the
    window can be chunked with replicated context:

    1. value-deterministic buckets on the leading order column
       (:func:`_bucketed_by_value` — frozen quantile literals, so every
       lineage branch agrees);
    2. per-(part, bucket) row_number + per-part prefix-count offsets
       (the two-phase rank shape) → exact per-part rank ``r``;
    3. re-chunk by rank: ``_rb = (r-1) // C`` with
       ``C = max(lookback, chunk)`` — every chunk except a part's last
       holds exactly C >= lookback rows, so a row's whole frame lives
       in its own chunk plus the previous chunk's tail;
    4. rows in a chunk's last ``lookback`` positions are REPLICATED
       into the next chunk as context (flagged, excluded from output);
    5. one ordinary window per (part, _rb) computes the aggregates;
       context rows participate in frames but are dropped after.

    Row replication overhead is ``lookback / C`` (< 0.2% at the 65536
    default) and phase-2 parallelism is ``n_part_rows / C`` per
    partition value instead of 1.  ``aggs`` maps output column names to
    aggregate Columns (e.g. ``F.sum(expr)``) — anything legal over a
    running ROWS frame.  ``order_cols`` must totally order rows within
    a part (add a tiebreak column); the leading order column must be
    numeric (:func:`_bucketed_by_value`'s contract).

    ``small_threshold``: when set, the input is counted
    (:func:`_probe_small`) and at or below the threshold the plain
    partitioned window is used — the bounded-grain fast path of
    :func:`scalable_cumsum`, because the two-phase machinery costs
    several extra jobs that dwarf small inputs.  Pass None to force
    the scalable form.
    """
    lo = -int(lookback)
    hi = 0 if include_current else -1
    if small_threshold:
        df, small = _probe_small(df, small_threshold)
        if small:
            w = (
                W.partitionBy(*part_cols)
                .orderBy(*order_cols)
                .rowsBetween(lo, hi)
            )
            return df.select(
                "*", *[c.over(w).alias(name) for name, c in aggs.items()]
            )
    C = int(max(lookback, chunk or 65536))
    d = scalable_part_rank(
        df, part_cols, order_cols, rank_col="_r", num_partitions=num_partitions
    )
    rb = F.floor((F.col("_r") - 1) / C).cast("long")
    ro = (F.col("_r") - 1) % C
    # 1-or-2-copy explode instead of a self-union: context replication
    # in the SAME pass (no second execution of the rank phase, no
    # lineage branch to keep consistent)
    copies = F.concat(
        F.array(F.struct(rb.alias("rb"), F.lit(0).alias("ctx"))),
        F.when(
            ro >= C - lookback,
            F.array(F.struct((rb + 1).alias("rb"), F.lit(1).alias("ctx"))),
        ).otherwise(
            F.array().cast("array<struct<rb:bigint,ctx:int>>")
        ),
    )
    both = (
        d.select("*", F.explode(copies).alias("_e"))
        .withColumn("_rb", F.col("_e.rb"))
        .withColumn("_ctx", F.col("_e.ctx"))
        .drop("_e")
    )
    w2 = (
        W.partitionBy(*part_cols, "_rb")
        .orderBy("_r")
        .rowsBetween(lo, hi)
    )
    out = both.select(
        "*", *[c.over(w2).alias(name) for name, c in aggs.items()]
    )
    return out.filter(F.col("_ctx") == 0).drop("_r", "_rb", "_ctx")


def scalable_part_rank(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[str],
    rank_col: str = "_r",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact per-partition row_number over ``order_cols`` within
    ``part_cols`` WITHOUT one task per partition value — the per-part
    generalization of :func:`scalable_rank` (factored out of
    :func:`scalable_trailing_aggs` phase 1–2).

    ``W.partitionBy(part).orderBy(...)`` row_number serializes each
    partition value onto one task; with few values (shards, event
    types) that is a handful of tasks at any data volume.  Here:
    value-deterministic buckets on the LEADING order column
    (:func:`_bucketed_by_value` — numeric, frozen quantile literals so
    every lineage branch agrees) → per-(part, bucket) row_number →
    broadcast per-part prefix-count offsets.  Parallelism is
    #parts × #buckets.  ``order_cols`` must totally order rows within
    a part when exact per-row ranks matter (add a tiebreak chain).

    Returns the input columns plus ``rank_col`` (1-based within each
    part).  Internals (``_pid``, ``_lr``, ``_off``) are dropped."""
    parted = _bucketed_by_value(df, order_cols[0], num_partitions)
    w_local = W.partitionBy(*part_cols, "_pid").orderBy(*order_cols)
    d = parted.withColumn("_lr", F.row_number().over(w_local))
    counts = parted.groupBy(*part_cols, "_pid").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_pre = (
        W.partitionBy(*part_cols)
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = counts.select(
        *part_cols,
        "_pid",
        F.coalesce(F.sum("_cnt").over(w_pre), F.lit(0)).alias("_off"),
    )
    return (
        d.join(offs, [*part_cols, "_pid"])
        .withColumn(rank_col, (F.col("_lr") + F.col("_off")).cast("long"))
        .drop("_pid", "_lr", "_off")
    )


def rolling_distinct_approx(
    df,
    day_col: str,
    key_col: str,
    window_days: int = 7,
    out_col: str = "approx_distinct",
):
    """Rolling N-day APPROXIMATE distinct count via mergeable HLL
    sketches — the 100 TB form of q_wau's exact pipeline.

    COUNT(DISTINCT) doesn't decompose over window frames, and the
    exact sequence-explode form replicates every (day, key) row N×.
    Sketches restore decomposability: ONE pass builds a fixed-size
    (~KB) Datasketches HLL per day (``hll_sketch_agg`` — map-side
    combined), then the rolling union merges N sketches per day over
    the BOUNDED day-grain table (``hll_union_agg`` window) and
    estimates.  Per-day cost at scale: one sketch shuffle of kilobytes
    instead of N× the key traffic; ±~2% standard error at the default
    lgConfigK=12.

    Deliberately NOT a registry key: sketch estimates are
    implementation-defined, so no DuckDB oracle can hash-match them —
    the pytest gate bounds the error against the exact rolling count
    instead (tests/test_streaming.py)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    daily = df.groupBy(day_col).agg(
        F.hll_sketch_agg(key_col).alias("_sk")
    )
    w = W.orderBy(day_col).rowsBetween(-(window_days - 1), 0)
    return daily.select(
        day_col,
        F.hll_sketch_estimate(F.hll_union_agg("_sk").over(w))
        .cast("bigint")
        .alias(out_col),
    )
