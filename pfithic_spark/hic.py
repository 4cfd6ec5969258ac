"""The composed Fit-Hi-C significance pipeline, Spark-first
(SURVEY.md §3.2; reference lifecycle §3.1 [P `fithic.py::main` →
`generate_FragPairs` → `read_All_Interactions` → `calculateProbabilities`
→ `fit_Spline`]).

Dataflow per pass:

    contacts ──canonicalize──▶ intra/in-range filter
        ├─ agg: global scalars (N = observedIntraInRangeSum, …)
        ├─ per-distance compression → equal-occupancy bins → bin stats
        │     └─ collect ≤noOfBins rows → smooth+PAVA fit (driver)
        │         └─ broadcast dense monotone curve
        ├─ biases left-join ×2 (broadcast)
        ├─ prior = curve(d)·bias1·bias2  [SC-2 validity window]
        ├─ p = P(X ≥ cc | N, prior)  (Arrow pandas_udf, numpy betainc)
        └─ BH-FDR with M = possibleIntraInRangeCount  [SC-3]

Pass n>1 anti-joins out pass-(n−1) significant outliers (q < threshold)
before refitting the null [SC-7], then re-scores ALL contacts against
the refined curve.

Scale notes: the only driver materialization is the ≤noOfBins bin table
(SURVEY.md §1.2 sanctioned sync point); the curve returns to executors
as a broadcast variable consumed by an Arrow-batched pandas_udf; every
global-order step routes through windows.scalable_cumsum.
"""

from __future__ import annotations

from dataclasses import dataclass

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import stats as st
from . import windows as win
from .relational import (
    attach_biases,
    canonicalize_pairs,
    filter_contact_type,
    filter_distance_range,
    with_distance,
)

#: bias validity window [SC-2]
BIAS_LO, BIAS_HI = 0.5, 2.0


@dataclass
class SigConfig:
    resolution: int = 5000
    dist_lo: int = 0
    dist_hi: int = 2**62
    n_bins: int = 100
    passes: int = 1
    outlier_q: float = 0.05  # pass-2 removal threshold [SC-7]
    grid_points: int = 1000
    #: intraOnly | interOnly | All — inter contacts scored with the flat
    #: interChrProb null and N = observedInterAllSum [SC-5]
    contact_type: str = "intraOnly"


def possible_pairs_per_lag(chr_nbins: DataFrame, resolution: int) -> DataFrame:
    """Possible intra pairs per distance: for a chromosome with n grid
    bins, lag k has n−k pairs; summed over chromosomes
    [P `fithic.py::generate_FragPairs`].

    Input: (chr, nbins).  Output: (dist, n_possible).  The per-chr
    explode yields ≤ n rows per chromosome — bounded, shuffle-free until
    the final small groupBy.
    """
    # nbins=1 would make sequence(1, 0) DESCEND in Spark (yielding a
    # bogus lag 0) — a single-bin chromosome has no intra pairs at all
    lags = chr_nbins.filter(F.col("nbins") >= 2).select(
        F.col("nbins"),
        F.explode(F.sequence(F.lit(1), F.col("nbins") - 1)).alias("k"),
    )
    return (
        lags.select(
            (F.col("k").cast("long") * resolution).alias("dist"),
            (F.col("nbins") - F.col("k")).cast("long").alias("n_pairs_at_lag"),
        )
        .groupBy("dist")
        .agg(F.sum("n_pairs_at_lag").alias("n_possible"))
    )


#: dist_hi above this is treated as "unbounded" by the banded census
#: (bucket width would overflow / degenerate to one bucket anyway)
_UNBOUNDED_DIST = 1 << 40


def possible_pairs_from_fragments(
    fragments: DataFrame, dist_lo: int, dist_hi: int
) -> DataFrame:
    """Per-distance possible intra-pair census over the ACTUAL fragment
    set — the fragment-mode (res=0) and filtered-genome form of
    :func:`possible_pairs_per_lag` [P `fithic.py::generate_FragPairs`
    builds possibleIntraInRangeCount from the listed fragments with
    badFrags excluded, NOT from a fully-occupied grid].

    Input: (chr, mid) — surviving fragment midpoints, variable (res=0)
    or grid positions.  Output: (dist, n_possible) for distances in
    [dist_lo, dist_hi].

    Shape: a BANDED self-join — each left fragment joins only the two
    dist_hi-wide buckets that can contain an in-range partner, so the
    pair space is bounded by fragment density × window, never a full
    per-chromosome cross product.  When dist_hi is effectively
    unbounded the band degenerates to one bucket per chromosome, which
    IS the reference's O(n²)-per-chromosome census.
    """
    f = fragments.select("chr", F.col("mid").cast("long").alias("mid"))
    if dist_hi >= _UNBOUNDED_DIST:
        bucket1 = F.lit(0).cast("long")
        buckets = F.array(F.lit(0).cast("long"))
    else:
        w = max(int(dist_hi), 1)
        bucket1 = F.floor(F.col("mid") / w).cast("long")
        buckets = F.array(bucket1, bucket1 + 1)
    left = f.select(
        "chr",
        F.col("mid").alias("mid1"),
        F.explode(buckets).alias("_bkt"),
    )
    right = f.select(
        "chr", F.col("mid").alias("mid2"), bucket1.alias("_bkt")
    )
    d = F.col("mid2") - F.col("mid1")
    return (
        left.join(right, ["chr", "_bkt"])
        .filter((d >= F.lit(max(dist_lo, 1))) & (d <= F.lit(dist_hi)))
        .groupBy(d.alias("dist"))
        .agg(F.count(F.lit(1)).alias("n_possible"))
    )


def possible_pairs_grid_census(
    fragments: DataFrame, resolution: int, dist_lo: int, dist_hi: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Exact possible-pair census over an OCCUPIED-GRID fragment set via
    per-chromosome occupancy autocorrelation — the fixed-resolution
    twin of :func:`possible_pairs_from_fragments` with no pair join at
    all.

    The collect is the per-chromosome occupied-bin list — bounded by
    genome_length / resolution (the §1.2 sanctioned sync-point bound),
    NOT by fragment pairs.  Per-lag counts come from the FFT
    autocorrelation of each chromosome's 0/1 occupancy vector
    (Σ_i o[i]·o[i+k] = #pairs at lag k), exact after integer rounding
    since counts ≤ nbins ≪ 2⁵².  Returns (dists, n_possible,
    m_in_range) like :func:`possible_pairs_np`.
    """
    rows = (
        fragments.select(
            "chr", F.floor(F.col("mid") / resolution).cast("long").alias("bin")
        )
        .distinct()
        .groupBy("chr")
        .agg(F.collect_list("bin").alias("bins"))
        .collect()
    )
    counts: dict[int, int] = {}
    for r in rows:
        bins = np.asarray(sorted(r["bins"]), dtype=np.int64)
        if bins.size < 2:
            continue
        span = int(bins[-1] - bins[0]) + 1
        occ = np.zeros(span, dtype=np.float64)
        occ[bins - bins[0]] = 1.0
        f = np.fft.rfft(occ, 2 * span)
        ac = np.rint(np.fft.irfft(f * np.conj(f), 2 * span)[:span]).astype(
            np.int64
        )
        for k in np.nonzero(ac[1:])[0] + 1:
            counts[int(k)] = counts.get(int(k), 0) + int(ac[k])
    if not counts:
        return np.empty(0, np.int64), np.empty(0, np.int64), 0
    ks = np.array(sorted(counts), dtype=np.int64)
    dists = ks * int(resolution)
    n_possible = np.array([counts[int(k)] for k in ks], dtype=np.int64)
    in_range = (dists >= dist_lo) & (dists <= dist_hi)
    return dists, n_possible, int(n_possible[in_range].sum())


def possible_pairs_np(
    nbins: np.ndarray, resolution: int, dist_lo: int, dist_hi: int
) -> tuple[np.ndarray, np.ndarray, int]:
    """Driver-side closed form of :func:`possible_pairs_per_lag` plus the
    in-range total M [SC-3].

    ``chr_nbins`` is a per-chromosome dimension (≤ a few dozen rows), so
    the lag table — max(nbins) − 1 rows, data-size independent — never
    needs a Spark job.  Returns (dists, n_possible, m_in_range).
    """
    nb = np.asarray(nbins, dtype=np.int64)
    kmax = int(nb.max()) - 1 if nb.size else 0
    if kmax <= 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), 0
    k = np.arange(1, kmax + 1, dtype=np.int64)
    # Σ_chr max(n_chr − k, 0) per lag k, vectorized over chromosomes
    n_possible = np.maximum(nb[:, None] - k[None, :], 0).sum(axis=0)
    dists = k * int(resolution)
    in_range = (dists >= dist_lo) & (dists <= dist_hi)
    return dists, n_possible, int(n_possible[in_range].sum())


def bias_product(b1, b2):
    """Joint bias factor with the SC-2 validity window: any endpoint
    outside [0.5, 2] → neutral product 1.0 (reference sentinel −1)."""
    invalid = (
        (b1 < BIAS_LO) | (b1 > BIAS_HI) | (b2 < BIAS_LO) | (b2 > BIAS_HI)
    )
    return F.when(invalid, F.lit(1.0)).otherwise(b1 * b2)


def contact_prior(df: DataFrame, null_prob, b1=None, b2=None):
    """p_prior column: null(d) · bias_product, clamped to (0, 1]."""
    if b1 is None:
        return F.least(F.greatest(null_prob, F.lit(0.0)), F.lit(1.0))
    prior = null_prob * bias_product(b1, b2)
    return F.least(F.greatest(prior, F.lit(0.0)), F.lit(1.0))


def _curve_eval_udf(spark: SparkSession, gx: np.ndarray, gy: np.ndarray):
    """Broadcast the fitted curve; return an Arrow pandas_udf evaluating
    it by clamped linear interpolation."""
    bc = spark.sparkContext.broadcast((gx, gy))

    @F.pandas_udf("double")
    def eval_curve(d: pd.Series) -> pd.Series:
        xs, ys = bc.value
        return pd.Series(st.interp_clamped(d.to_numpy(dtype=np.float64), xs, ys))

    return eval_curve


def _binom_sf_udf(n_total: int):
    @F.pandas_udf("double")
    def sf(cc: pd.Series, prior: pd.Series) -> pd.Series:
        return pd.Series(
            st.binom_sf_ge(
                cc.to_numpy(dtype=np.float64),
                float(n_total),
                prior.to_numpy(dtype=np.float64),
            )
        )

    return sf


def _fused_score_udf(spark: SparkSession, gx, gy, n_total: int):
    """Single-trip scoring UDF: curve interpolation + bias validity
    window [SC-2] + clamp + binomial survival in ONE Arrow round trip
    (chaining separate pandas_udfs costs a JVM↔Python hop each)."""
    bc = spark.sparkContext.broadcast((gx, gy))
    n = float(n_total)

    @F.pandas_udf("double")
    def score(
        cc: pd.Series, dist: pd.Series, b1: pd.Series, b2: pd.Series
    ) -> pd.Series:
        xs, ys = bc.value
        null = np.interp(dist.to_numpy(dtype=np.float64), xs, ys)
        b1v = b1.to_numpy(dtype=np.float64)
        b2v = b2.to_numpy(dtype=np.float64)
        invalid = (
            (b1v < BIAS_LO) | (b1v > BIAS_HI) | (b2v < BIAS_LO) | (b2v > BIAS_HI)
        )
        prior = np.clip(null * np.where(invalid, 1.0, b1v * b2v), 0.0, 1.0)
        return pd.Series(
            st.binom_sf_ge(cc.to_numpy(dtype=np.float64), n, prior)
        )

    return score


def fit_null_curve(
    spark: SparkSession,
    in_range: DataFrame,
    n_total: int | None,
    possible_by_dist,
    cfg: SigConfig,
):
    """Equal-occupancy binning → per-bin contact probability → monotone
    curve (SC-1 probability: (Σcc_bin / possible_bin) / N).

    The cluster's only job here is the per-distance pre-compression
    ``groupBy(dist)`` — its output cardinality is bounded by
    genome_length/resolution (data-size INDEPENDENT: ~10⁵–10⁶ rows at
    1 kb on a human genome), so the binning + bin stats run driver-side
    in numpy on the collected table.  This is the §1.2 sanctioned sync
    point at its natural bound; the distributed SC-1 form lives in
    :mod:`pfithic_spark.windows` for unbounded inputs and is
    oracle-gated by the q_equal_occupancy_binning key.

    ``possible_by_dist``: (dists, n_possible) numpy arrays from
    :func:`possible_pairs_np`, or a (dist, n_possible) DataFrame.
    ``n_total``: binomial N (observedIntraInRangeSum); pass None on the
    first pass to derive it from this same collect — Σcc over the
    per-distance table IS the in-range sum, so no separate agg job.
    Returns (pandas bin-stats table, (grid_x, grid_y), (Σcc, Σpairs))."""
    byd = win.per_distance_totals(in_range).toPandas()
    byd = byd.sort_values("d", ignore_index=True)
    d = byd["d"].to_numpy(dtype=np.int64)
    cc = byd["cc"].to_numpy(dtype=np.int64)
    npairs = byd["np"].to_numpy(dtype=np.int64)
    if isinstance(possible_by_dist, DataFrame):
        pp = possible_by_dist.toPandas()
        p_dists = pp["dist"].to_numpy(dtype=np.int64)
        p_counts = pp["n_possible"].to_numpy(dtype=np.int64)
    else:
        p_dists, p_counts = possible_by_dist
        p_dists = np.asarray(p_dists, dtype=np.int64)
        p_counts = np.asarray(p_counts, dtype=np.int64)
    # possible pairs at each observed distance; fall back to the observed
    # pair count where the lag table has no entry (matches the old
    # left-join + coalesce(np))
    order = np.argsort(p_dists, kind="stable")
    pos = np.searchsorted(p_dists[order], d)
    pos_c = np.clip(pos, 0, len(p_dists) - 1) if len(p_dists) else pos
    hit = (
        (pos < len(p_dists)) & (p_dists[order][pos_c] == d)
        if len(p_dists)
        else np.zeros(len(d), dtype=bool)
    )
    n_possible = np.where(hit, p_counts[order][pos_c] if len(p_dists) else 0, npairs)
    # SC-1 equal-occupancy assignment — same IEEE expressions as
    # windows.equal_occupancy_assign (exact-int inputs → identical
    # doubles): bin = min(floor((cum-cc)/target), nbins-1)
    total = int(cc.sum())
    if n_total is None:
        n_total = total
    target = total / cfg.n_bins
    cum = np.cumsum(cc)
    bin_id = np.minimum(
        np.floor((cum - cc) / target).astype(np.int64), cfg.n_bins - 1
    )
    # exact int64 accumulation (float bincount weights would lose bits
    # past 2^53 where Spark's long sums stayed exact), then only the
    # bins that actually occur (groupBy emitted no empty-bin rows)
    nb = int(bin_id.max()) + 1 if len(bin_id) else 0
    sum_cc = np.zeros(nb, dtype=np.int64)
    n_pairs = np.zeros(nb, dtype=np.int64)
    n_poss = np.zeros(nb, dtype=np.int64)
    sum_dcc = np.zeros(nb, dtype=np.int64)
    np.add.at(sum_cc, bin_id, cc)
    np.add.at(n_pairs, bin_id, npairs)
    np.add.at(n_poss, bin_id, n_possible)
    np.add.at(sum_dcc, bin_id, d * cc)
    present = n_pairs > 0
    pdf = pd.DataFrame(
        {
            "bin_id": np.arange(nb, dtype=np.int64)[present],
            "sum_cc": sum_cc[present],
            "n_pairs": n_pairs[present],
            "n_possible": n_poss[present],
            "avg_dist": sum_dcc[present].astype(np.float64)
            / sum_cc[present].astype(np.float64),
        }
    )
    if len(pdf) == 0:
        # empty fit input (e.g. a chromosome filter matched nothing):
        # degenerate zero curve — scoring over the same empty table
        # yields no rows, so the pipeline completes with empty output
        # instead of crashing a 100 TB run on one empty slice
        pdf["prob"] = pd.Series(dtype=float)
        return pdf, (np.array([0.0, 1.0]), np.array([0.0, 0.0])), (0, 0)
    prob = (pdf["sum_cc"] / pdf["n_possible"].clip(lower=1)) / float(n_total)
    gx, gy = st.fit_monotone_curve(
        pdf["avg_dist"].to_numpy(),
        prob.to_numpy(),
        w=pdf["n_pairs"].to_numpy(dtype=np.float64),
        grid_points=cfg.grid_points,
    )
    pdf["prob"] = prob
    return pdf, (gx, gy), (total, int(npairs.sum()))


def fit_null_curve_distributed(
    spark: SparkSession,
    in_range: DataFrame,
    n_total: int | None,
    possible_df: DataFrame | None,
    cfg: SigConfig,
):
    """Distributed-binning variant of :func:`fit_null_curve` for
    UNBOUNDED per-distance cardinality (res=0 irregular midpoints,
    where distinct pair distances grow with the data instead of being
    capped by genome/resolution).

    Identical arithmetic — same IEEE expressions for the equal-occupancy
    assignment, exact integer bin sums — but the binning runs through
    windows.equal_occupancy_assign (two-phase cumsum, no single-task
    window) and the ONLY driver materializations are the ≤ n_bins bin
    table and two scalar aggregates.  ``possible_df``: (dist,
    n_possible) DataFrame (e.g. possible_pairs_from_fragments), joined
    distributed; distances absent from it fall back to the observed
    pair count, matching the driver-side form.
    """
    byd = win.per_distance_totals(in_range)
    if possible_df is not None:
        p = possible_df.select(F.col("dist").alias("d"), "n_possible")
        byd = byd.join(p, "d", "left").withColumn(
            "n_possible", F.coalesce(F.col("n_possible"), F.col("np"))
        )
    else:
        byd = byd.withColumn("n_possible", F.col("np"))
    byd = byd.cache()  # read by the total agg, the cumsum, and the stats
    assigned = win.equal_occupancy_assign(
        byd, cfg.n_bins, small_threshold=None
    )
    stats = assigned.groupBy("bin_id").agg(
        F.sum("cc").alias("sum_cc"),
        F.sum("np").alias("n_pairs"),
        F.sum("n_possible").alias("n_possible"),
        F.sum(F.col("d") * F.col("cc")).alias("sum_dcc"),
    )
    pdf = stats.toPandas().sort_values("bin_id", ignore_index=True)
    byd.unpersist()
    total = int(pdf["sum_cc"].sum())
    if len(pdf) == 0:
        # same empty-slice guard as fit_null_curve
        pdf["avg_dist"] = pd.Series(dtype=float)
        pdf["prob"] = pd.Series(dtype=float)
        pdf = pdf.drop(columns=["sum_dcc"])
        return pdf, (np.array([0.0, 1.0]), np.array([0.0, 0.0])), (0, 0)
    if n_total is None:
        n_total = total
    pdf["avg_dist"] = pdf["sum_dcc"].astype(np.float64) / pdf["sum_cc"].astype(
        np.float64
    )
    prob = (pdf["sum_cc"] / pdf["n_possible"].clip(lower=1)) / float(n_total)
    gx, gy = st.fit_monotone_curve(
        pdf["avg_dist"].to_numpy(),
        prob.to_numpy(),
        w=pdf["n_pairs"].to_numpy(dtype=np.float64),
        grid_points=cfg.grid_points,
    )
    pdf["prob"] = prob
    pdf = pdf.drop(columns=["sum_dcc"])
    return pdf, (gx, gy), (total, int(pdf["n_pairs"].sum()))


def run_significance(
    spark: SparkSession,
    contacts: DataFrame,
    chr_nbins=None,
    biases: DataFrame | None = None,
    cfg: SigConfig | None = None,
    fragments: DataFrame | None = None,
    bin_stats_out: list | None = None,
    caches_out: list | None = None,
) -> DataFrame:
    """Full multi-pass significance pipeline; returns the scored
    contacts (chr1, mid1, chr2, mid2, contact_count, p_value, q_value,
    bias1, bias2) for the final pass.

    The possible-pair census (BH's M and the per-bin denominators) comes
    from ONE of:

    - ``fragments``: a (chr, mid) DataFrame of SURVIVING fragment
      midpoints (bad fragments removed) — the reference-faithful census
      [P generate_FragPairs], required for fragment mode (res=0) and
      correct for filtered/sparse genomes; counted by
      :func:`possible_pairs_from_fragments`.
    - ``chr_nbins``: a per-chromosome grid-size dimension (DataFrame,
      pandas DataFrame, or iterable of (chr, nbins); tiny, consumed
      driver-side) — the closed-form fully-occupied-grid census, exact
      when every grid position is a valid fragment.

    ``bin_stats_out``: optional list; when given, (pass_no, pandas
    bin-stats table) is appended per intra fit — the reference's
    per-pass ``fithic_pass{n}.txt`` support table (already driver-side:
    ≤ n_bins rows).

    ``caches_out``: optional list; when given, every DataFrame this
    function leaves persisted (the repartitioned intra contacts, the
    final pass's scored table, and the res=0 census or the inter
    contacts when used) is appended, so the caller can unpersist them
    once it has materialized the result.  Without it they stay cached."""
    cfg = cfg or SigConfig()
    if fragments is None and chr_nbins is None:
        raise ValueError("provide fragments or chr_nbins for the census")
    base = canonicalize_pairs(contacts)
    if biases is not None:
        base = attach_biases(base, biases)
    else:
        base = base.withColumn("bias1", F.lit(1.0)).withColumn(
            "bias2", F.lit(1.0)
        )
    base = with_distance(base)

    intra = filter_distance_range(
        filter_contact_type(base, "intraOnly"), cfg.dist_lo, cfg.dist_hi
    )
    inter = filter_contact_type(base, "interOnly")
    score_intra = cfg.contact_type in ("intraOnly", "All")
    score_inter = cfg.contact_type in ("interOnly", "All")
    # repartition BEFORE caching: AQE coalesces small shuffles to one
    # partition, which would serialize every downstream Arrow UDF batch
    # onto a single Python worker
    par = spark.sparkContext.defaultParallelism or 32
    c = intra.repartition(par, "chr1", "mid1").cache()
    kept = [c]
    # possible-pair census from the actual fragment set:
    # - fixed resolution: per-chromosome occupancy autocorrelation —
    #   collect bounded by genome/resolution, no pair join at all;
    # - res=0 (irregular midpoints): distributed banded self-join; the
    #   collected per-distance table is bounded by the DISTINCT IN-RANGE
    #   pair distances, so callers should bound [dist_lo, dist_hi]
    #   (the reference's distUpThres does the same) — an unbounded
    #   range over arbitrary midpoints is inherently O(pairs).
    possible_df = None
    if fragments is not None:
        if cfg.resolution > 0:
            p_dists, p_counts, m_possible = possible_pairs_grid_census(
                fragments, cfg.resolution, cfg.dist_lo, cfg.dist_hi
            )
        else:
            # res=0: the census stays a DataFrame (its cardinality is
            # the distinct in-range pair distances — unbounded, so it
            # never comes to the driver); the fit joins it distributed
            # and BH's M is one scalar agg
            possible_df = possible_pairs_from_fragments(
                fragments, cfg.dist_lo, cfg.dist_hi
            ).cache()
            kept.append(possible_df)
            p_dists = p_counts = None
            m_possible = int(
                possible_df.agg(F.sum("n_possible")).collect()[0][0] or 0
            )
        nb = None
        if score_inter:
            # per-chromosome fragment counts (inter-mode census only):
            # tiny (one row per chromosome)
            nb = np.array(
                [
                    r["n"]
                    for r in fragments.select("chr", "mid")
                    .distinct()
                    .groupBy("chr")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                ],
                dtype=np.int64,
            )
    else:
        # lag-table combinatorics from the per-chromosome dim —
        # driver-side closed form, no Spark job (≤ a few dozen rows)
        if isinstance(chr_nbins, DataFrame):
            nb = np.array(
                [r["nbins"] for r in chr_nbins.collect()], dtype=np.int64
            )
        elif isinstance(chr_nbins, pd.DataFrame):
            nb = chr_nbins["nbins"].to_numpy(dtype=np.int64)
        else:
            nb = np.array([t[1] for t in chr_nbins], dtype=np.int64)
        p_dists, p_counts, m_possible = possible_pairs_np(
            nb, cfg.resolution, cfg.dist_lo, cfg.dist_hi
        )
    possible = (p_dists, p_counts)
    # global scalars (N = observedIntraInRangeSum, row count) come out of
    # pass 0's per-distance collect below — no separate agg job
    n_rows = n_total = None

    inter_scored = None
    m_total = 0
    if score_inter:
        # flat inter-chromosomal null [SC-5]: interChrProb =
        # observedInterAllSum / possibleInterAllCount; N = inter sum
        possible_inter = int(
            (nb.sum() ** 2 - (nb**2).sum()) // 2
        )  # Σ_{c1<c2} n1·n2
        inter = inter.cache()
        kept.append(inter)
        n_inter = inter.agg(F.sum("contact_count")).collect()[0][0] or 0
        inter_prob = n_inter / possible_inter if possible_inter else 0.0
        prior = contact_prior(
            None, F.lit(float(inter_prob)), F.col("bias1"), F.col("bias2")
        )
        inter_scored = inter.withColumn("p_prior", prior).withColumn(
            "p_value",
            _binom_sf_udf(int(n_inter))(F.col("contact_count"), F.col("p_prior")),
        )
        m_total += possible_inter

    fit_input = c
    scored = None
    prev_combined = prev_outliers = None
    n_passes = max(1, cfg.passes)
    for pass_no in range(n_passes):
        if score_intra:
            if possible_df is not None:
                # res=0: distributed binning — only the ≤ n_bins bin
                # table reaches the driver
                bin_pdf, (gx, gy), (fit_cc, fit_np) = (
                    fit_null_curve_distributed(
                        spark, fit_input, n_total, possible_df, cfg
                    )
                )
            else:
                bin_pdf, (gx, gy), (fit_cc, fit_np) = fit_null_curve(
                    spark, fit_input, n_total, possible, cfg
                )
            if bin_stats_out is not None:
                bin_stats_out.append((pass_no, bin_pdf))
        # the fit collect just materialized this pass's fit_input, so the
        # PREVIOUS pass's cached scored table + outlier set are dead —
        # release them instead of accumulating one pair per pass
        if prev_combined is not None:
            prev_combined.unpersist()
            prev_combined = None
        if prev_outliers is not None:
            prev_outliers.unpersist()
            prev_outliers = None
        if score_intra:
            if n_total is None:  # pass 0: fit_input == c, so Σcc == N
                n_total, n_rows = fit_cc, fit_np
                m_possible = m_possible or n_rows
            score = _fused_score_udf(spark, gx, gy, int(n_total))
            scored = c.withColumn("p_prior", F.lit(None).cast("double"))
            scored = scored.withColumn(
                "p_value",
                score(
                    F.col("contact_count"),
                    F.col("dist").cast("double"),
                    F.col("bias1"),
                    F.col("bias2"),
                ),
            )
        parts = [s for s in (scored if score_intra else None, inter_scored) if s is not None]
        combined = parts[0]
        for p in parts[1:]:
            combined = combined.unionByName(p)
        m_bh = (int(m_possible) if score_intra else 0) + m_total
        # materialize the scored table before BH: the distributed BH's
        # range repartition SAMPLES its input, which would re-run the
        # whole scoring UDF lineage once per downstream job
        combined = combined.cache()
        if (n_rows or 0) > 200_000:
            scored = win.bh_fdr_scalable(
                combined,
                "p_value",
                m=m_bh,
                tiebreak=["chr1", "chr2", "mid1", "mid2"],
            )
        else:
            scored = win.bh_fdr(
                combined,
                "p_value",
                m=m_bh,
                tiebreak=["chr1", "chr2", "mid1", "mid2"],
                # exact combined count known only when no inter rows were
                # unioned in → enables the single-sort BH form
                n_rows=(
                    n_rows if (score_intra and inter_scored is None) else None
                ),
            )
        # refine: remove significant outliers before the next fit [SC-7].
        # Cache the (small) outlier set — its lineage contains this
        # pass's full scoring pipeline, which the next pass's null fit
        # would otherwise recompute per downstream job.  Skipped on the
        # final pass: nothing consumes it.
        if pass_no < n_passes - 1:
            outliers = (
                scored.filter(F.col("q_value") < cfg.outlier_q)
                .select("chr1", "mid1", "chr2", "mid2")
                .cache()
            )
            fit_input = c.join(
                F.broadcast(outliers),
                ["chr1", "mid1", "chr2", "mid2"],
                "left_anti",
            )
            prev_combined, prev_outliers = combined, outliers
    if caches_out is not None:
        caches_out.extend(kept + [combined])
    return scored.select(
        "chr1",
        "mid1",
        "chr2",
        "mid2",
        "contact_count",
        "p_value",
        "q_value",
        "bias1",
        "bias2",
    )


def _coo_matvec(
    rows: np.ndarray, cols: np.ndarray, vals: np.ndarray, n: int, x: np.ndarray
) -> np.ndarray:
    out = np.zeros(n, dtype=np.float64)
    np.add.at(out, rows, vals * x[cols])
    return out


def kr_biases(
    contacts: DataFrame, resolution: int, tol: float = 1e-8
) -> DataFrame:
    """Per-chromosome Knight–Ruiz bias vectors from raw intra contacts
    (ref surface: utils/HiCKRy.py — read → sparse balance → bias write).

    Each chromosome's COO triplets flow through one applyInPandas group;
    chromosomes balance in parallel across executors (the reference used
    a single process).  Output biases are normalized to mean 1 over
    BALANCED loci, matching the ~1.0-centred bias convention [P].

    KR requires the contact matrix to have support; sparse fixtures
    (low-coverage loci) can be unbalanceable, which surfaces as the KR
    iterate collapsing toward zero / non-uniform row sums.  Following
    the reference's sparsity-retry loop, rows in the lowest coverage
    percentile are removed (1%, then +5% per retry) until the remaining
    submatrix balances; removed loci are emitted with the reference's
    ``-1.0`` sentinel bias, which downstream scoring already treats as
    outside the validity window → neutral product [SC-2].
    """
    intra = contacts.filter(F.col("chr1") == F.col("chr2")).select(
        F.col("chr1").alias("chr"), "mid1", "mid2", "contact_count"
    )

    def balance(pdf: pd.DataFrame) -> pd.DataFrame:
        # the group's row order depends on upstream partitioning; pin it
        # so the float accumulation order — and with it every low bit of
        # the iterative balance — is reproducible across sessions
        pdf = pdf.sort_values(["mid1", "mid2"], ignore_index=True)
        mids = np.unique(
            np.concatenate([pdf["mid1"].to_numpy(), pdf["mid2"].to_numpy()])
        )
        idx = {m: i for i, m in enumerate(mids)}
        n = len(mids)
        i = pdf["mid1"].map(idx).to_numpy(dtype=np.int64)
        j = pdf["mid2"].map(idx).to_numpy(dtype=np.int64)
        v = pdf["contact_count"].to_numpy(dtype=np.float64)
        # symmetrize: canonical triplets carry each off-diag pair once
        off = i != j
        rows = np.concatenate([i, j[off]])
        cols = np.concatenate([j, i[off]])
        vals = np.concatenate([v, v[off]])
        cov = np.zeros(n, dtype=np.float64)  # per-locus raw coverage
        np.add.at(cov, rows, vals)

        # Pre-scale to UNIT mean row sum before balancing: the KR inner
        # Newton step is clamped to the positive cone [0.1, 3] around
        # the all-ones iterate, so a matrix whose row sums are ≫ 1
        # (any high-coverage chromosome — the production regime) stalls
        # at x = e and never converges (found by the 8 M-contact scale
        # row; the low-count fixtures masked it).  Balancing A/s and
        # balancing A differ only by the x ↦ x/√s similarity, and the
        # mean-1 bias normalization below cancels any constant factor,
        # so the output convention is unchanged.  det_sum keeps the
        # scale factor — and with it every downstream bit — host-stable.
        s = st.det_sum(cov) / n if n else 1.0
        if s > 0:
            vals = vals / s
            cov = cov / s

        keep = np.ones(n, dtype=bool)
        perc = 0.0
        bias = np.full(n, -1.0, dtype=np.float64)
        for attempt in range(6):  # 0%, 1%, 6%, 11%, 16%, 21%
            if attempt > 0:
                perc = 1.0 + 5.0 * (attempt - 1)
                keep = cov > np.percentile(cov, perc)
            # filtering edges can orphan surviving loci; a zero-degree
            # row makes the Newton system singular (v == 0), so prune
            # until the kept subgraph has no isolated rows
            while True:
                m = keep[rows] & keep[cols]
                deg = np.zeros(n, dtype=np.int64)
                np.add.at(deg, rows[m], 1)
                nxt = keep & (deg > 0)
                if (nxt == keep).all():
                    break
                keep = nxt
            remap = np.cumsum(keep) - 1
            nk = int(keep.sum())
            if nk == 0:
                break
            x = st.kr_balance_coo(
                remap[rows[m]], remap[cols[m]], vals[m], nk, tol=tol
            )
            rs = x * _coo_matvec(remap[rows[m]], remap[cols[m]], vals[m], nk, x)
            # fsum-based moments: np's pairwise .mean()/.std() pick their
            # reduction order from the CPU's SIMD width, so their low
            # bits — and the normalized biases below — would differ
            # across hosts and break the cross-host golden hash
            mean_rs = st.det_sum(rs) / nk if nk else 0.0
            std_rs = (
                math.sqrt(st.det_sum((rs - mean_rs) ** 2) / nk) if nk else 0.0
            )
            converged = (
                mean_rs > 0
                and float(x.min()) > 0
                and std_rs / mean_rs < 1e-6
            )
            if converged:
                bias[:] = -1.0
                bias[keep] = x / (st.det_sum(x) / nk)
                break
        return pd.DataFrame(
            {"chr": pdf["chr"].iloc[0], "mid": mids, "bias": bias}
        )

    return intra.groupBy("chr").applyInPandas(
        balance, schema="chr string, mid long, bias double"
    )
