"""§2.9 Hi-C statistical kernels (priors, binomial SF, spline, significance).

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
# §2.9 statistical kernels
# ========================================================================


#: closed-form power-law null used by the SQL-expressible stat queries
#: (the real pipeline plugs the fitted spline into the same operators)
_NULL_SQL = "1.0 / (1.0 + (mid2 - mid1) / 5000.0)"


def _null_prob_col():
    return 1.0 / (1.0 + (F.col("mid2") - F.col("mid1")) / 5000.0)


def _chr_nbins(spark):
    """Fixture chromosome dimension: N_CHROMS chromosomes, same grid."""
    return spark.createDataFrame(
        [(f"chr{i + 1}", fx.NBINS_GRID) for i in range(fx.N_CHROMS)],
        "chr string, nbins int",
    )


@register(
    "q_possible_pairs",
    oracle=f"""
SELECT CAST(k * {fx.RES} AS BIGINT) AS dist,
       CAST({fx.N_CHROMS} * ({fx.NBINS_GRID} - k) AS BIGINT) AS n_possible
FROM generate_series(1, {fx.NBINS_GRID - 1}) t(k)
""",
)
def q_possible_pairs(spark, sf_dir):
    """Possible intra pairs per genomic distance (lag k on an n-bin grid
    has n−k pairs, summed over chromosomes) — the BH denominator's
    source [SC-3] (ref: generate_FragPairs)."""
    return hic.possible_pairs_per_lag(_chr_nbins(spark), fx.RES)


@register(
    "q_possible_pairs_frag",
    oracle=f"""
WITH {fx.frags_cte()}
SELECT CAST(b.mid - a.mid AS BIGINT) AS dist,
       COUNT(*) AS n_possible
FROM frags a
JOIN frags b
  ON a.chr = b.chr AND b.mid > a.mid
 AND b.mid - a.mid BETWEEN 10000 AND 200000
GROUP BY 1
""",
)
def q_possible_pairs_frag(spark, sf_dir):
    """Fragment-mode (res=0) possible-pair census: per-distance counts
    over the ACTUAL irregular fragment midpoints, not a grid closed form
    (ref: generate_FragPairs with variable restriction fragments).
    Banded self-join — each fragment probes only the two dist_hi-wide
    buckets that can hold in-range partners."""
    frags = fx.fixture_fragments(spark, sf_dir)
    return hic.possible_pairs_from_fragments(frags, 10_000, 200_000)


@register(
    "q_contact_prior",
    oracle=f"""
WITH {fx.contacts_cte()},
{fx.biases_cte()},
j AS (
  SELECT c.chr1, c.mid1, c.chr2, c.mid2, c.contact_count,
         COALESCE(b1.bias, 1.0) AS bias1,
         COALESCE(b2.bias, 1.0) AS bias2
  FROM contacts c
  LEFT JOIN biases b1 ON b1.chr = c.chr1 AND b1.mid = c.mid1
  LEFT JOIN biases b2 ON b2.chr = c.chr2 AND b2.mid = c.mid2
)
SELECT chr1, mid1, chr2, mid2, contact_count, bias1, bias2,
       {_NULL_SQL} AS null_prob,
       LEAST(GREATEST(
         {_NULL_SQL} *
         CASE WHEN bias1 < 0.5 OR bias1 > 2.0 OR bias2 < 0.5 OR bias2 > 2.0
              THEN 1.0 ELSE bias1 * bias2 END,
         0.0), 1.0) AS p_prior
FROM j
""",
)
def q_contact_prior(spark, sf_dir):
    """Contact prior p = null(d)·bias1·bias2 with the SC-2 bias validity
    window (out-of-[0.5,2] endpoint → neutral product), clamped to [0,1]
    (ref: fit_Spline prior assembly)."""
    c = fx.fixture_contacts(spark, sf_dir)
    b = fx.fixture_biases(spark, sf_dir)
    j = rel.attach_biases(c, b)
    return j.select(
        "chr1",
        "mid1",
        "chr2",
        "mid2",
        "contact_count",
        "bias1",
        "bias2",
        _null_prob_col().alias("null_prob"),
        hic.contact_prior(
            None, _null_prob_col(), F.col("bias1"), F.col("bias2")
        ).alias("p_prior"),
    )


#: possible inter-chromosomal pairs on the two 500-bin fixture grids
_POSSIBLE_INTER = fx.NBINS_GRID * fx.NBINS_GRID


@register(
    "q_contact_prior_inter",
    oracle=f"""
WITH {fx.inter_cte()},
{fx.biases_cte()},
tot AS (
  SELECT CAST(SUM(contact_count) AS DOUBLE) / {_POSSIBLE_INTER}.0 AS p0
  FROM inter
),
j AS (
  SELECT i.chr1, i.mid1, i.chr2, i.mid2, i.contact_count,
         COALESCE(b1.bias, 1.0) AS bias1,
         COALESCE(b2.bias, 1.0) AS bias2
  FROM inter i
  LEFT JOIN biases b1 ON b1.chr = i.chr1 AND b1.mid = i.mid1
  LEFT JOIN biases b2 ON b2.chr = i.chr2 AND b2.mid = i.mid2
)
SELECT chr1, mid1, chr2, mid2, contact_count, bias1, bias2,
       LEAST(GREATEST(
         p0 *
         CASE WHEN bias1 < 0.5 OR bias1 > 2.0 OR bias2 < 0.5 OR bias2 > 2.0
              THEN 1.0 ELSE bias1 * bias2 END,
         0.0), 1.0) AS p_prior
FROM j CROSS JOIN tot
""",
)
def q_contact_prior_inter(spark, sf_dir):
    """Inter-chromosomal contact prior [SC-5]: the FLAT interChrProb
    null (observedInterAllSum / possibleInterAllCount) times the
    bias-validity product, clamped — the scoring path 'All'/'interOnly'
    modes use (ref: fithic.py interChrProb).  The scalar null is one
    bounded agg collect; bias joins broadcast on (chr, mid)."""
    i = fx.fixture_inter_contacts(spark, sf_dir)
    b = fx.fixture_biases(spark, sf_dir)
    total = i.agg(F.sum("contact_count")).collect()[0][0]
    # SUM over zero rows is SQL NULL → empty slice scores with p0 = 0
    p0 = float(total or 0) / float(_POSSIBLE_INTER)
    j = rel.attach_biases(i, b)
    return j.select(
        "chr1",
        "mid1",
        "chr2",
        "mid2",
        "contact_count",
        "bias1",
        "bias2",
        hic.contact_prior(
            None, F.lit(p0), F.col("bias1"), F.col("bias2")
        ).alias("p_prior"),
    )


@register("q_binom_sf", oracle=_golden_oracle("q_binom_sf"))
def q_binom_sf(spark, sf_dir):
    """Binomial survival p-values P(X ≥ cc | N, prior) via the numpy
    betainc kernel in an Arrow pandas_udf (ref: fit_Spline scoring,
    scipy.stats.binom.sf(cc-1, N, p)).  Accuracy gate: tests/test_stats.py
    vs mpmath; the DuckDB oracle is a committed golden parquet whose
    every value was mpmath-certified at generation (tools/make_goldens.py),
    so the driver's hash match checks end-to-end bit-reproducibility of
    the distributed path against certified values."""
    c = rel.with_distance(fx.fixture_contacts(spark, sf_dir))
    n_total = c.agg(F.sum("contact_count")).collect()[0][0]
    prior = hic.contact_prior(None, _null_prob_col() * 0.001)
    scored = c.withColumn("p_prior", prior)
    sf_udf = hic._binom_sf_udf(int(n_total or 0))  # empty slice → N=0
    return scored.select(
        "chr1",
        "mid1",
        "chr2",
        "mid2",
        "contact_count",
        "p_prior",
        sf_udf(F.col("contact_count"), F.col("p_prior")).alias("p_value"),
    )


@register("q_spline_fit_eval", oracle=_golden_oracle("q_spline_fit_eval"))
def q_spline_fit_eval(spark, sf_dir):
    """Monotone null-curve fit + distributed evaluation: equal-occupancy
    bin stats → collect ≤noOfBins rows → penalized smooth + PAVA →
    broadcast dense grid → clamped interp in a pandas_udf
    (ref: fit_Spline; SC-4).  Monotonicity property-tested in pytest;
    golden-parquet oracle certified against an independent pandas-dataflow
    refit at generation (tools/make_goldens.py)."""
    c = rel.with_distance(fx.fixture_contacts(spark, sf_dir))
    cfg = hic.SigConfig(resolution=fx.RES, n_bins=fx.NBINS_OCC)
    possible = hic.possible_pairs_np(
        [fx.NBINS_GRID] * fx.N_CHROMS, fx.RES, cfg.dist_lo, cfg.dist_hi
    )[:2]
    byd = win.per_distance_totals(c)
    # n_total=None: N comes out of the same per-distance collect
    _, (gx, gy), _ = hic.fit_null_curve(spark, byd, None, possible, cfg)
    eval_udf = hic._curve_eval_udf(spark, gx, gy)
    return byd.select(
        "d", "cc", eval_udf(F.col("d").cast("double")).alias("spline_prob")
    )


@register("q_hic_significance", oracle=_golden_oracle("q_hic_significance"))
def q_hic_significance(spark, sf_dir):
    """End-to-end two-pass significance pipeline (ref: main loop over
    calculateProbabilities → fit_Spline with outlier refinement [SC-7]).
    Golden-tested against an independent pandas implementation in
    tests/test_hic_pipeline.py."""
    c = fx.fixture_contacts(spark, sf_dir)
    b = fx.fixture_biases(spark, sf_dir)
    cfg = hic.SigConfig(
        resolution=fx.RES, n_bins=fx.NBINS_OCC, passes=2, dist_lo=0, dist_hi=2**40
    )
    return hic.run_significance(
        spark,
        c,
        [(f"chr{i + 1}", fx.NBINS_GRID) for i in range(fx.N_CHROMS)],
        biases=b,
        cfg=cfg,
    )
