"""End-to-end golden test (SURVEY.md §5.2 layer 3): the Spark pipeline
must match the independent pandas dataflow on the derived fixture."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from pandas_ref import run_significance_pandas


def _fixture_frames(sf_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    from pfithic_spark.fixtures import BIASES_SQL, CONTACTS_SQL

    contacts = con.execute(CONTACTS_SQL).df()
    biases = con.execute(BIASES_SQL).df()
    con.close()
    return contacts, biases


@pytest.mark.parametrize("passes", [1, 2])
def test_pipeline_matches_pandas_ref(spark, sf_dir, passes):
    from pfithic_spark import fixtures as fx, hic

    contacts, biases = _fixture_frames(sf_dir)
    want = run_significance_pandas(
        contacts, biases, passes=passes
    ).sort_values(["chr1", "mid1", "chr2", "mid2"]).reset_index(drop=True)

    c = fx.fixture_contacts(spark, sf_dir)
    b = fx.fixture_biases(spark, sf_dir)
    chr_nbins = spark.createDataFrame(
        [(f"chr{i + 1}", fx.NBINS_GRID) for i in range(fx.N_CHROMS)],
        "chr string, nbins int",
    )
    cfg = hic.SigConfig(
        resolution=fx.RES,
        n_bins=fx.NBINS_OCC,
        passes=passes,
        dist_lo=0,
        dist_hi=2**40,
    )
    got = (
        hic.run_significance(spark, c, chr_nbins, biases=b, cfg=cfg)
        .toPandas()
        .sort_values(["chr1", "mid1", "chr2", "mid2"])
        .reset_index(drop=True)
    )

    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["chr1", "mid1", "chr2", "mid2", "contact_count"]],
        want[["chr1", "mid1", "chr2", "mid2", "contact_count"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(got["bias1"], want["bias1"], rtol=1e-12)
    np.testing.assert_allclose(got["bias2"], want["bias2"], rtol=1e-12)
    np.testing.assert_allclose(
        got["p_value"], want["p_value"], rtol=1e-9, atol=1e-300
    )
    np.testing.assert_allclose(
        got["q_value"], want["q_value"], rtol=1e-9, atol=1e-300
    )


def test_spline_monotone(spark, sf_dir):
    import __spark_entry__ as e

    pdf = e.queries()["q_spline_fit_eval"](spark, sf_dir).toPandas()
    pdf = pdf.sort_values("d")
    assert (np.diff(pdf["spline_prob"]) <= 1e-15).all()


def test_kr_balance_rowsums(spark, sf_dir):
    """KR property: for BALANCED loci (bias > 0), diag(x)·A·diag(x)
    restricted to balanced loci has constant row sums per chromosome;
    unbalanceable loci carry the reference -1 sentinel [SC-2].  The
    sf0.001 fixture matrix is tree-fragmented (no positive balance
    exists at any coverage filter — verified in round 3), so the whole
    vector degrades to the sentinel there; sf0.01 balances with zero
    drops, asserted tight below."""
    import numpy as np

    from pfithic_spark import fixtures as fx, hic

    gate_sf = "/root/testdata/sf0.01"
    c = fx.fixture_contacts(spark, gate_sf)
    bdf = hic.kr_biases(c, fx.RES).toPandas()
    assert set(bdf["chr"]) == {f"chr{i + 1}" for i in range(fx.N_CHROMS)}
    # every bias is the -1 sentinel or strictly positive — never 0/NaN
    assert ((bdf["bias"] > 0) | (bdf["bias"] == -1.0)).all()
    scale = {(r.chr, r.mid): r.bias for r in bdf.itertuples(index=False)}
    pdf = c.toPandas()
    sums: dict[tuple[str, int], float] = {}
    for r in pdf.itertuples(index=False):
        b1 = scale[(r.chr1, r.mid1)]
        b2 = scale[(r.chr2, r.mid2)]
        if b1 < 0 or b2 < 0:
            continue
        w = r.contact_count * b1 * b2
        sums[(r.chr1, r.mid1)] = sums.get((r.chr1, r.mid1), 0.0) + w
        if (r.chr2, r.mid2) != (r.chr1, r.mid1):
            sums[(r.chr2, r.mid2)] = sums.get((r.chr2, r.mid2), 0.0) + w
    for chrom in (f"chr{i + 1}" for i in range(fx.N_CHROMS)):
        kept = bdf[(bdf["chr"] == chrom) & (bdf["bias"] > 0)]
        # sf0.01 balances with no drops; mean-1 normalization over kept
        assert len(kept) > 0 and (kept["bias"] > 0).all()
        assert abs(kept["bias"].mean() - 1.0) < 1e-9
        vals = np.array([v for (ch, _), v in sums.items() if ch == chrom])
        assert vals.std() / vals.mean() < 1e-4, chrom


def test_kr_balance_unbalanceable_sentinel(spark):
    """A structurally unbalanceable matrix (3-node path: the middle row
    sum is forced to 2) must trigger the sparsity retry — drop the
    sparsest locus, balance the remaining edge — and mark the dropped
    locus with the -1 sentinel.  Never a signed pseudo-balance with
    negative or zero biases."""
    from pfithic_spark import hic

    c = spark.createDataFrame(
        [("chrX", 2500, "chrX", 7500, 4), ("chrX", 7500, "chrX", 12500, 2)],
        "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long",
    )
    bdf = hic.kr_biases(c, 5000).toPandas().set_index("mid")
    assert len(bdf) == 3
    # the sparsest locus (12500, coverage 2) is dropped; the surviving
    # edge (2500)-(7500) balances: x1·4·x2 = const row sums
    assert bdf.loc[12500, "bias"] == -1.0
    kept = bdf.loc[[2500, 7500], "bias"]
    assert (kept > 0).all()
    assert abs(kept.mean() - 1.0) < 1e-9



@pytest.mark.parametrize("passes", [1, 2, 3])
def test_adversarial_canonicalization_bias_bounds_ties(spark, passes):
    """SC-2/SC-6 edge semantics, pinned against the independent pandas
    dataflow: (a) uncanonicalized + duplicated input pairs collapse into
    summed canonical rows; (b) biases exactly AT the 0.5/2.0 validity
    bounds are valid while values epsilon outside are sentinels;
    (c) massed p-value ties resolve through the deterministic BH
    tiebreak chain — across chromosomes and passes."""
    from pfithic_spark import hic

    rng = np.random.default_rng(5)
    nb = 30
    rows = []
    for chrom in ("chr1", "chr2"):
        for _ in range(300):
            i, j = rng.integers(0, nb, 2)
            if i == j:
                continue
            # deliberately UNORDERED endpoints; cc from a tiny value set
            # so many pairs tie on (dist, cc) → tied p-values
            rows.append(
                (
                    chrom,
                    int(i * 5000 + 2500),
                    chrom,
                    int(j * 5000 + 2500),
                    int(1 + (i + j) % 3),
                )
            )
    # explicit duplicates of one pair, in both endpoint orders
    rows += [
        ("chr1", 12500, "chr1", 2500, 3),
        ("chr1", 2500, "chr1", 12500, 2),
    ] * 2
    contacts = spark.createDataFrame(
        rows, "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long"
    )
    # biases cycling through: exactly-at-bounds (valid), epsilon-outside
    # (sentinel), neutral
    bias_vals = [0.5, 2.0, 0.5 - 1e-9, 2.0 + 1e-9, 1.25]
    bias_rows = [
        (chrom, k * 5000 + 2500, bias_vals[k % 5])
        for chrom in ("chr1", "chr2")
        for k in range(nb)
    ]
    biases = spark.createDataFrame(bias_rows, "chr string, mid long, bias double")

    cfg = hic.SigConfig(
        resolution=5000, n_bins=10, passes=passes, dist_lo=0, dist_hi=2**40
    )
    got = (
        hic.run_significance(
            spark, contacts, [("chr1", nb), ("chr2", nb)], biases=biases, cfg=cfg
        )
        .toPandas()
        .sort_values(["chr1", "mid1", "chr2", "mid2"])
        .reset_index(drop=True)
    )

    # independent canonicalization: order endpoints, sum duplicates
    pdf = pd.DataFrame(
        rows, columns=["chr1", "mid1", "chr2", "mid2", "contact_count"]
    )
    swap = (pdf["chr1"] > pdf["chr2"]) | (
        (pdf["chr1"] == pdf["chr2"]) & (pdf["mid1"] > pdf["mid2"])
    )
    for a, b in (("chr1", "chr2"), ("mid1", "mid2")):
        pdf.loc[swap, [a, b]] = pdf.loc[swap, [b, a]].to_numpy()
    cpd = pdf.groupby(
        ["chr1", "mid1", "chr2", "mid2"], as_index=False
    )["contact_count"].sum()
    want = (
        run_significance_pandas(
            cpd,
            pd.DataFrame(bias_rows, columns=["chr", "mid", "bias"]),
            nbins_grid=nb,
            res=5000,
            n_bins=10,
            passes=passes,
            n_chroms=2,
        )
        .sort_values(["chr1", "mid1", "chr2", "mid2"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["chr1", "mid1", "chr2", "mid2", "contact_count"]],
        want[["chr1", "mid1", "chr2", "mid2", "contact_count"]],
        check_dtype=False,
    )
    # the duplicated pair collapsed and summed both orders
    dup = got[(got["chr1"] == "chr1") & (got["mid1"] == 2500) & (got["mid2"] == 12500)]
    assert len(dup) == 1
    np.testing.assert_allclose(got["bias1"], want["bias1"], rtol=1e-12)
    np.testing.assert_allclose(got["bias2"], want["bias2"], rtol=1e-12)
    np.testing.assert_allclose(
        got["p_value"], want["p_value"], rtol=1e-9, atol=1e-300
    )
    np.testing.assert_allclose(
        got["q_value"], want["q_value"], rtol=1e-9, atol=1e-300
    )


def test_fragment_mode_matches_pandas_ref(spark):
    """res=0 (variable restriction fragments): the pipeline censuses
    possible pairs from the ACTUAL irregular fragment midpoints, and the
    full significance output matches the independent pandas dataflow
    computing the same census by brute force."""
    from pfithic_spark import hic

    rng = np.random.default_rng(11)
    frag_rows = []
    for chrom, n in (("chr1", 60), ("chr2", 40)):
        mids = np.cumsum(rng.integers(2000, 9000, n)) + 1000
        frag_rows += [(chrom, int(m)) for m in mids]
    frags_pd = pd.DataFrame(frag_rows, columns=["chr", "mid"])

    rows = []
    for chrom, n in (("chr1", 60), ("chr2", 40)):
        mids = frags_pd.loc[frags_pd["chr"] == chrom, "mid"].to_numpy()
        for _ in range(500):
            i, j = sorted(rng.integers(0, n, 2))
            if i == j:
                continue
            rows.append(
                (
                    chrom,
                    int(mids[i]),
                    chrom,
                    int(mids[j]),
                    int(rng.integers(1, 6)),
                )
            )
    contacts = spark.createDataFrame(
        rows, "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long"
    )
    frags = spark.createDataFrame(frags_pd)
    cfg = hic.SigConfig(
        resolution=0, n_bins=20, passes=1, dist_lo=0, dist_hi=2**40
    )
    got = (
        hic.run_significance(spark, contacts, biases=None, cfg=cfg, fragments=frags)
        .toPandas()
        .sort_values(["chr1", "mid1", "chr2", "mid2"])
        .reset_index(drop=True)
    )

    # pandas census: brute-force per-chromosome pair distances
    poss: dict[int, int] = {}
    for _, grp in frags_pd.groupby("chr"):
        m = np.sort(grp["mid"].to_numpy(dtype=np.int64))
        d = (m[None, :] - m[:, None]).ravel()
        d = d[d > 0]
        for dist, cnt in zip(*np.unique(d, return_counts=True)):
            poss[int(dist)] = poss.get(int(dist), 0) + int(cnt)
    possible = pd.Series(poss).sort_index()

    cpd = (
        pd.DataFrame(
            rows, columns=["chr1", "mid1", "chr2", "mid2", "contact_count"]
        )
        .groupby(["chr1", "mid1", "chr2", "mid2"], as_index=False)[
            "contact_count"
        ]
        .sum()
    )
    want = (
        run_significance_pandas(
            cpd, None, n_bins=20, passes=1, possible_override=possible
        )
        .sort_values(["chr1", "mid1", "chr2", "mid2"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["chr1", "mid1", "chr2", "mid2", "contact_count"]],
        want[["chr1", "mid1", "chr2", "mid2", "contact_count"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(
        got["p_value"], want["p_value"], rtol=1e-9, atol=1e-300
    )
    np.testing.assert_allclose(
        got["q_value"], want["q_value"], rtol=1e-9, atol=1e-300
    )


def test_inter_chromosomal_mode(spark):
    """SC-5: 'All' mode scores inter contacts with the flat interChrProb
    null; q-values well-formed; row count = intra + inter."""
    import numpy as np

    from pfithic_spark import hic

    rng = np.random.default_rng(7)
    rows = []
    for chrom, nb in (("chr1", 40), ("chr2", 30)):
        for _ in range(300):
            i, j = sorted(rng.integers(0, nb, 2))
            if i == j:
                continue
            rows.append(
                (chrom, int(i * 5000 + 2500), chrom, int(j * 5000 + 2500), int(rng.integers(1, 8)))
            )
    for _ in range(60):  # inter pairs
        i = int(rng.integers(0, 40)) * 5000 + 2500
        j = int(rng.integers(0, 30)) * 5000 + 2500
        rows.append(("chr1", i, "chr2", j, int(rng.integers(1, 3))))
    contacts = spark.createDataFrame(
        rows, "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long"
    )
    chr_nbins = spark.createDataFrame(
        [("chr1", 40), ("chr2", 30)], "chr string, nbins int"
    )
    cfg = hic.SigConfig(n_bins=20, contact_type="All", dist_lo=0, dist_hi=2**40)
    out = hic.run_significance(spark, contacts, chr_nbins, cfg=cfg).toPandas()
    # canonicalized distinct pairs, intra + inter all present
    n_intra = out[out["chr1"] == out["chr2"]].shape[0]
    n_inter = out[out["chr1"] != out["chr2"]].shape[0]
    assert n_intra > 0 and n_inter > 0
    assert ((out["p_value"] >= 0) & (out["p_value"] <= 1)).all()
    assert ((out["q_value"] >= 0) & (out["q_value"] <= 1)).all()
    # inter contacts with identical (cc, biases) get identical p (flat null)
    inter = out[out["chr1"] != out["chr2"]]
    one = inter[inter["contact_count"] == 1]
    if len(one) > 1:
        assert one["p_value"].nunique() == 1


def test_run_significance_empty_input(spark):
    """An empty contacts slice (e.g. a chromosome allow-list matching
    nothing) must complete with empty output, not crash the pipeline —
    at 100 TB one empty slice is routine."""
    from pfithic_spark import hic
    from pfithic_spark.io import CONTACTS_SCHEMA

    empty = spark.createDataFrame([], CONTACTS_SCHEMA)
    for passes in (1, 2):
        out = hic.run_significance(
            spark,
            empty,
            chr_nbins=[("chr1", 10)],
            cfg=hic.SigConfig(n_bins=5, passes=passes),
        )
        assert out.collect() == []
        assert {"p_value", "q_value"} <= set(out.columns)
    # res=0 fragment census: fit_null_curve bins on the cluster
    frags = spark.createDataFrame([], "chr string, mid long")
    out = hic.run_significance(
        spark,
        empty,
        fragments=frags,
        cfg=hic.SigConfig(resolution=0, n_bins=5, dist_hi=10**6),
    )
    assert out.collect() == []


def test_all_mode_matches_pandas_ref(spark, sf_dir):
    """'All' mode end-to-end vs the independent pandas dataflow: intra
    scored on the fitted null, inter on the flat interChrProb null,
    one combined BH with M = possibleIntra + possibleInter.  This is
    the generation-time gate behind tests/golden/q_hic_significance_all
    (tools/make_goldens.py runs the same comparison)."""
    from pandas_ref import run_significance_all_pandas

    from pfithic_spark import fixtures as fx, hic

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    intra_pd = con.execute(fx.CONTACTS_SQL).df()
    inter_pd = con.execute(fx.INTER_CONTACTS_SQL).df()
    biases_pd = con.execute(fx.BIASES_SQL).df()
    con.close()
    want = (
        run_significance_all_pandas(intra_pd, inter_pd, biases_pd)
        .sort_values(["chr1", "chr2", "mid1", "mid2"])
        .reset_index(drop=True)
    )

    c = fx.fixture_contacts(spark, sf_dir).unionByName(
        fx.fixture_inter_contacts(spark, sf_dir)
    )
    cfg = hic.SigConfig(
        resolution=fx.RES,
        n_bins=fx.NBINS_OCC,
        passes=1,
        dist_lo=0,
        dist_hi=2**40,
        contact_type="All",
    )
    got = (
        hic.run_significance(
            spark,
            c,
            [(f"chr{i + 1}", fx.NBINS_GRID) for i in range(fx.N_CHROMS)],
            biases=fx.fixture_biases(spark, sf_dir),
            cfg=cfg,
        )
        .toPandas()
        .sort_values(["chr1", "chr2", "mid1", "mid2"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(
        got[["chr1", "mid1", "chr2", "mid2", "contact_count"]],
        want[["chr1", "mid1", "chr2", "mid2", "contact_count"]],
        check_dtype=False,
    )
    np.testing.assert_allclose(got["bias1"], want["bias1"], rtol=1e-12)
    np.testing.assert_allclose(got["bias2"], want["bias2"], rtol=1e-12)
    np.testing.assert_allclose(got["p_value"], want["p_value"], rtol=1e-9, atol=1e-300)
    np.testing.assert_allclose(got["q_value"], want["q_value"], rtol=1e-9, atol=1e-300)


def test_nan_bias_is_missing_all_mode(spark):
    """A NaN bias is a missing bias (neutral 1.0), as in pandas_ref's
    fillna: intra and inter rows touching the NaN locus score like
    unbiased rows, and bias1/bias2 read 1.0 there."""
    from pandas_ref import run_significance_all_pandas

    from pfithic_spark import hic

    rng = np.random.default_rng(41)
    nb = 12
    intra = sorted(
        {
            (chrom, int(i) * 5000 + 2500, chrom, int(j) * 5000 + 2500)
            for chrom in ("chr1", "chr2")
            for i, j in (sorted(rng.integers(0, nb, 2)) for _ in range(60))
            if i != j
        }
    )
    intra = [r + (1 + (r[1] + r[3]) // 5000 % 3,) for r in intra]
    inter = [("chr1", 2500, "chr2", 7500, 2), ("chr1", 12500, "chr2", 2500, 1)]
    bias_rows = [
        (chrom, k * 5000 + 2500, (1.25, 0.8, 1.1)[k % 3])
        for chrom in ("chr1", "chr2")
        for k in range(nb)
    ]
    bias_rows[0] = ("chr1", 2500, float("nan"))
    cols = ["chr1", "mid1", "chr2", "mid2", "contact_count"]
    want = (
        run_significance_all_pandas(
            pd.DataFrame(intra, columns=cols),
            pd.DataFrame(inter, columns=cols),
            pd.DataFrame(bias_rows, columns=["chr", "mid", "bias"]),
            nbins_grid=nb,
            n_bins=5,
        )
        .sort_values(_KEYS, ignore_index=True)
    )
    got = (
        hic.run_significance(
            spark,
            spark.createDataFrame(
                intra + inter,
                "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long",
            ),
            [("chr1", nb), ("chr2", nb)],
            biases=spark.createDataFrame(
                bias_rows, "chr string, mid long, bias double"
            ),
            cfg=hic.SigConfig(n_bins=5, contact_type="All"),
        )
        .toPandas()
        .sort_values(_KEYS, ignore_index=True)
    )
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)
    at_nan = (got["chr1"] == "chr1") & (got["mid1"] == 2500)
    assert at_nan.sum() >= 2 and (got["chr1"][at_nan] != got["chr2"][at_nan]).any()
    assert (got["bias1"][at_nan] == 1.0).all()
    for c in ("bias1", "bias2", "p_value", "q_value"):
        assert not got[c].isna().any(), c
        np.testing.assert_allclose(got[c], want[c], rtol=1e-9, atol=1e-300)


def test_unknown_contact_type_is_rejected(spark):
    from pfithic_spark import hic

    contacts = spark.createDataFrame(
        [("chr1", 2500, "chr1", 7500, 1)],
        "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long",
    )
    cfg = hic.SigConfig(contact_type="intra")
    with pytest.raises(ValueError, match="intraOnly, interOnly, All.*'intra'"):
        hic.run_significance(spark, contacts, [("chr1", 4)], cfg=cfg)


@pytest.mark.parametrize("n_total", [None, 10**18])
@pytest.mark.parametrize("rows", ["table", "empty", "zero"])
def test_fit_null_curve_routes_equal(spark, n_total, rows):
    """fit_null_curve over one per-distance table, with the census as
    driver arrays (numpy binning) and as a DataFrame (distributed
    binning): the bin-stats frame, the curve and the totals are equal
    bit for bit.  Two of the table's distances are missing from the
    census, so both routes fall back to the observed pair count.  A
    table of zero counts (avg_dist and prob are 0/0) fits the
    degenerate zero curve with totals (0, Σpairs), not a NaN curve."""
    from pfithic_spark import hic

    rng = np.random.default_rng(43)
    if rows == "table":
        # Σcc past 2^53 while Σ d·cc still fits in int64
        byd = [
            (d, int(rng.integers(1, 20)) << 46, int(rng.integers(1, 9)))
            for d in range(1, 41)
        ]
        census = [(d, 300 - d) for d in range(1, 39)]
        census.append((10**7, 1))  # a census distance with no contacts
    elif rows == "zero":
        byd = [(d, 0, d % 3 + 1) for d in range(1, 9)]
        census = [(d, 50 - d) for d in range(1, 9)]
    else:
        byd, census = [], []
    byd_df = spark.createDataFrame(byd, "d long, cc long, np long")
    census_df = spark.createDataFrame(census, "dist long, n_possible long")
    arrays = (
        np.array([d for d, _ in census], dtype=np.int64),
        np.array([n for _, n in census], dtype=np.int64),
    )
    cfg = hic.SigConfig(n_bins=7, grid_points=50)
    a_pdf, (a_gx, a_gy), a_tot = hic.fit_null_curve(
        spark, byd_df, n_total, arrays, cfg
    )
    b_pdf, (b_gx, b_gy), b_tot = hic.fit_null_curve(
        spark, byd_df, n_total, census_df, cfg
    )
    pd.testing.assert_frame_equal(a_pdf, b_pdf, check_exact=True)
    assert np.array_equal(a_gx, b_gx) and np.array_equal(a_gy, b_gy)
    assert a_tot == b_tot
    if rows == "table":
        assert a_tot == (sum(r[1] for r in byd), sum(r[2] for r in byd))
        assert a_tot[0] > 2**53
        assert a_pdf["sum_cc"].sum() == a_tot[0]  # exact int64 bin sums
        # distances 39 and 40 fall back to their observed pair count
        fallback = sum(r[2] for r in byd[-2:])
        assert a_pdf["n_possible"].sum() == sum(300 - d for d in range(1, 39)) + fallback
        assert len(a_pdf) > 1
    else:
        assert a_tot == (0, sum(r[2] for r in byd))
        assert a_gx.tolist() == [0.0, 1.0] and a_gy.tolist() == [0.0, 0.0]
        # zero counts all land in bin 0
        assert a_pdf["prob"].tolist() == ([0.0] if byd else [])


def test_run_significance_all_zero_counts(spark):
    """Contacts whose counts are all 0 score p = q = 1.0 through the
    zero curve, not NaN, with the grid census (1 and 2 passes) and the
    res=0 fragment census."""
    from pfithic_spark import hic
    from pfithic_spark.io import CONTACTS_SCHEMA

    mids = [2500 + 5000 * i for i in range(12)]
    rows = [
        ("chr1", a, "chr1", b, 0) for i, a in enumerate(mids) for b in mids[i + 1 :]
    ]
    contacts = spark.createDataFrame(rows, CONTACTS_SCHEMA)
    frags = spark.createDataFrame([("chr1", m) for m in mids], "chr string, mid long")
    runs = [
        dict(chr_nbins=[("chr1", 12)], cfg=hic.SigConfig(n_bins=5, passes=passes))
        for passes in (1, 2)
    ]
    runs.append(
        dict(
            fragments=frags,
            cfg=hic.SigConfig(resolution=0, n_bins=5, dist_hi=10**6),
        )
    )
    for kw in runs:
        got = hic.run_significance(spark, contacts, **kw).collect()
        assert len(got) == len(rows)
        assert {(r["p_value"], r["q_value"]) for r in got} == {(1.0, 1.0)}


def test_candidate_plan_scores_once_per_side(spark, monkeypatch):
    """All mode: the refinement candidate collect evaluates the scoring
    UDF once for the intra side and once for the inter side — the
    p_value filter is not pushed below the UDF with a second copy
    inlined into it."""
    from pfithic_spark import hic

    rng = np.random.default_rng(31)
    chroms = [("chr1", 60), ("chr2", 50)]
    contacts = spark.createDataFrame(
        _tied_rows(rng, chroms, 350, inter_draws=40),
        "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long",
    )
    plans = []
    pick = hic._bh_outliers

    def spy(combined, *args):
        cls = type(combined)
        to_pandas = cls.toPandas

        def record(self):
            plans.append(self._jdf.queryExecution().executedPlan().toString())
            return to_pandas(self)

        monkeypatch.setattr(cls, "toPandas", record)
        try:
            return pick(combined, *args)
        finally:
            monkeypatch.setattr(cls, "toPandas", to_pandas)

    monkeypatch.setattr(hic, "_bh_outliers", spy)
    cfg = hic.SigConfig(
        resolution=5000, n_bins=8, passes=2, outlier_q=0.2, contact_type="All"
    )
    hic.run_significance(spark, contacts, chroms, cfg=cfg).count()
    assert len(plans) == 1
    assert plans[0].count("ArrowEvalPython") == 2, plans[0]


_KEYS = ["chr1", "mid1", "chr2", "mid2"]


def _tied_rows(rng, chroms, draws, inter_draws=0):
    """Contacts on a 5 kb grid with counts from {1, 2, 3}: few distinct
    (dist, cc) pairs, so p-values come in large tied groups."""
    rows = []
    for chrom, nb in chroms:
        for _ in range(draws):
            i, j = sorted(int(x) for x in rng.integers(0, nb, 2))
            if i != j:
                rows.append(
                    (chrom, i * 5000 + 2500, chrom, j * 5000 + 2500, 1 + (i + j) % 3)
                )
    (c1, nb1), (c2, nb2) = chroms[:2]
    for _ in range(inter_draws):
        i, j = int(rng.integers(0, nb1)), int(rng.integers(0, nb2))
        cc = 8 if (i + j) % 7 == 0 else 1  # some inter outliers too
        rows.append((c1, i * 5000 + 2500, c2, j * 5000 + 2500, cc))
    return rows


def _both_routes(monkeypatch, run):
    """Run the pipeline with the candidate cap at its default, just under
    the scored row count (the limit is planned) and at 0 (every
    refinement pass ranks all rows).  Returns, per cap, the sorted
    output, the per-pass outlier sets and which route each pass took."""
    from pfithic_spark import hic

    default_cap = hic.OUTLIER_CANDIDATE_CAP
    pick = hic._bh_outliers

    def once(cap):
        monkeypatch.setattr(hic, "OUTLIER_CANDIDATE_CAP", cap)
        over = []

        def spy(*args):
            got = pick(*args)
            over.append(got is None)
            return got

        monkeypatch.setattr(hic, "_bh_outliers", spy)
        sets: list = []
        got = run(sets).toPandas().sort_values(_KEYS, ignore_index=True)
        sets = [
            (k, df.sort_values(list(df.columns), ignore_index=True))
            for k, df in sets
        ]
        return got, sets, over

    first = once(default_cap)
    return [first, once(len(first[0]) - 1), once(0)]


def _assert_routes_equal(runs, n_refine):
    (got, sets, over) = runs[0]
    assert over == [False] * n_refine  # candidate prefix, under the cap
    assert runs[2][2] == [True] * n_refine  # cap 0: distributed BH
    assert [k for k, _ in sets] == list(range(n_refine))
    assert any(len(df) for _, df in sets)
    for got_r, sets_r, _ in runs[1:]:
        pd.testing.assert_frame_equal(got_r, got, check_exact=True)
        assert len(sets_r) == len(sets)
        for (k, a), (k_r, b) in zip(sets, sets_r):
            assert k == k_r
            pd.testing.assert_frame_equal(b, a, check_exact=True)


@pytest.mark.parametrize("plant", ["cutoff_tie", "bound_tie"])
def test_refinement_routes_equal_intra(spark, monkeypatch, plant):
    """intraOnly, three refinement passes: the outliers picked from the
    candidate prefix on the driver equal the full distributed BH's,
    row for row, and so does the final output.  The outlier threshold is
    planted so that a tied p-value group sits at BH's cut-off rank k*
    (cutoff_tie) or exactly at the candidate bound α·n/M (bound_tie)."""
    from pfithic_spark import hic

    rng = np.random.default_rng(23)
    chroms = [("chr1", 30), ("chr2", 24)]
    contacts = spark.createDataFrame(
        _tied_rows(rng, chroms, 400),
        "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long",
    )

    def run(passes, alpha, sets=None):
        cfg = hic.SigConfig(
            resolution=5000, n_bins=8, passes=passes, outlier_q=alpha
        )
        return hic.run_significance(
            spark, contacts, chroms, cfg=cfg, outliers_out=sets
        )

    # pass 0's p- and q-values, in BH rank order
    p0 = run(1, 0.05).toPandas().sort_values(
        ["p_value"] + _KEYS, ignore_index=True
    )
    n = len(p0)
    m = hic.possible_pairs_np([nb for _, nb in chroms], 5000, 0, 2**62)[2]
    groups = p0.groupby("p_value", sort=True)["q_value"].agg(["size", "max"])
    last_rank = groups["size"].cumsum().to_numpy()
    p = groups.index.to_numpy()
    q_raw_last = np.minimum(1.0, p * float(m) / last_rank)
    tied = groups["size"].to_numpy() >= 2
    if plant == "cutoff_tie":
        # a tied group whose last rank attains its own q: with α just
        # above that q, k* is the group's last rank
        ok = tied & (q_raw_last == groups["max"].to_numpy())
        ok &= (groups["max"].to_numpy() > 0.01) & (groups["max"].to_numpy() < 0.5)
        g = np.flatnonzero(ok)[len(np.flatnonzero(ok)) // 2]
        alpha = float(np.nextafter(groups["max"].iloc[g], 1.0))
    else:
        # α chosen so that α·n/M lands on a tied group's p-value
        ok = tied & (p * m / n > 0.01) & (p * m / n < 0.5)
        g = np.flatnonzero(ok)[len(np.flatnonzero(ok)) // 2]
        alpha = float(p[g] * m / n)

    runs = _both_routes(monkeypatch, lambda sets: run(4, alpha, sets))
    _assert_routes_equal(runs, 3)
    first = runs[0][1][0][1]
    if plant == "cutoff_tie":
        # the whole tied group is in pass 1's outliers, and it is last
        at_cut = first[first["p_value"] == p[g]]
        assert len(at_cut) == groups["size"].iloc[g] >= 2
        assert first["p_value"].max() == p[g]
    else:
        assert (p0["p_value"] == p[g]).sum() >= 2
        assert len(first) and (first["p_value"] < p[g]).all()


def test_refinement_routes_equal_all_mode(spark, monkeypatch):
    """All mode (inter rows share the BH ranking but are never
    subtracted from the intra fit), with biases: both routes agree."""
    from pfithic_spark import hic

    rng = np.random.default_rng(31)
    chroms = [("chr1", 60), ("chr2", 50)]
    contacts = spark.createDataFrame(
        _tied_rows(rng, chroms, 350, inter_draws=40),
        "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long",
    )
    biases = spark.createDataFrame(
        [
            (chrom, k * 5000 + 2500, (1.0, 1.25, 0.8, 3.0)[k % 4])
            for chrom, nb in chroms
            for k in range(nb)
        ],
        "chr string, mid long, bias double",
    )
    cfg = hic.SigConfig(
        resolution=5000, n_bins=8, passes=4, outlier_q=0.2, contact_type="All"
    )
    runs = _both_routes(
        monkeypatch,
        lambda sets: hic.run_significance(
            spark, contacts, chroms, biases=biases, cfg=cfg, outliers_out=sets
        ),
    )
    _assert_routes_equal(runs, 3)
    assert any((~df["is_intra"]).any() for _, df in runs[0][1])


def test_refinement_routes_equal_fragment_mode(spark, monkeypatch):
    """res=0: the per-distance table stays a DataFrame and the outliers
    are subtracted from it distributed; both routes agree."""
    from pfithic_spark import hic

    rng = np.random.default_rng(37)
    frag_rows, rows = [], []
    for chrom, n in (("chr1", 40), ("chr2", 30)):
        mids = [int(m) for m in np.cumsum(rng.integers(2000, 6000, n)) + 1000]
        frag_rows += [(chrom, m) for m in mids]
        for _ in range(400):
            i, j = sorted(int(x) for x in rng.integers(0, n, 2))
            if i != j:
                rows.append((chrom, mids[i], chrom, mids[j], 1 + (i + j) % 3))
    contacts = spark.createDataFrame(
        rows, "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long"
    )
    frags = spark.createDataFrame(frag_rows, "chr string, mid long")
    cfg = hic.SigConfig(
        resolution=0, n_bins=8, passes=4, outlier_q=0.2, dist_hi=10**6
    )
    runs = _both_routes(
        monkeypatch,
        lambda sets: hic.run_significance(
            spark, contacts, fragments=frags, cfg=cfg, outliers_out=sets
        ),
    )
    _assert_routes_equal(runs, 3)


@pytest.mark.parametrize("contact_type", ["interOnly", "All"])
def test_final_bh_route_counts_every_scored_row(spark, monkeypatch, contact_type):
    """The final BH routes on every scored row, intra plus inter: with
    hic.BH_SINGLE_WINDOW_ROWS one below the scored row count, interOnly
    and All rank with windows.bh_fdr_scalable, and the output equals the
    single-window run's exactly.  In both modes the intra rows alone are
    under the bound."""
    from pfithic_spark import hic
    from pfithic_spark import windows as win

    rng = np.random.default_rng(43)
    chroms = [("chr1", 30), ("chr2", 24)]
    contacts = spark.createDataFrame(
        _tied_rows(rng, chroms, 150, inter_draws=80),
        "chr1 string, mid1 long, chr2 string, mid2 long, contact_count long",
    )
    cfg = hic.SigConfig(resolution=5000, n_bins=8, passes=2, contact_type=contact_type)

    def run():
        out = hic.run_significance(spark, contacts, chroms, cfg=cfg)
        return out.toPandas().sort_values(_KEYS, ignore_index=True)

    scalable = win.bh_fdr_scalable
    calls = []

    def spy(*args, **kwargs):
        calls.append(1)
        return scalable(*args, **kwargs)

    monkeypatch.setattr(win, "bh_fdr_scalable", spy)
    single = run()
    assert calls == []
    n_inter = int((single["chr1"] != single["chr2"]).sum())
    assert n_inter > 0
    monkeypatch.setattr(hic, "BH_SINGLE_WINDOW_ROWS", len(single) - 1)
    got = run()
    assert calls == [1]
    pd.testing.assert_frame_equal(got, single, check_exact=True)
