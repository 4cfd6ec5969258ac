"""Seeded inputs and the independent expectation for the ``hic_cli``
workload.

The generator writes the three files the CLI reads (headerless gz TSV):
contacts with a power-law distance decay, a fragment table on the
fixed-resolution grid with a few bad (unmappable or zero-marginal)
fragments, and per-locus biases, some of them outside the [0.5, 2]
validity window.  The program under test receives only these files.

The expectation comes from ``tests/pandas_ref.py`` (the pandas dataflow
of the reference architecture), fed with the same generated tables: bad
fragments are removed and the possible-pair census is counted by brute
force over the surviving grid, both in numpy here, so nothing of the
Spark code path is shared beyond the numeric kernels in
``pfithic_spark.stats``.
"""

from __future__ import annotations

import gzip
import hashlib
import os

import numpy as np
import pandas as pd

RES = 5000
KEY_COLS = ["chr1", "mid1", "chr2", "mid2", "contact_count"]
FLOAT_COLS = ["p_value", "q_value", "bias1", "bias2"]


def make_tables(seed: int, n_draws: int, nbins: int, chrs: int = 2):
    """Contacts, fragments and biases as pandas frames, from ``seed`` only."""
    rng = np.random.default_rng(seed)
    contacts, frags, biases = [], [], []
    for c in range(chrs):
        name = f"chr{c + 1}"
        i = rng.integers(0, nbins, n_draws)
        lag = np.minimum((rng.pareto(1.2, n_draws) * 3 + 1).astype(np.int64), nbins - 1)
        j = np.minimum(i + lag, nbins - 1)
        keep = i < j
        contacts.append(
            pd.DataFrame(
                {
                    "chr1": name,
                    "mid1": i[keep] * RES + RES // 2,
                    "chr2": name,
                    "mid2": j[keep] * RES + RES // 2,
                    "contact_count": rng.integers(1, 12, keep.sum()),
                }
            )
        )
        k = np.arange(nbins)
        # ~2 % bad fragments, split between the two badness rules
        bad = rng.random(nbins)
        frags.append(
            pd.DataFrame(
                {
                    "chr": name,
                    "extra_field": 0,
                    "frag_mid": k * RES + RES // 2,
                    "marginal_count": np.where(bad < 0.01, 0, rng.integers(1, 500, nbins)),
                    "mappable": np.where((bad >= 0.01) & (bad < 0.02), 0.0, 1.0),
                }
            )
        )
        has_bias = rng.random(nbins) < 0.9
        biases.append(
            pd.DataFrame(
                {
                    "chr": name,
                    "mid": k[has_bias] * RES + RES // 2,
                    "bias": np.round(rng.uniform(0.3, 2.7, has_bias.sum()), 6),
                }
            )
        )
    # raw draws repeat pairs: the file carries duplicates, which the
    # pipeline canonicalises and sums
    return pd.concat(contacts), pd.concat(frags), pd.concat(biases)


def write_inputs(out_dir: str, contacts, frags, biases) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, df in (("contacts", contacts), ("fragments", frags), ("biases", biases)):
        path = os.path.join(out_dir, f"{name}.tsv.gz")
        df.to_csv(path, sep="\t", header=False, index=False, compression="gzip")
        paths[name] = path
    return paths


def expected(contacts, frags, biases, passes: int, n_bins: int) -> pd.DataFrame:
    """Significances by the pandas reference dataflow, sorted by key."""
    from pandas_ref import run_significance_pandas

    bad = frags[(frags["mappable"] <= 0) | (frags["marginal_count"] <= 0)]
    bad_keys = set(zip(bad["chr"], bad["frag_mid"]))
    c = contacts.groupby(["chr1", "mid1", "chr2", "mid2"], as_index=False)[
        "contact_count"
    ].sum()
    touches_bad = [
        (a, b) in bad_keys or (x, y) in bad_keys
        for a, b, x, y in zip(c["chr1"], c["mid1"], c["chr2"], c["mid2"])
    ]
    c = c[~np.asarray(touches_bad, dtype=bool)]
    # census: surviving fragment pairs per lag, summed over chromosomes
    possible: dict[int, int] = {}
    good = frags[~frags.set_index(["chr", "frag_mid"]).index.isin(list(bad_keys))]
    for _, g in good.groupby("chr"):
        occ = np.zeros(int(g["frag_mid"].max()) // RES + 1, dtype=np.int64)
        occ[(g["frag_mid"].to_numpy() // RES)] = 1
        for lag in range(1, occ.size):
            n = int(np.dot(occ[:-lag], occ[lag:]))
            if n:
                possible[lag * RES] = possible.get(lag * RES, 0) + n
    want = run_significance_pandas(
        c,
        biases,
        n_bins=n_bins,
        passes=passes,
        possible_override=pd.Series(possible).sort_index(),
    )
    return want.sort_values(KEY_COLS[:4], ignore_index=True)


def key_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of the exact (integer and string) columns."""
    rows = sorted(
        "\t".join(str(v) for v in row)
        for row in df[KEY_COLS].itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def count_tsv_gz_rows(path: str) -> int:
    n = 0
    for name in sorted(os.listdir(path)):
        if name.startswith("part-") and name.endswith(".gz"):
            with gzip.open(os.path.join(path, name), "rb") as fh:
                n += sum(1 for _ in fh)
    return n


def check_output(out_dir: str, want: pd.DataFrame, want_digest: str, n: int, q05: int) -> str | None:
    """None when the written significances match the expectation, else
    a one-line reason."""
    got = pd.read_parquet(os.path.join(out_dir, "significances.parquet"))
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if key_digest(got) != want_digest:
        return "key digest mismatch"
    got = got.sort_values(KEY_COLS[:4], ignore_index=True)
    for col in FLOAT_COLS:
        if not np.allclose(got[col], want[col], rtol=1e-9, atol=1e-300):
            return f"{col} differs from the pandas reference"
    if n != len(want):
        return f"CLI row count {n} != {len(want)}"
    if q05 != int((want["q_value"] < 0.05).sum()):
        return f"CLI q<0.05 count {q05} != {int((want['q_value'] < 0.05).sum())}"
    tsv_rows = count_tsv_gz_rows(os.path.join(out_dir, "significances.tsv.gz"))
    if tsv_rows != len(want):
        return f"gz TSV rows {tsv_rows} != {len(want)}"
    return None
