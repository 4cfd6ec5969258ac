"""CLI — mirrors the reference's command surface
(``python -m pfithic -i contacts.gz -f fragments.gz -o out -r 5000
[-t biases.gz] [-p 2] [-b 100] [-x contactType] [-L lo] [-U hi]``):

    python -m pfithic_spark -i contacts.tsv.gz -o outdir -r 5000 \
        [-f fragments.tsv] [-t biases.tsv.gz] [-p passes] [-b bins] \
        [-x intraOnly|interOnly|All] [-L distLow] [-U distUp]
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser(prog="pfithic_spark", description=__doc__)
    ap.add_argument("-i", "--interactions", required=True)
    ap.add_argument("-f", "--fragments", default=None)
    ap.add_argument("-t", "--biases", default=None)
    ap.add_argument("-o", "--outdir", required=True)
    ap.add_argument("-r", "--resolution", type=int, default=5000)
    ap.add_argument("-b", "--bins", type=int, default=100)
    ap.add_argument("-p", "--passes", type=int, default=1)
    ap.add_argument(
        "-x", "--contact-type", default="intraOnly",
        choices=["intraOnly", "interOnly", "All"],
    )
    ap.add_argument("-L", "--dist-low", type=int, default=0)
    ap.add_argument("-U", "--dist-up", type=int, default=2**62)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from .api import run_pipeline_files
    from .hic import SigConfig
    from .session import get_spark

    spark = get_spark(app="pfithic-spark-cli")
    cfg = SigConfig(
        resolution=args.resolution,
        dist_lo=args.dist_low,
        dist_hi=args.dist_up,
        n_bins=args.bins,
        passes=args.passes,
        contact_type=args.contact_type,
    )
    sig = run_pipeline_files(
        spark,
        args.interactions,
        args.fragments,
        args.biases,
        args.outdir,
        cfg,
    )
    n, q05 = sig.agg(
        F.count(F.lit(1)), F.count(F.when(F.col("q_value") < 0.05, 1))
    ).collect()[0]
    print(f"scored {n} contacts → {args.outdir} ({q05} with q<0.05)")
    spark.stop()


if __name__ == "__main__":
    main()
