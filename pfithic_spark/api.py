"""Library entry points (SURVEY.md §3.2) — the reference's three entry
points re-expressed over Spark DataFrames.

Entry 1 (CLI full run) lives in ``__main__.py`` and calls
:func:`run_pipeline_files`.  Entry 2 (library use) is the stage
functions themselves (hic.py / windows.py / stats.py).  Entry 3
(utilities) is :func:`pfithic_spark.hic.kr_biases` and
:func:`pfithic_spark.aggregates.marginal_counts`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import io as pio
from .hic import SigConfig, kr_biases, run_significance
from .relational import remove_bad_fragments


def bad_fragments(fragments: DataFrame) -> DataFrame:
    """badFrags: unmappable or zero-marginal loci
    (ref: generate_FragPairs filter)."""
    return fragments.filter(
        (F.coalesce(F.col("mappable"), F.lit(0.0)) <= 0.0)
        | (F.coalesce(F.col("marginal_count"), F.lit(0)) <= 0)
    ).select("chr", F.col("frag_mid").alias("mid"))


def run_pipeline_files(
    spark: SparkSession,
    contacts_path: str,
    fragments_path: str | None,
    biases_path: str | None,
    out_dir: str,
    cfg: SigConfig,
) -> DataFrame:
    """Reference CLI semantics: read TSV/gz inputs, run the multi-pass
    significance pipeline, write gz-TSV significances (+ parquet twin).

    The possible-pair census comes from the SURVIVING fragment set (bad
    fragments excluded) — the reference builds
    possibleIntraInRangeCount the same way [P generate_FragPairs], so
    unmappable / zero-marginal / unlisted loci never inflate BH's M or
    the per-bin denominators.  Works unchanged for fragment mode
    (cfg.resolution == 0, variable restriction-fragment midpoints).

    Returns the significances DataFrame, already written and persisted:
    the writes and any later actions on it read the cached table instead
    of re-running the final BH-FDR pass.  The pipeline's intermediate
    caches are released before returning; the caller owns the returned
    table and may ``unpersist()`` it when done."""
    contacts = pio.read_contacts_tsv(spark, contacts_path)
    biases = pio.read_biases_tsv(spark, biases_path) if biases_path else None

    if fragments_path:
        frags = pio.read_fragments_tsv(spark, fragments_path)
        bad = bad_fragments(frags)
        contacts = remove_bad_fragments(contacts, bad)
        # distinct: a duplicated fragment line must not double-count the
        # census (possible pairs, per-chr totals)
        good = (
            frags.select("chr", F.col("frag_mid").alias("mid"))
            .distinct()
            .join(F.broadcast(bad), ["chr", "mid"], "left_anti")
        )
    else:
        # census from the loci the contacts actually touch
        good = (
            contacts.select(F.col("chr1").alias("chr"), F.col("mid1").alias("mid"))
            .unionByName(
                contacts.select(
                    F.col("chr2").alias("chr"), F.col("mid2").alias("mid")
                )
            )
            .distinct()
        )

    bin_stats: list = []
    caches: list = []
    sig = run_significance(
        spark,
        contacts,
        biases=biases,
        cfg=cfg,
        fragments=good,
        bin_stats_out=bin_stats,
        caches_out=caches,
    ).persist()
    # the parquet twin fills sig's cache; the ordered TSV then sorts the
    # cached rows
    pio.write_parquet(sig, f"{out_dir}/significances.parquet")
    ordered = sig.orderBy("q_value", "p_value", "chr1", "mid1", "chr2", "mid2")
    pio.write_tsv_gz(ordered, f"{out_dir}/significances.tsv.gz")
    # sig's cache is fully loaded, so dropping the caches its lineage
    # reads leaves it in place
    for df in caches:
        df.unpersist()
    # per-pass bin-stats files (reference: {lib}.fithic_pass{n}.txt) —
    # already driver-side pandas (≤ n_bins rows per pass)
    import os

    os.makedirs(out_dir, exist_ok=True)
    for pass_no, pdf in bin_stats:
        pdf.to_csv(
            f"{out_dir}/bin_stats_pass{pass_no + 1}.txt.gz",
            sep="\t",
            index=False,
            compression="gzip",
        )
    return sig


def run_curation_files(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    min_quality: float = 0.6,
    jaccard_threshold: float = 0.2,
    target_tokens: int = 2048,
    max_df: int | None = None,
) -> dict:
    """End-to-end training-corpus curation (the EXT counterpart of
    :func:`run_pipeline_files`): documents parquet in → keep-list,
    curated corpus (source-partitioned), and packed training sequences
    out, plus a stats summary dict.

    Dataflow: llmops.curation_keep_list (quality ∩ exact-dedup ∩
    near-dup-cluster representatives; ids-only semi-joins) → one
    semi-join to materialize kept text → llmops.pack_sequences
    (per-(source, shard) greedy packing, no global window).  The corpus
    text crosses the wire exactly twice: the curated write and the
    packing shuffle.
    """
    import os

    from . import llmops

    docs = spark.read.parquet(docs_path)
    keep = llmops.curation_keep_list(
        docs,
        min_quality=min_quality,
        jaccard_threshold=jaccard_threshold,
        max_df=max_df,
    ).persist()
    kept_docs = docs.join(keep.select("doc_id"), "doc_id", "left_semi").persist()

    os.makedirs(out_dir, exist_ok=True)
    pio.write_parquet(keep, f"{out_dir}/keep_list.parquet")
    pio.write_parquet(
        kept_docs, f"{out_dir}/curated.parquet", partition_by=["source"]
    )
    seqs = llmops.pack_sequences(kept_docs, target_tokens=target_tokens)
    pio.write_parquet(seqs, f"{out_dir}/sequences.parquet")

    n_in = docs.count()
    n_kept = kept_docs.count()
    n_seqs = seqs.count()  # already one row per packed sequence
    keep.unpersist()
    kept_docs.unpersist()
    return {
        "n_input_docs": n_in,
        "n_kept_docs": n_kept,
        "keep_rate": round(n_kept / n_in, 4) if n_in else 0.0,
        "n_sequences": n_seqs,
        "out_dir": out_dir,
    }


def register_sql_functions(spark: SparkSession) -> None:
    """Register the engine's python-side numeric kernel as a
    SQL-callable function, so ``spark.sql`` users get the same scoring
    surface the DataFrame pipeline uses: ``binom_sf(k, n, p)`` =
    P(X >= k), X ~ Binomial(n, p) — the Fit-Hi-C p-value kernel,
    Arrow-vectorized (one python round trip per batch, never per row).

    The engine's other "functions" (knuth_hash, quality arithmetic,
    shingle pipelines) are pure Column expressions and stay JVM-side;
    SQL users reach them through the registered views/queries rather
    than a python UDF that would demote codegen arithmetic to the slow
    path.  Idempotent per session (re-registering overwrites).
    """
    from . import stats as st

    @F.pandas_udf("double")
    def _binom_sf(k: pd.Series, n: pd.Series, p: pd.Series) -> pd.Series:
        # propagate NULL as NULL, the SQL convention — a bare
        # to_numpy(float64) would turn nulls into NaN and leak them out
        # as real (non-null) NaN values past IS NULL filters
        null = k.isna() | n.isna() | p.isna()
        out = st.binom_sf_ge(
            k.fillna(0.0).to_numpy(dtype="float64"),
            n.fillna(0.0).to_numpy(dtype="float64"),
            p.fillna(0.0).to_numpy(dtype="float64"),
        )
        res = pd.array(out, dtype="Float64")
        res[null.to_numpy()] = pd.NA
        return pd.Series(res)

    spark.udf.register("binom_sf", _binom_sf)
