"""Regenerate PLANS.md: formatted physical plans for representative
query keys with scale commentary; or dump chosen keys' plans to files.

Usage:
  python tools/dump_plans.py [sf_dir]
      rewrite PLANS.md from the PICKS below
  python tools/dump_plans.py [sf_dir] --keys K [K ...] --out DIR --suffix S
      write each key's full `.explain("formatted")` plan to
      DIR/<key>_<S>.txt (e.g. S = "before" / "after" around a change)

sf_dir defaults to testdata/sf0.01 beside the repository: plan shape does
not depend on the scale, and a small one keeps the eager construction
probes cheap.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PICKS = {
    "q_corr_matrix": (
        "One-pass correlation matrix: all pairwise DECIMAL sufficient "
        "sums from ONE scan/aggregate, stack() fans the single stat "
        "row into pair rows on the same branch (a per-pair union "
        "would rescan lineitem d(d-1)/2 times)."
    ),
    "q_sample_reservoir": (
        "Deterministic reservoir sample: TakeOrderedAndProject "
        "(per-partition k-heaps), never a global sort."
    ),
    "q_referential_orphans": (
        "Referential audit: LEFT ANTI joins with broadcast dimension "
        "sides; fact tables never shuffle."
    ),
    "q_dedup_sorted_neighborhood": (
        "Sorted-neighborhood dedup: source-PARTITIONED window (local "
        "sorts only), lead()x2 candidates, JVM array_intersect "
        "scoring."
    ),
    "q_star_agg": (
        "Star-schema rollup: ONE fact-fact shuffle (lineitem><orders "
        "on orderkey); the customer/nation/region dimension chain is "
        "all BroadcastHashJoin — zero extra exchanges; revenue is an "
        "exact-integer-unit sum pushed into the map-side combine."
    ),
    "q_dedup_lsh_cosine": (
        "Random-hyperplane LSH near-dup: Walsh-plane signature build "
        "is one posexplode + ONE groupBy of exact-integer conditional "
        "sums (order-free signs); band-keyed equi-joins bound the "
        "candidate space; exact zip_with cosine verifies only "
        "candidates."
    ),
    "q_dedup_substring": (
        "Substring-span dedup: gram build is posexplode + lead "
        "windows (whole-stage codegen, no Python anywhere); only "
        "16-byte md5 hashes shuffle; the cross-doc flag is a "
        "map-side-combinable min/max per hash (no posting lists); "
        "span merge is a per-doc bounded gaps-and-islands window."
    ),
    "q_agg_group": (
        "Flagship grouped aggregation: note the partial/final "
        "HashAggregate pair around a single hash Exchange, and the "
        "decimal sums inside codegen."
    ),
    "q_join_broadcast": "Dim×fact join: BroadcastHashJoin, fact side never shuffles.",
    "q_filter_in": (
        "Predicate pushdown: PushedFilters reaches the parquet scan; "
        "ReadSchema pruned to used columns."
    ),
    "q_window_running": (
        "Two-phase global cumsum: per-_pid partitioned Window + broadcast "
        "prefix offsets — no single-partition window over the data."
    ),
    "q_sort_limit": "Top-N: TakeOrderedAndProject, no global sort.",
    "q_topk_per_group": "Per-group top-k: WindowGroupLimit prunes before the window sort.",
    "q_join_range": (
        "Interval join against a tiny boundary table: "
        "BroadcastNestedLoopJoin (safe: bounded build side)."
    ),
    "q_dedup_exact": (
        "Dedup on md5(normalized text): the exchange carries 16-byte "
        "keys, not documents."
    ),
    "q_multimodal_frames": (
        "Multimodal frame sampling: scan → project → MapInPandas with "
        "no Exchange — the per-frame fan-out happens inside the Arrow "
        "batch, so a 100 TB corpus streams through as a narrow pipeline."
    ),
    "q_join_outer": (
        "Full outer join: the orders side pre-aggregates to per-key "
        "rows before the join, so the join input is bounded by key "
        "cardinality, not fact rows."
    ),
    "q_possible_pairs_frag": (
        "Fragment-mode possible-pair census: banded self-join — each "
        "fragment probes only the two dist_hi-wide buckets that can "
        "hold in-range partners, never a per-chromosome cross product."
    ),
    "q_sim_ivf": (
        "Full IVF scale path (r3): trained sample-and-numpy centroids, "
        "cell-partitioned on-disk index, probe scan shows "
        "PartitionFilters on the cell key — only probed cells' files "
        "are read (test_plans.py::test_ivf_index_probe_partition_pruning)."
    ),
    "q_dedup_clusters": (
        "Near-dup connected components (r3): ONE min-label propagation "
        "round shown — join on the edge key + partial/final min "
        "HashAggregate; lineage is localCheckpoint-truncated per round "
        "so the plan stays this size at any iteration count."
    ),
    "q_cap_per_group": (
        "Per-source document cap: WindowGroupLimit keeps only k rows "
        "per group ahead of the window sort — the reproducible "
        "training-data downsampler."
    ),
    "q_pack_sequences": (
        "Sequence packing: the running-token window partitions by "
        "(source, hash-shard) — no SinglePartition exchange anywhere, "
        "so a giant source cannot serialize onto one task."
    ),
    "q_mix_sources": (
        "Source rebalancing: the per-source rate dimension broadcasts "
        "back onto the corpus (BroadcastHashJoin); the only hash "
        "exchange carries per-source counts, never corpus rows."
    ),
    "q_dedup_ngram_global": (
        "Unblocked near-dup with the max_df hot-shingle cap: the df "
        "filter prunes candidate generation BEFORE the inverted-index "
        "self-join — the 100 TB skew lever, oracle-validated."
    ),
    "q_profile_columns": (
        "One-scan column profiling: a single parquet scan feeds one "
        "aggregate; the Expand (×7: six exact COUNT DISTINCTs + the "
        "plain aggs) applies AFTER projection down to the profiled "
        "columns, and stack unpivots the 1×N summary row driver-free."
    ),
    "q_join_skew_salted": (
        "Manual hot-key salting: ShuffledHashJoin on (user_id, salt) "
        "with the dim exploded ×8 — each hot key spreads over 8 "
        "reducers; the plain-join oracle proves the rewrite is purely "
        "physical."
    ),
    "q_pagerank": (
        "Iterative PageRank, 5 unrolled rounds: the symmetrized edge "
        "list and degree dim persist once (InMemoryTableScan per "
        "round), node-sized shares broadcast on small graphs, and the "
        "groupBy(dst) exchange carries only map-side partial sums — "
        "node-sized traffic per iteration, integer rank mass bit-exact "
        "under any partition order.  (Plan shown is the LAZY dataflow; "
        "the registered key checkpoints it eagerly and unpersists the "
        "loop invariants.)"
    ),
    "q_join_bucketed": (
        "Bucketed co-located join: both scans read Bucketed: true with "
        "SelectedBucketsCount 8/8 and feed the SortMergeJoin with NO "
        "Exchange on either input — the only shuffle left is the final "
        "aggregation's.  Pay the bucketing shuffle once at ingest; "
        "every later join on the key is exchange-free."
    ),
    "q_embedding_quantize": (
        "int8 quantization report: a single narrow Project over the "
        "embeddings scan — transform/zip_with/aggregate lambdas all "
        "inside codegen, zero exchanges, no Python."
    ),
    "q_join_bloom": (
        "Bloom pre-filtered semi join: the xxhash64 probe over the "
        "constant-folded 8 KB literal word array sits in a Filter "
        "directly on the fact scan — rows are pruned BEFORE the semi "
        "join's exchange; the join then removes false positives, so "
        "the result is exactly the plain semi join."
    ),
    "q_sessionize": (
        "Gap sessionization: BOTH windows (lag gap flag, running-sum "
        "ordinal) and the (user_id, sess) groupBy ride ONE "
        "hashpartitioning(user_id) Exchange — hashpartitioning on a "
        "subset of the grouping keys satisfies the clustering, so no "
        "second shuffle appears."
    ),
    "q_chunk_documents": (
        "Sliding-window chunking: sequence + posexplode + substring + "
        "md5 — one narrow codegen pipeline over the scan, zero "
        "exchanges, zero Python; chunks are emitted at scan speed on "
        "the partition that read the document."
    ),
    "q_bm25": (
        "BM25: the corpus token stream is filtered through a "
        "BroadcastHashJoin against the 3-term query set BEFORE any "
        "aggregation exchange; df/N/avg_dl come back as broadcasts. "
        "Nothing corpus-sized shuffles twice, no Python."
    ),
    "q_pca": (
        "PCA projection (the returned DataFrame): a narrow zip_with/"
        "aggregate fold over the embeddings scan — zero exchanges. "
        "The covariance pass that BUILT the components ran as a "
        "mapInPandas sufficient-stats aggregation (d(d+1)/2 keys), "
        "driver Jacobi eigensolve on the 64x64 result."
    ),
    "q_heavy_hitters": (
        "Two-pass exact heavy hitters: the exact verify pass is a "
        "BroadcastHashJoin of the bounded candidate set onto the "
        "token stream — the unbounded long-tail vocabulary never "
        "shuffles; only candidate tokens reach the count exchange."
    ),
    "q_quantile_sketch": (
        "Rank-stratified mergeable quantile summary (round 9): the "
        "global rank is the two-phase _pid bucket machinery (frozen "
        "quantile-boundary literals, broadcast prefix offsets — "
        "never a one-task sort); step selection and both "
        "order-statistic probes are broadcast-grid equality joins "
        "riding the ranked stream."
    ),
    "q_er_clusters": (
        "Entity resolution read side (round 9): candidate links come "
        "from the (nation, segment) block equi-join with the rn <= "
        "100 cap BELOW the self-join; connected components run on "
        "the bounded edge set (driver union-find fast path at this "
        "scale; pointer-jumping loop beyond the threshold)."
    ),
    "q_energy_distance": (
        "Exact two-sample energy distance (round 9): ONE orders scan "
        "to the merged value-grain spine, prefix sums via window, "
        "per-term 2^21 hi/lo splits keep every int64 sum in budget, "
        "scalar census — never the O(n^2) pair set."
    ),
    "q_rrf_fusion": (
        "Reciprocal-rank fusion (round 9): BOTH global rankings run "
        "the two-phase _pid machinery; fusion scores are exact "
        "integer reciprocal micro-units; TakeOrderedAndProject "
        "top-20."
    ),
    "q_minhash_signature_index": (
        "MinHash band-index write path (round 10): ONE documents "
        "scan, ZERO exchanges — per-doc minima are array_min over "
        "transform (no explode, no groupBy), band rows explode via "
        "Generate; the whole plan is one WholeStageCodegen span over "
        "the scan."
    ),
    "q_lift_deciles": (
        "Decile lift table (round 10 fix): the customer-grain global "
        "rank rides scalable_rank (_pid windows + broadcast prefix "
        "offsets); deciles derive arithmetically (10*rk-1) div n — "
        "the round-9 one-task NTILE is gone; margins ride the 10-row "
        "decile table."
    ),
    "q_ivf_assignment": (
        "IVF assignment write path (round 10): vectors cross a "
        "broadcast 16-row codebook (bounded 16x expansion, never "
        "vector x vector); argmin is a WindowGroupLimit rank-1 "
        "prune; distances are exact micro-quantized int64."
    ),
    "q_stratified_conformal": (
        "Per-segment conformal q-hat: residual rank rides "
        "scalable_part_rank ((segment, _pid) windows); 5-row "
        "stats/q-hat frames broadcast back; residuals exact via "
        "n-scaling."
    ),
}


def plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_keys(spark, queries, sf: str, keys: list[str], out: str, suffix: str) -> None:
    os.makedirs(out, exist_ok=True)
    for key in keys:
        txt = plan(queries[key](spark, sf))
        with open(os.path.join(out, f"{key}_{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(f"wrote {key}_{suffix}.txt ({len(txt.splitlines())} lines)")


def write_plans_md(spark, queries, sf: str) -> None:
    out = [
        "# PLANS — representative physical plans (sf0.01, local[8], AQE on)",
        "",
        "Generated by `python tools/dump_plans.py`. Each plan is what",
        "`tests/test_plans.py` pins structurally; commentary notes the",
        "property that matters at 100 TB.",
        "",
    ]
    for key, note in PICKS.items():
        if key == "q_pagerank":
            # the registered key eagerly checkpoints (its returned plan
            # is just a checkpoint scan); show the lazy dataflow
            from pfithic_spark.registry import pagerank_lazy

            df, invariants = pagerank_lazy(spark, sf)
            tree = plan(df).split("\n\n")[0]
            for inv in invariants:
                inv.unpersist()
        else:
            tree = plan(queries[key](spark, sf)).split("\n\n")[0]
        lines = tree.split("\n")
        if len(lines) > 120:
            # deep unrolled plans (e.g. iterative joins over an
            # InMemoryRelation, whose cached subtree reprints per read)
            # say everything structural in their first screens
            lines = lines[:120] + [f"... ({len(lines) - 120} more lines)"]
        out += [f"## {key}", "", note, "", "```", "\n".join(lines), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(PICKS)} plans)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default=os.path.join(os.path.dirname(REPO), "testdata", "sf0.01"),
    )
    ap.add_argument("--keys", nargs="+", metavar="K")
    ap.add_argument("--out", help="directory for --keys plan files")
    ap.add_argument("--suffix", help="file name suffix for --keys plan files")
    args = ap.parse_args()
    if args.keys and not (args.out and args.suffix):
        ap.error("--keys needs --out and --suffix")
    if not os.path.isdir(args.sf_dir):
        ap.error(
            f"no fixture directory at {args.sf_dir}; pass sf_dir, the "
            "directory holding the fixture parquet tables"
        )

    from pfithic_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app="dump-plans", cpus="8")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry.queries()
    if args.keys:
        dump_keys(spark, queries, args.sf_dir, args.keys, args.out, args.suffix)
    else:
        write_plans_md(spark, queries, args.sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
