"""Projection / filter / join / set-op builders (SURVEY.md §2.2, 2.3,
2.6, 2.7).

These are thin, composable wrappers over the DataFrame API: every
function returns a lazy DataFrame so Catalyst sees the whole plan and
can push filters into scans, prune columns, and pick join strategies.
Scale notes are attached per function — the 100 TB behavior is the
design target, local[32] is just the test rig.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --- Hi-C projections / filters ----------------------------------------


def canonicalize_pairs(contacts: DataFrame) -> DataFrame:
    """Order endpoints so (chr1,mid1) <= (chr2,mid2) and sum duplicates.

    Reference canonicalizes pairs on load and sums duplicate rows
    [P `fithic.py::read_All_Interactions`, SC-6].  Narrow per-row
    expressions (least/greatest via a struct comparison) followed by a
    single keyed aggregation — the one shuffle this op needs.
    """
    s1 = F.struct(F.col("chr1"), F.col("mid1"))
    s2 = F.struct(F.col("chr2"), F.col("mid2"))
    swap = s1 > s2
    out = contacts.select(
        F.when(swap, F.col("chr2")).otherwise(F.col("chr1")).alias("chr1"),
        F.when(swap, F.col("mid2")).otherwise(F.col("mid1")).alias("mid1"),
        F.when(swap, F.col("chr1")).otherwise(F.col("chr2")).alias("chr2"),
        F.when(swap, F.col("mid1")).otherwise(F.col("mid2")).alias("mid2"),
        F.col("contact_count"),
    )
    return out.groupBy("chr1", "mid1", "chr2", "mid2").agg(
        F.sum("contact_count").alias("contact_count")
    )


def with_distance(contacts: DataFrame, col_name: str = "dist") -> DataFrame:
    """Genomic distance |mid2-mid1| (canonical pairs: mid2>=mid1 intra)."""
    return contacts.withColumn(
        col_name, F.abs(F.col("mid2") - F.col("mid1")).cast("long")
    )


def snap_to_grid(pos: Column, res: int) -> Column:
    """Snap a coordinate to its bin midpoint: (pos // res)*res + res//2.

    Reference grid convention [P].  Implemented as floor of a double
    division so the same expression text is valid for the SQL oracle.
    """
    return (
        F.floor(pos / F.lit(res)).cast("long") * F.lit(res) + F.lit(res // 2)
    ).cast("long")


def filter_distance_range(
    contacts: DataFrame, lo: int, hi: int, dist_col: str = "dist"
) -> DataFrame:
    """In-range predicate distLow <= d <= distUp
    [P `fithic.py::in_range_check`]; plain Catalyst filter → pushdown."""
    return contacts.filter(F.col(dist_col).between(lo, hi))


def filter_contact_type(contacts: DataFrame, contact_type: str) -> DataFrame:
    """intraOnly / interOnly / All [P `fithic.py::main` contactType]."""
    if contact_type == "intraOnly":
        return contacts.filter(F.col("chr1") == F.col("chr2"))
    if contact_type == "interOnly":
        return contacts.filter(F.col("chr1") != F.col("chr2"))
    return contacts


def remove_bad_fragments(contacts: DataFrame, bad_frags: DataFrame) -> DataFrame:
    """Drop contacts touching a bad (low-mappability / zero-marginal)
    fragment [P `fithic.py::generate_FragPairs` badFrags].

    Two left-anti joins, one per endpoint.  The bad set is tiny relative
    to contacts (it is a per-locus table), so both anti-joins broadcast —
    no shuffle of the 100 TB fact side.
    """
    bad = F.broadcast(bad_frags.select("chr", "mid").distinct())
    out = contacts.join(
        bad,
        (contacts["chr1"] == bad["chr"]) & (contacts["mid1"] == bad["mid"]),
        "left_anti",
    )
    return out.join(
        bad,
        (out["chr2"] == bad["chr"]) & (out["mid2"] == bad["mid"]),
        "left_anti",
    )


# --- joins ---------------------------------------------------------------


def attach_biases(
    contacts: DataFrame, biases: DataFrame, default: float = 1.0
) -> DataFrame:
    """contacts ⋈ biases ×2 endpoints, left outer; missing bias (no row,
    null or NaN) → default [P `fithic.py::read_biases` consumers].
    Broadcast joins (bias table is per-locus).

    The bias table is keyed (chr, mid) — loci on different chromosomes
    share midpoint coordinates, so each endpoint joins on BOTH columns
    (a mid-only join would multiply rows and attach wrong-chromosome
    biases on any multi-chromosome genome)."""
    b1 = F.broadcast(
        biases.select(
            F.col("chr").alias("chr1"),
            F.col("mid").alias("mid1"),
            F.col("bias").alias("_b1"),
        )
    )
    b2 = F.broadcast(
        biases.select(
            F.col("chr").alias("chr2"),
            F.col("mid").alias("mid2"),
            F.col("bias").alias("_b2"),
        )
    )
    d = F.lit(float(default))
    return (
        contacts.join(b1, ["chr1", "mid1"], "left")
        .join(b2, ["chr2", "mid2"], "left")
        .withColumn("bias1", F.coalesce(F.nanvl("_b1", d), d))
        .withColumn("bias2", F.coalesce(F.nanvl("_b2", d), d))
        .drop("_b1", "_b2")
    )


def interval_join(
    df: DataFrame,
    boundaries: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Map a value into an interval table: lo <= v < hi.

    The reference's np.searchsorted over spline/bin boundaries [P].  The
    boundary table is tiny (≤ a few hundred rows) so Catalyst plans a
    BroadcastNestedLoopJoin — O(rows × boundaries) comparisons, fine
    because boundaries is bounded; at scale prefer
    :func:`pfithic_spark.stats.interp_udf` for dense curves.
    """
    return df.join(
        F.broadcast(boundaries),
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col)),
        "inner",
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_on: Column,
    right_on: Column,
    left_ts: Column,
    right_ts: Column,
    right_cols: list[str],
    tiebreak: Column,
) -> DataFrame:
    """Nearest-preceding match (as-of join) — EXT, Spark has no native op.

    Implemented as equi-join on the key + range predicate, then
    row_number over (ts desc, tiebreak desc) keeping rank 1.  At 100 TB
    prefer bucketing both sides on the key so the equi-join co-locates;
    the window partitions by a synthetic unique left row id so state
    stays bounded AND duplicate left rows each keep their own match
    (partitioning by the left columns would collapse identical rows
    into one window and emit a single survivor).
    """
    from pyspark.sql import Window as W

    tagged = left.withColumn("_lrow", F.monotonically_increasing_id())
    j = tagged.join(right, (left_on == right_on) & (right_ts <= left_ts), "inner")
    w = W.partitionBy("_lrow").orderBy(right_ts.desc(), tiebreak.desc())
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_lrow")
    )


# --- sorts / set ops ------------------------------------------------------


def topn(df: DataFrame, order_cols: list[Column], n: int) -> DataFrame:
    """orderBy + limit → Catalyst plans TakeOrderedAndProject (per-
    partition top-N then merge on driver; no global sort shuffle)."""
    return df.orderBy(*order_cols).limit(n)


def asof_join_grouped(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_us: str,
    right_us: str,
    right_value_cols: list[str],
    out_schema: str,
    left_cols: list[str] | None = None,
    tolerance_us: int | None = None,
) -> DataFrame:
    """Scalable as-of join: cogroup both sides on the key and run a
    per-group sorted merge (pd.merge_asof) — linear in group size,
    versus the quadratic equi+range-join form in :func:`asof_join`.

    Both sides shuffle once on the key; within a group the merge is a
    single sorted pass.  Tie semantics: among equal right timestamps the
    LAST row in (ts, natural) sort order wins — sort the right side so
    that matches the intended tie-break (e.g. max order key).

    ``tolerance_us``: optional max staleness — a preceding right row
    further back than this is NOT a match (the row drops under the
    inner-join semantics).  Freshness bounds are the norm in feature
    joins: an hours-stale reading is usually worse than none.
    """
    import pandas as pd

    left_cols = left_cols or [c for c in left.columns if c != key]
    sort_right = [right_us] + right_value_cols
    # prune right groups with no left partner — otherwise every orphan
    # right key still costs an (empty) Python group call
    right = right.join(F.broadcast(left.select(key).distinct()), key, "left_semi")

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if len(l) == 0 or len(r) == 0:
            cols = left_cols + right_value_cols
            return pd.DataFrame({c: [] for c in cols})
        l = l.sort_values(left_us, kind="mergesort")
        r = r.sort_values(sort_right, kind="mergesort")
        m = pd.merge_asof(
            l,
            r[[right_us] + right_value_cols],
            left_on=left_us,
            right_on=right_us,
            direction="backward",
            allow_exact_matches=True,
            tolerance=tolerance_us,
        )
        m = m.dropna(subset=[right_value_cols[0]])  # inner semantics
        return m[left_cols + right_value_cols]

    return (
        left.groupBy(key)
        .cogroup(right.groupBy(key))
        .applyInPandas(merge, schema=out_schema)
    )


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    lo1: str = "lo1",
    hi1: str = "hi1",
    lo2: str = "lo2",
    hi2: str = "hi2",
    band: int = 1,
) -> DataFrame:
    """Interval OVERLAP join (range × range): every (left, right) pair
    with ``max(lo1, lo2) <= min(hi1, hi2)`` — closed intervals, the
    genomic-overlap convention.

    100 TB design — banding instead of a cross join: each interval
    explodes into the ``band``-wide buckets it touches, the join is an
    EQUI-join on the bucket key (shuffle on ints, never a nested loop),
    and a pair spanning several shared buckets is emitted EXACTLY once
    without any distinct(): only the bucket containing
    ``max(lo1, lo2)`` — the overlap's left edge, which both sides are
    guaranteed to have emitted — reports the pair.  Pick ``band`` near
    the typical interval length: candidate fan-out per interval is
    length/band + 1, per-bucket population is what shuffles.
    """
    b = int(band)

    def bucketed(df: DataFrame, lo: str, hi: str) -> DataFrame:
        nb = (F.col(hi) / b).cast("long") - (F.col(lo) / b).cast("long") + 1
        return df.withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    (F.col(lo) / b).cast("long"), (F.col(lo) / b).cast("long") + nb - 1
                )
            ),
        )

    a = bucketed(left, lo1, hi1).alias("a")
    c = bucketed(right, lo2, hi2).alias("c")
    start = F.greatest(F.col(f"a.{lo1}"), F.col(f"c.{lo2}"))
    cond = (
        (F.col("a._bkt") == F.col("c._bkt"))
        & (start <= F.least(F.col(f"a.{hi1}"), F.col(f"c.{hi2}")))
        & ((start / b).cast("long") == F.col("a._bkt"))  # report-once
    )
    return a.join(c, cond).drop("_bkt")


# --- bloom pre-filtered semi join ----------------------------------------


def bloom_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 65536,
    k: int = 4,
) -> DataFrame:
    """Semi join with a driver-built Bloom pre-filter on the fact side.

    Two passes: (1) aggregate the dim keys into an m-bit Bloom filter —
    k xxhash64 lanes, OR-folded into m/64 longs by a tiny JVM
    ``bit_or`` agg, collected driver-side (m=65536 → 8 KB, bounded at
    any dim size); (2) filter the fact with the bloom as a FOLDED
    literal array (Catalyst constant-folds the CreateArray of
    literals, so the probe is just shifts/ands in codegen), then run
    the real semi join to remove false positives.

    Result is EXACTLY the plain semi join — the bloom only prunes how
    many fact rows reach the join's shuffle.  At 100 TB this is the
    standard runtime-filter pattern (Spark's AQE injects the same shape
    as InSubqueryExec/bloom runtime filters when statistics allow;
    building it explicitly makes the lever available when they don't —
    e.g. a dim produced mid-pipeline with no stats).

    NULL fact keys hash to a defined lane (xxhash64(NULL) is a fixed
    seed-dependent value) but can never match a non-null dim key in the
    final semi join, so they are safely prunable either way.
    """
    assert m_bits & (m_bits - 1) == 0, "m_bits must be a power of two"
    n_words = m_bits // 64
    # xxhash64 is TYPE-sensitive: hashing an int32 dim key and an int64
    # fact key yields disjoint lanes and the bloom would prune every
    # true match (the semi join can only remove false positives, never
    # resurrect pruned rows).  Cast the dim keys to the fact column's
    # exact type before hashing so both sides hash identical values.
    fact_type = dict(fact.dtypes)[fact_key]
    d = dim_keys.select(
        F.col(dim_key).cast(fact_type).alias("_k")
    ).where(F.col("_k").isNotNull())
    lanes = F.explode(
        F.array(*[F.xxhash64(F.lit(i), F.col("_k")) for i in range(k)])
    ).alias("_h")
    pos = d.select(lanes).select(
        (F.col("_h").bitwiseAND(F.lit(m_bits - 1))).alias("_p")
    )
    # SQL shiftleft/shiftrightunsigned accept COLUMN shift amounts
    # (the pyspark.sql.functions forms require literals)
    words_rows = (
        pos.selectExpr(
            "_p DIV 64 AS _w",
            "shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT)) AS _b",
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_bits"))
        .collect()
    )
    words = [0] * n_words
    for r in words_rows:
        words[int(r["_w"])] = int(r["_bits"])
    fk = F.col(fact_key)
    staged = fact.withColumn("_bloom", F.lit(words))  # foldable literal
    for i in range(k):
        staged = staged.withColumn(
            f"_h{i}", F.xxhash64(F.lit(i), fk).bitwiseAND(F.lit(m_bits - 1))
        )
    cond = " AND ".join(
        f"((shiftrightunsigned(element_at(_bloom, CAST(_h{i} DIV 64 AS INT)"
        f" + 1), CAST(_h{i} % 64 AS INT)) & 1) = 1)"
        for i in range(k)
    )
    pruned = staged.where(F.expr(cond)).drop(
        "_bloom", *[f"_h{i}" for i in range(k)]
    )
    return pruned.join(
        dim_keys.select(
            F.col(dim_key).cast(fact_type).alias(fact_key)
        ).distinct(),
        fact_key,
        "left_semi",
    )


def cooccurrence_pairs(
    df: DataFrame,
    group_col: str,
    item_col: str,
    basket_cap: int = 1024,
    chunk: int = 256,
) -> DataFrame:
    """All unordered co-occurrence pairs ``(a, b)`` with ``a < b`` of
    DISTINCT items sharing a group — the edge generator for
    co-purchase / co-click graphs (emits one row per (group, pair);
    callers dedup across groups with ``.distinct()`` after any
    pair-level filter they want pushed first).

    Hot-basket-safe AND single-chain (r5: the first cut branched the
    basket aggregate into a small-basket and a blocked-join path,
    which re-executed the groupBy once per branch — up to 8 scans in a
    degree-distribution consumer).  Every basket expands through the
    SAME chunked-cell pipeline:

    - the sorted distinct item array is cut into cells of width
      ``chunk`` (one cell for the whole basket when size ≤
      ``basket_cap`` — the common case pays no chunking overhead);
    - each basket row explodes into its (ci ≤ cj) CELL PAIRS — one
      output row per cell pair, so a B-item hot basket becomes
      (B/chunk)²/2 independent rows instead of one row materializing
      B²/2 structs;
    - per cell-pair row, a narrow nested transform emits the pairs:
      i<j within a diagonal cell, full cross product between distinct
      cells (items are globally sorted, so a < b always).

    Per-row memory is O(chunk²) structs — bounded by construction —
    and the plan is one scan → one map-side-combined aggregate → two
    narrow generates: no self-join, no second aggregate execution.
    Work still totals B²/2 pairs (inherent), but it spreads across
    cell-pair rows that Spark distributes and streams."""
    groups = df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("ps")
    ).filter(
        # <2 distinct items ⇒ no pairs; also guards the cell sequence
        # against empty baskets (all-null item groups), whose
        # sequence(0, -1) would DESCEND and feed slice a 0 start
        F.size("ps") >= 2
    )
    # cell width: whole basket when small, ``chunk`` when hot
    cells = groups.select(
        F.col(group_col),
        F.col("ps"),
        F.when(F.size("ps") <= basket_cap, F.size("ps"))
        .otherwise(F.lit(chunk))
        .alias("w"),
    ).select(
        group_col,
        "ps",
        "w",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("ps") / F.col("w")).cast("int") - 1,
                    ),
                    lambda ci: F.transform(
                        F.sequence(
                            ci,
                            F.ceil(F.size(F.col("ps")) / F.col("w")).cast(
                                "int"
                            )
                            - 1,
                        ),
                        lambda cj: F.struct(
                            ci.alias("ci"), cj.alias("cj")
                        ),
                    ),
                )
            )
        ).alias("cell"),
    )
    # Project the two cell SLICES and drop ``ps`` before any explode:
    # cell-pair rows carry only 2·chunk items, not the full hot-basket
    # array.  Then expand with TWO stacked Generate operators (explode
    # is whole-stage-codegen'd) rather than nested higher-order
    # transform lambdas, which Spark evaluates INTERPRETED per element
    # — measured 6× slower at a 20k-item basket's 2·10⁸ pairs.
    sliced = cells.select(
        F.col(group_col),
        F.col("cell"),
        (F.col("cell.ci") == F.col("cell.cj")).alias("diag"),
        F.slice(
            F.col("ps"), F.col("cell.ci") * F.col("w") + 1, F.col("w")
        ).alias("si"),
        F.slice(
            F.col("ps"), F.col("cell.cj") * F.col("w") + 1, F.col("w")
        ).alias("sj"),
    )
    # SPREAD the quadratic work: the chain so far is narrow, so all of
    # a hot basket's (B/chunk)²/2 cell-pair rows would otherwise expand
    # inside the single task holding its aggregated row — bounded
    # memory but a straggler.  Repartitioning the SLICED rows (each
    # carries only 2·chunk items, never the full basket) hashes cell
    # pairs across the cluster; the common small-basket case moves one
    # ~100-byte row per group.
    sliced = sliced.repartition(group_col, "cell")
    lefts = sliced.select(
        "diag", "sj", F.posexplode("si").alias("i", "a")
    )
    # diagonal cell: partners strictly after position i within the
    # (identical) slice; cross cell: every partner in sj.  Items are
    # globally sorted, so a < b in both cases.
    partners = F.when(
        F.col("diag"),
        F.slice(
            F.col("sj"),
            F.col("i") + 2,
            F.greatest(F.size("sj") - F.col("i") - 1, F.lit(0)),
        ),
    ).otherwise(F.col("sj"))
    return lefts.select("a", F.explode(partners).alias("b"))
