"""LLM-training-data pipeline operators (SURVEY.md §2.10 — EXT,
mandated by the north star): deduplication (exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding-cosine), similarity search, and text analysis.

Design for 100 TB:

- Exact dedup groups on a fixed-width hash of the normalized text, not
  the text itself — the shuffle moves 16-byte keys, not documents.
- MinHash/SimHash signatures are computed in Arrow pandas_udf batches
  (deterministic multiply-shift hashing — never Python ``hash()``,
  which is salted per process); LSH banding turns the O(n²) pair space
  into an equi-join on band keys.
- Cosine similarity keeps vectors as arrays end-to-end (zip_with fold;
  no per-dimension explode) and blocks the pair space (label/IVF cell)
  before the cross join; the small query side broadcasts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .session import persist_bounded

# --- normalization / fingerprints ---------------------------------------


def norm_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(c))


#: Knuth multiplicative constant (2^32 / φ, prime)
_KNUTH = 2_654_435_761
_KNUTH_MOD = 4_294_967_296


def knuth_hash(col: Column | str) -> Column:
    """Deterministic multiplicative hash in [0, 2^32), identical in
    Spark and DuckDB SQL (`((x % 2654435761) * 2654435761) %
    4294967296`).  The id is reduced mod the multiplier FIRST so the
    int64 product never exceeds 2654435760·2654435761 ≈ 7.0e18 < 2^63 —
    a raw `id * 2654435761` wraps negative past id ≈ 3.47e9, which a
    100 TB corpus reaches."""
    c = F.col(col) if isinstance(col, str) else col
    return ((c % F.lit(_KNUTH)) * F.lit(_KNUTH)) % F.lit(_KNUTH_MOD)


def heavy_hitter_candidates(
    toks: DataFrame, k: int, w_col: str = "w"
) -> tuple[list[str], int]:
    """Candidate φ-heavy-hitters (φ = 2/k) by a TWO-LEVEL Misra–Gries
    merge, with the driver-side collect provably bounded by k rows.

    Level 1 (mapInPandas, one pass): each Arrow batch emits an MG
    summary of capacity k — its top-k tokens with the (k+1)-th largest
    local count subtracted (the batched form of MG's decrement step).
    Per-token undercount ≤ n_batch/(k+1), since k+1 tokens each carry
    ≥ the subtracted value.  A (NULL, batch_len) row per batch
    accumulates the stream length n in the same pass.

    Level 2 (distributed): sum the summaries per token (MG summaries
    are mergeable — Agarwal et al., "Mergeability of Summaries",
    PODS'12), then apply the SAME decrement globally: find t = the
    (k+1)-th largest summed estimate via a top-(k+1) sort-limit
    (Spark plans TakeOrderedAndProject — per-partition heaps, no full
    sort), and keep tokens with estimate > t.  At most k survive, so
    the collect is O(k) REGARDLESS of how many batches ran or how
    topic-clustered the corpus is — the r4 VERDICT's unbounded
    candidate-union finding.  Total undercount ≤ 2n/(k+1), and a
    φ-hitter has true count > φn = 2n/k > 2n/(k+1), so its final
    estimate stays positive: the ≤ k survivors are still a GUARANTEED
    SUPERSET of the φ-hitters.  Callers re-count candidates exactly,
    so the sketch only ever prunes; the answer is deterministic under
    any partition/batch layout.

    Returns (candidate tokens [≤ k], exact stream length n)."""
    import pandas as pd

    def mg_summaries(batches):
        for pdf in batches:
            vc = pdf[w_col].value_counts()
            top = vc.nlargest(k + 1)
            t = int(top.iloc[k]) if len(top) > k else 0
            keep = top.iloc[:k] - t
            keep = keep[keep > 0]
            yield pd.DataFrame(
                {
                    w_col: list(keep.index) + [None],
                    "cnt": [int(c) for c in keep] + [len(pdf)],
                }
            )

    summed = (
        toks.mapInPandas(mg_summaries, schema=f"{w_col} string, cnt long")
        .groupBy(w_col)
        .agg(F.sum("cnt").alias("cnt"))
        .persist()
    )
    try:
        n_rows = summed.filter(F.col(w_col).isNull()).collect()
        if not n_rows:  # empty input: no batches, no summaries
            return [], 0
        n_total = int(n_rows[0]["cnt"])
        words = summed.filter(F.col(w_col).isNotNull())
        top_k1 = (
            words.select("cnt")
            .orderBy(F.col("cnt").desc())
            .limit(k + 1)
            .collect()
        )
        t = int(top_k1[k]["cnt"]) if len(top_k1) > k else 0
        cand_rows = words.filter(F.col("cnt") > t).collect()  # ≤ k rows
    finally:
        summed.unpersist()
    return [r[w_col] for r in cand_rows], n_total


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups keyed by md5(normalized text): keep the
    min id per group.  One hash-agg shuffle on 16-byte keys."""
    return (
        docs.select(F.md5(norm_text(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(norm_text(text_col), " ")


def pack_sequences(
    docs: DataFrame,
    target_tokens: int = 2048,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Sequence packing for training batches: concatenate documents in a
    deterministic order and cut at ``target_tokens`` boundaries; a
    document straddling a boundary belongs to the sequence where it
    starts (streaming greedy pack — the standard large-corpus form, not
    NP-hard bin packing).

    100 TB design: packing is per ``(group, shard)`` where the shard is
    a Knuth multiplicative hash of the id — the running-total window
    parallelizes across groups × shards with NO global or single-key
    window (a giant source can't serialize onto one task), and the hash
    order is reproducible across engines and runs (unlike rand() or
    input order).  ``target_tokens`` a power of two keeps the
    cumsum/target division bit-exact in IEEE double, so the assignment
    is engine-independent.

    Output: one row per packed sequence — (group, shard, seq_id,
    n_docs, total_tokens).
    """
    t = docs.select(
        F.col(group_col),
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    return (
        pack_assignments(
            t,
            target_tokens=target_tokens,
            n_shards=n_shards,
            id_col=id_col,
            group_col=group_col,
        )
        .groupBy(group_col, "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def pack_assignments(
    docs_tokens: DataFrame,
    target_tokens: int = 2048,
    n_shards: int = 16,
    id_col: str = "doc_id",
    group_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """DOC-GRAIN packing assignment (factored out of
    :func:`pack_sequences` round 11 so the curation DAG can WRITE the
    per-document shard/sequence placement as its training-shard
    artifact): input rows must carry ``(group_col, id_col,
    tokens_col)`` plus any passenger columns, output adds ``shard``
    (Knuth-hash of the id mod ``n_shards``) and ``seq_id`` (greedy
    streaming cut of the per-(group, shard) hash-ordered running
    total at ``target_tokens`` boundaries).

    Same 100 TB/determinism contract as :func:`pack_sequences`: the
    window partitions on (group, shard) so no global or single-key
    window exists, the hash order reproduces across engines/runs, and
    a power-of-two target keeps the cumsum division bit-exact."""
    from pyspark.sql import Window as W

    hkey = knuth_hash(id_col)
    t = docs_tokens.withColumn("_hkey", hkey).withColumn(
        "shard", (hkey % F.lit(n_shards)).cast("long")
    )
    w = (
        W.partitionBy(group_col, "shard")
        .orderBy("_hkey", id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = t.withColumn(
        "_cum_before", F.sum(tokens_col).over(w) - F.col(tokens_col)
    )
    return c.withColumn(
        "seq_id",
        F.floor(F.col("_cum_before") / F.lit(float(target_tokens))).cast(
            "long"
        ),
    ).drop("_hkey", "_cum_before")


def mix_sources_balanced(
    docs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    keep_cols: tuple[str, ...] = ("doc_id", "source", "lang"),
) -> DataFrame:
    """Deterministic source rebalancing (training-mixture construction):
    keep each document of source s with rate sqrt(min_n / n_s) — the
    smallest source keeps everything, dominant sources are square-root
    damped toward uniform (temperature-style mixing).

    100 TB design: the per-source count is one aggregation whose output
    is a tiny dimension; rates broadcast back and the keep decision is a
    narrow hash-threshold filter — the corpus itself never shuffles.
    The Knuth-hash keep is reproducible across engines/runs, and the
    rate arithmetic (divide, sqrt, scale, floor) is correctly-rounded
    IEEE double in both Spark and DuckDB, so the kept set is
    engine-exact.
    """
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_src"))
    mn = counts.agg(F.min("n_src").alias("min_n"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        group_col,
        F.sqrt(
            F.col("min_n").cast("double") / F.col("n_src").cast("double")
        ).alias("keep_rate"),
    )
    hkey = knuth_hash(id_col)
    # hkey % 1e6 over a [0, 2^32) hash has a slight modulo bias
    # (2^32 % 1e6 = 967296 → realized keep rates deviate ~2e-4 from
    # sqrt(min_n/n_s)); kept deliberately: the expression is engine-
    # exact integer arithmetic, so the oracle reproduces it bit-for-bit
    return (
        docs.join(F.broadcast(rates), group_col)
        .filter(
            (hkey % F.lit(1_000_000))
            < F.floor(F.col("keep_rate") * F.lit(1_000_000.0)).cast("long")
        )
        .select(*keep_cols)
    )


def shingles_col(text_col: str = "text", k: int = 3) -> Column:
    """k-token shingles as strings (distinct set), built with array
    ops — no explode until the consumer needs rows.

    Documents shorter than k tokens yield an EMPTY set: Spark's
    ``sequence(1, n-k+1)`` turns DESCENDING when n < k (unlike DuckDB's
    generate_series, which is empty), which would drive element_at past
    the array bounds — so the index list is guarded to empty instead.
    """
    toks = tokens_col(text_col)
    n = F.size(toks)
    idx = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]
        ),
    )
    return F.array_distinct(sh)


def shingle_rows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    extra_cols: tuple[str, ...] = (),
    dedup: bool = True,
) -> DataFrame:
    """k-token shingles as ROWS: posexplode + window lead —
    whole-stage-codegen JVM ops throughout (the array/transform form in
    :func:`shingles_col` runs interpreted per element and is ~5× slower
    on wide corpora).  ``dedup=False`` skips the distinct() shuffle for
    consumers whose aggregation is duplicate-insensitive (MinHash)."""
    from pyspark.sql import Window as W

    t = docs.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra_cols],
        F.posexplode(F.split(norm_text(text_col), " ")).alias("pos", "tok"),
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(w) for j in range(1, k)]
    out = (
        t.select(
            "doc_id",
            *extra_cols,
            F.concat_ws(" ", F.col("tok"), *leads).alias("shingle"),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    return out.distinct() if dedup else out


def token_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Tokens as rows (multiset — duplicates kept)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(norm_text(text_col), " ")).alias("tok"),
    )


def contamination_pairs(
    docs: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Train/benchmark contamination: for each corpus document, count
    k-gram shingles shared with each probe (benchmark) document.

    The probe set is small relative to the corpus (a benchmark, not a
    second corpus), so its shingles BROADCAST — the corpus-side shingle
    stream joins map-side with no shuffle of corpus text.  Output:
    (doc_id, probe_doc_id, n_shared) for pairs sharing ≥1 shingle.
    """
    corpus_sh = shingle_rows(docs, text_col, id_col, k=k)
    probe_sh = shingle_rows(probe, text_col, id_col, k=k).select(
        F.col("doc_id").alias("probe_doc_id"), "shingle"
    )
    return (
        corpus_sh.join(F.broadcast(probe_sh), "shingle")
        .filter(F.col("doc_id") != F.col("probe_doc_id"))
        .groupBy("doc_id", "probe_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def _co_shingle_pairs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    block_col: str | None,
    max_df: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared inverted-index core of :func:`ngram_jaccard_pairs` and
    :func:`ngram_containment_pairs` (factored in round 7 so hardening
    levers land in ONE place): k-gram shingle hashes → per-doc set
    sizes → optional max_df hot-shingle anti-join → blocked co-shingle
    equi-join counting |Sa ∩ Sb| per undirected (id1 < id2) pair.

    Returns ``(pairs, sizes)``: pairs(id1, id2, common) and
    sizes(doc_id, sz) with sz the FULL (uncapped) shingle-set size —
    max_df prunes candidate generation only, never denominators."""
    extra = (block_col,) if block_col else ()
    sh = shingle_rows(docs, text_col, id_col, k, extra_cols=extra).select(
        "doc_id", *extra, F.xxhash64("shingle").alias("shingle")
    )
    # NOT persisted (round-13 measurement): the shingle subtree feeds
    # up to five consumers in one plan, but it terminates in the
    # distinct()'s Exchange, so AQE's runtime exchange/stage reuse
    # already materializes it once per action — an explicit persist
    # measured flat across all five consumer keys (min-of-5 A/B at
    # sf0.1) while adding executor-memory pressure at scale.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    pairs = (
        a.join(b, cond)
        .groupBy(
            F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return pairs, sizes


def ngram_containment_pairs(
    docs: DataFrame,
    threshold_num: int = 3,
    threshold_den: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    block_col: str | None = "source",
    max_df: int | None = None,
) -> DataFrame:
    """DIRECTIONAL shingle containment pairs: |Sa ∩ Sb| / |Sa| ≥
    threshold emits (contained=a, container=b) — the asymmetric
    near-dup form Jaccard misses (a short doc quoted wholesale inside
    a long one has tiny Jaccard but containment ≈ 1; Broder's
    original resemblance/containment split).

    Same inverted-index shape as :func:`ngram_jaccard_pairs` (shingle
    equi-join, optional ``block_col`` blocking, ``max_df`` hot-shingle
    cap with FULL-size denominators).  Each undirected co-shingle pair
    is scored ONCE and fans out to at most two directional rows via a
    2-element explode.  The threshold is a RATIONAL
    (``threshold_num/threshold_den``) tested by integer cross-multiply
    — ``den·common ≥ num·sz`` — so the cut is exact on both engines
    (a ``0.6·sz`` double compare is correctly-rounded-identical today
    but the integer form can't even in principle straddle a ulp)."""
    pairs, sizes = _co_shingle_pairs(
        docs, text_col, id_col, k, block_col, max_df
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    j = pairs.join(s1, "id1").join(s2, "id2")
    dirs = F.array(
        F.struct(
            F.col("id1").alias("contained"),
            F.col("id2").alias("container"),
            F.col("sz1").alias("sz"),
        ),
        F.struct(
            F.col("id2").alias("contained"),
            F.col("id1").alias("container"),
            F.col("sz2").alias("sz"),
        ),
    )
    return (
        j.select("common", F.explode(dirs).alias("d"))
        .filter(
            F.lit(threshold_den) * F.col("common")
            >= F.lit(threshold_num) * F.col("d.sz")
        )
        .select(
            F.col("d.contained").alias("contained"),
            F.col("d.container").alias("container"),
            F.col("common").cast("long").alias("common"),
            F.col("d.sz").cast("long").alias("set_sz"),
            F.round(
                F.col("common").cast("double") / F.col("d.sz"), 9
            ).alias("containment"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    block_col: str | None = "source",
    max_df: int | None = None,
) -> DataFrame:
    """Exact k-gram Jaccard over co-shingle pairs via an inverted-index
    equi-join on the shingle hash — the pair space never materializes as
    a cross product.

    ``block_col``: optional blocking key ANDed into the join (pairs only
    within a block).  ``max_df``: drop shingles appearing in more than
    this many documents before the self-join — THE skew lever at 100 TB:
    a boilerplate shingle shared by 10⁶ documents would alone generate
    ~10¹² candidate pairs; near-dup pipelines cap shingle document
    frequency because ubiquitous shingles carry no similarity signal.
    Jaccard denominators still use the FULL shingle-set sizes, so
    max_df only prunes candidate generation / common-counts of hot
    shingles (a documented recall/containment trade, not silent).
    """
    pairs, sizes = _co_shingle_pairs(
        docs, text_col, id_col, k, block_col, max_df
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            "common",
            "sz1",
            "sz2",
            F.round(
                F.col("common").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("common")),
                9,
            ).alias("jaccard"),
        )
    )


# --- MinHash + LSH -------------------------------------------------------

#: 64 deterministic affine permutations over the Mersenne prime 2^31-1:
#: coefficients < 2^31 keep (a*h + b) inside int64 so the whole batch is
#: one vectorized numpy matrix op — no Python-per-shingle loop.
_MINHASH_P = (1 << 31) - 1
_MINHASH_N = 64
_rng = np.random.default_rng(0xF17)  # fixed seed → reproducible everywhere
_MINHASH_A = _rng.integers(1, _MINHASH_P, size=_MINHASH_N, dtype=np.int64)
_MINHASH_B = _rng.integers(0, _MINHASH_P, size=_MINHASH_N, dtype=np.int64)


#: Hot-bucket cap for the LSH pair generators (round-7 hardening; same
#: lever family as max_df / EDIT_DEDUP_MAX_BLOCK / ASSOC_MAX_BASKET):
#: a band bucket holding B documents emits C(B,2) candidate pairs, and
#: mass-duplicated boilerplate (a page template copied 10⁶×) collides
#: in EVERY band — the one shape where "bucketed, never all-pairs"
#: still goes quadratic.  Buckets above the cap are dropped from
#: candidate generation; members of such a bucket are near-identical
#: by construction, so exact dedup (dedup_exact, which is linear)
#: is the right tool for them — the documented division of labor.
LSH_MAX_BUCKET = 1000


def _drop_hot_buckets(
    banded: DataFrame, key_cols: list[str], max_bucket: int | None
) -> DataFrame:
    """Anti-join away band buckets holding more than ``max_bucket``
    members before the candidate self-join (map-side-combinable count,
    broadcast hot list — the max_df shape on bucket keys).

    A driver probe (collect of the aggregated hot list, capped at
    100k keys — the number of hot buckets is bounded by n/max_bucket,
    so the transfer is small even on pathological corpora)
    short-circuits the overwhelmingly common healthy-corpus case: with
    zero hot buckets the candidate join keeps its uncapped plan,
    paying only the one count pass instead of a per-side broadcast
    anti-join (measured 2× → 1.5× key cost at sf0.1).  When hot
    buckets exist, the COLLECTED keys become a literal broadcast
    frame, so the heavy count aggregation never re-executes inside the
    anti-join (round-7 review finding: the earlier limit(1) probe ran
    it twice).  Beyond the 100k cap the plan-based anti-join is the
    fallback — one extra aggregated pass in the pathological² case.

    Note the probe is EAGER: constructing the capped pair plan runs
    the count job at DataFrame-build time (registry keys execute
    immediately after construction, so the trade is one job, not a
    surprise; the public pair generators' docstrings carry the same
    note).  ``banded`` is persisted into the bounded pool
    (:func:`session.persist_bounded`) BEFORE the probe: the probe's
    count job materializes it once, the candidate self-join's two reads
    then hit the cache instead of re-deriving the band explode, and the
    collected hot list describes the same materialized snapshot the
    join will read (unpersisted, the pipeline re-executed per reader,
    and the frozen hot list could describe different data than the
    join saw).  The frozen list is still construction-time state: if
    the underlying files change before the plan runs AND the cache is
    evicted, a newly-hot bucket is not capped — re-call the generator
    on changed data."""
    if max_bucket is None:
        return banded
    banded = persist_bounded(banded)
    hot = (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bn"))
        .filter(F.col("_bn") > max_bucket)
        .select(*key_cols)
    )
    probe_cap = 100_000
    hot_rows = hot.limit(probe_cap + 1).collect()
    if not hot_rows:
        return banded
    if len(hot_rows) > probe_cap:
        # more hot buckets than the literal path should ship — fall
        # back to the lazy anti-join (re-runs the agg once)
        return banded.join(F.broadcast(hot), key_cols, "left_anti")
    lit_hot = banded.sparkSession.createDataFrame(
        hot_rows, schema=hot.schema
    )
    return banded.join(F.broadcast(lit_hot), key_cols, "left_anti")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 16,
    est_threshold: float = 0.2,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows-per-band = 64/bands; a pair lands in a bucket iff one band of
    the signatures matches exactly.  The pair space becomes an equi-join
    on (band, band-hash) — shuffle keys only, at any corpus size.
    Output: (id1, id2, est_jaccard) with est_jaccard = matching
    signature fraction, filtered to ``est_threshold``.

    ``max_bucket`` drops band buckets holding more than that many
    documents from candidate generation (see :data:`LSH_MAX_BUCKET`):
    a mass-duplicated document collides in every band, and C(B,2)
    within one hot bucket is the only quadratic left in the banded
    shape.  Pairs lost this way are exact/near-exact duplicates —
    route them through the linear ``dedup_exact`` pass first.

    With ``max_bucket`` set, CALLING this function runs a Spark job
    (the hot-bucket probe materializes the persisted band table at
    DataFrame-construction time — see :func:`_drop_hot_buckets`); the
    hot list is frozen then, so re-call the generator if the input
    files change before the returned plan executes.
    """
    rows_per_band = _MINHASH_N // bands
    hashed = shingle_rows(docs, text_col, id_col, dedup=False).select(
        "doc_id",
        F.xxhash64("shingle").bitwiseAND(F.lit(0x7FFFFFFF)).alias("h"),
    )
    # MinHash as a plain JVM aggregation: min() is duplicate-insensitive,
    # so the shingle stream needs no distinct(), and partial aggregation
    # (map-side combine) ships only 64 longs per doc per partition — no
    # collect_list shuffle of raw shingles, no Python worker round trip.
    mins = [
        F.min(
            (F.lit(int(a)) * F.col("h") + F.lit(int(b))) % F.lit(_MINHASH_P)
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(zip(_MINHASH_A, _MINHASH_B))
    ]
    # cached: the band join + the two signature re-joins below read the
    # table three times.  In the bounded pool (not bare .cache()), so
    # later generator calls evict it instead of accruing executor
    # memory across a many-corpus session.
    sigs = persist_bounded(
        hashed.groupBy("doc_id")
        .agg(*mins)
        .select(
            "doc_id",
            F.array(*[f"_m{i}" for i in range(_MINHASH_N)]).alias("sig"),
        )
    )
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.lit(b),
                            F.slice("sig", b * rows_per_band + 1, rows_per_band),
                        ).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.bkey")
    banded = _drop_hot_buckets(banded, ["band", "bkey"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    s1 = sigs.select(F.col("doc_id").alias("id1"), F.col("sig").alias("sig1"))
    s2 = sigs.select(F.col("doc_id").alias("id2"), F.col("sig").alias("sig2"))
    est = F.aggregate(
        F.zip_with(
            F.col("sig1"),
            F.col("sig2"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(_MINHASH_N))
    return (
        cands.join(s1, "id1")
        .join(s2, "id2")
        .select("id1", "id2", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= est_threshold)
    )


# --- SimHash -------------------------------------------------------------


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document as a plain JVM aggregation: the
    per-bit ±1 votes are just sums of token-hash bits, so partial
    aggregation ships 65 longs per doc per partition — no collect_list
    of raw token hashes, no Python worker round trip.  Bit b is set iff
    strictly more than half the tokens have it set
    (2·ones > n ⟺ Σ(2·bit−1) > 0).  Output: (doc_id, sig)."""
    hashed = token_rows(docs, text_col, id_col).select(
        "doc_id", F.xxhash64("tok").alias("h")
    )
    ones = [
        F.sum(F.shiftrightunsigned("h", b).bitwiseAND(F.lit(1))).alias(f"_o{b}")
        for b in range(64)
    ]
    agg = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"), *ones)
    bit_terms = [
        F.when(
            F.col(f"_o{b}") * 2 > F.col("_n"),
            F.shiftleft(F.lit(1).cast("long"), b),
        ).otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    sig = bit_terms[0]
    for t in bit_terms[1:]:
        sig = sig.bitwiseOR(t)
    return agg.select("doc_id", sig.alias("sig"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming — EXACT
    within the radius, by the pigeonhole guarantee: the 64-bit signature
    splits into B equal chunks, and any pair differing in <= B-1 bits
    must share at least one chunk verbatim, so the chunk equi-join loses
    nothing; the bit_count(xor) filter then removes false candidates.

    B is sized to the requested radius (4 chunks covers <=3, 8 covers
    <=7, 16 covers <=15); radii above 15 would need 2-bit chunks whose
    buckets degenerate toward all-pairs, so they are rejected rather
    than silently under-recalled (the round-1 4×16 banding claimed
    radius 12 but guaranteed only 3).

    ``max_bucket``: chunk buckets holding more than this many
    signatures are dropped from candidate generation (see
    :data:`LSH_MAX_BUCKET`) — mass-duplicated documents share ALL
    chunks, and C(B,2) inside one hot chunk bucket is the residual
    quadratic; their members belong to ``dedup_exact``.  Note the
    pigeonhole exactness guarantee then holds for every pair not
    wholly inside dropped buckets — the documented recall trade.

    With ``max_bucket`` set, CALLING this function runs a Spark job
    (the hot-bucket probe materializes the persisted chunk table at
    DataFrame-construction time — see :func:`_drop_hot_buckets`); the
    hot list is frozen then, so re-call the generator if the input
    files change before the returned plan executes."""
    if max_hamming <= 3:
        bands = 4
    elif max_hamming <= 7:
        bands = 8
    elif max_hamming <= 15:
        bands = 16
    else:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the exact-recall bound of "
            "chunk banding (15); use MinHash LSH for looser similarity"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    # cached because the self-join reads the signature table twice; in
    # the bounded pool, so there is no growth across a many-corpus
    # session
    sigs = persist_bounded(simhash_signatures(docs, text_col, id_col))
    chunk = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(band).alias("band"),
                    F.shiftrightunsigned(F.col("sig"), band * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("ckey"),
                )
                for band in range(bands)
            ]
        )
    )
    banded = sigs.select("doc_id", "sig", chunk.alias("c")).select(
        "doc_id", "sig", "c.band", "c.ckey"
    )
    banded = _drop_hot_buckets(banded, ["band", "ckey"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            ham.cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- cosine similarity ---------------------------------------------------


def dot_double(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns in double precision via a
    sequential zip_with fold — arrays stay intact (no explode)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot_double(a, a))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k per query vector: broadcast the small
    query side, cross join, zip_with dot, per-query top-k window.
    The exact baseline; LSH/IVF variants prune the candidate space.
    """
    from pyspark.sql import Window as W

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
        )
    )
    e = embeddings.select(F.col(id_col).alias("e_id"), F.col(vec_col).alias("e_vec"))
    cos = dot_double(F.col("q_vec"), F.col("e_vec")) / (
        l2_norm(F.col("q_vec")) * l2_norm(F.col("e_vec"))
    )
    scored = (
        q.join(e, F.col("q_id") != F.col("e_id"))
        .select("q_id", "e_id", F.round(cos, 6).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("e_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def cosine_topk_gemm(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/numpy form of :func:`cosine_topk` (round 14, guide §4.2) —
    bit-identical output, measured 4.3× on the 1 M-corpus scale shape
    (tools/bench_scalable.py knn_s 100.96 → 23.54 s at local[32]).

    The brute-force spelling broadcasts the query side into an n·q pair
    join where EVERY pair pays three 64-element ``aggregate(zip_with())``
    folds (dot + both norms — CodegenFallback, interpreted); the rank
    window then shuffles all n·q rows.  Here one mapInPandas pass over
    the corpus computes all query dots per Arrow batch with the same
    sequential fold order (never BLAS — see :func:`knn_topk_edges_gemm`),
    rounds via :func:`_round6_micro_spark`, and keeps only the per-batch
    top-k per query, so the JVM rank window sees ≤ k·q·n_batches
    candidate rows instead of n·q.  Per-query GLOBAL top-k under the
    (rounded-cosine DESC, e_id ASC) total order is contained in the
    union of per-batch top-k under the same order, so the final
    row_number ranks are identical to the brute-force join's.

    The query side is collected to the driver (the same "small side"
    contract the broadcast join already imposed) and ships to workers
    by closure.  Bit-exactness pinned by
    tests/test_llmops.py::test_cosine_topk_gemm_equals_catalyst."""
    from pyspark.sql import Window as W

    q_pdf = queries.select(id_col, vec_col).toPandas()
    spark = embeddings.sparkSession
    if len(q_pdf) == 0:
        return spark.createDataFrame(
            [], "q_id long, e_id long, cosine double, rn long"
        )
    Q = np.stack(q_pdf[vec_col].to_numpy()).astype(np.float64)
    q_ids = q_pdf[id_col].to_numpy().astype(np.int64)
    d = Q.shape[1]
    qsq = np.zeros(len(Q), dtype=np.float64)
    for j in range(d):
        qsq += Q[:, j] * Q[:, j]
    q_nrm = np.sqrt(qsq)
    kk = int(k)

    def per_batch(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy().astype(np.int64)
            acc = np.zeros((n, len(Q)), dtype=np.float64)
            esq = np.zeros(n, dtype=np.float64)
            # sequential left-fold per dimension == dot_double's order
            for j in range(d):
                c = M[:, j]
                acc += c[:, None] * Q[:, j][None, :]
                esq += c * c
            e_nrm = np.sqrt(esq)
            # original order: dot / (l2(q_vec) * l2(e_vec))
            cos = acc / (q_nrm[None, :] * e_nrm[:, None])
            micro = _round6_micro_spark(cos)
            out_q, out_e, out_c = [], [], []
            for qi in range(len(Q)):
                col = micro[:, qi]
                order = np.lexsort((ids, -col))
                sel = order[ids[order] != q_ids[qi]][:kk]
                out_q.append(np.full(len(sel), q_ids[qi], dtype=np.int64))
                out_e.append(ids[sel])
                out_c.append(col[sel] / 1e6)
            yield pd.DataFrame(
                {
                    "q_id": np.concatenate(out_q),
                    "e_id": np.concatenate(out_e),
                    "cosine": np.concatenate(out_c),
                }
            )

    cand = embeddings.select(id_col, vec_col).mapInPandas(
        per_batch, schema="q_id long, e_id long, cosine double"
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("e_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= kk)
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs above a cosine threshold, blocked by a
    coarse cell (here a label; at scale an IVF centroid assignment) so
    the pair join is an equi-join on the block key, never a full cross
    product."""
    s = embeddings.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    a, b = s.alias("a"), s.alias("b")
    cos = dot_double(F.col("a.vec"), F.col("b.vec")) / (
        l2_norm(F.col("a.vec")) * l2_norm(F.col("b.vec"))
    )
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.blk").alias("label"),
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs_blocked_gemm(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """GEMM form of :func:`cosine_pairs_blocked`: one applyInPandas per
    block computing the normalized Gram matrix with BLAS and emitting
    the upper-triangle pairs above threshold.

    At 100 TB-scale embedding corpora this is the production path — the
    per-block matrix multiply is O(n²d) flops but runs at hardware speed
    and the block partitioning bounds memory; the zip_with form remains
    as the pure-Catalyst reference.
    """
    import pandas as pd

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"label": [], "id1": [], "id2": [], "cosine": []}
            ).astype({"label": "int32", "id1": "int64", "id2": "int64", "cosine": "float64"})
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        cos = np.round((m @ m.T) / np.outer(norms, norms), 6)
        iu, ju = np.triu_indices(len(pdf), k=1)
        keep = cos[iu, ju] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "label": pdf[block_col].to_numpy()[iu[keep]],
                "id1": ids[iu[keep]],
                "id2": ids[ju[keep]],
                "cosine": cos[iu, ju][keep],
            }
        )

    return embeddings.groupBy(block_col).applyInPandas(
        per_block, schema=f"label int, id1 long, id2 long, cosine double"
    )


def _round6_micro_spark(x: "np.ndarray") -> "np.ndarray":
    """ROUND(x, 6) exactly as Spark's Round expression computes it for
    DoubleType — returned in integer micro units (rounded·10⁶, int64).

    Spark rounds ``BigDecimal.valueOf(v)`` (the SHORTEST decimal repr,
    Double.toString semantics) with HALF_UP.  The vectorized fast path
    ``floor(x·10⁶ + 0.5)`` agrees with that everywhere except when the
    exact decimal value of x·10⁶ sits within ~1e-10 of a .5 boundary
    (double-product error) or x is negative AND exactly on the boundary
    (floor rounds half toward +inf, HALF_UP rounds half away from
    zero).  Both disagreement regions live inside the suspect band
    below, where each value is re-rounded exactly via
    ``Decimal(repr(v))`` — Python's repr is the same shortest
    round-trip decimal as Java's Double.toString."""
    scaled = x * 1e6
    fl = np.floor(scaled)
    frac = scaled - fl
    micro = np.where(frac >= 0.5, fl + 1.0, fl)
    suspect = np.abs(frac - 0.5) < 1e-4
    if suspect.any():
        from decimal import ROUND_HALF_UP, Decimal

        one = Decimal(1)
        for t in zip(*np.nonzero(suspect)):
            micro[t] = float(
                Decimal(repr(float(x[t])))
                .scaleb(6)
                .quantize(one, rounding=ROUND_HALF_UP)
            )
    return micro.astype(np.int64)


def knn_topk_edges_gemm(
    embeddings: DataFrame,
    k: int,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine edges per vector within each block — the
    Arrow/numpy form of the k-NN edge build shared by q_knn_graph and
    q_kcore_census (round 14, guide §4.2): ONE grouped-Arrow kernel per
    block replaces the n²-pair equi-join, the per-pair 64-element
    ``aggregate(zip_with())`` fold (a CodegenFallback expression — the
    measured cost center), and the rank-window exchange; only the
    ≤ k·n kept edges ever exist JVM-side.  Returns
    (block_col int, src long, dst long, cosine double) where cosine is
    ROUND(cos, 6) — exactly the rows the Catalyst spelling's
    row_number-capped pair join emits.

    BIT-EXACTNESS CONTRACT (why this is not cosine_pairs_blocked_gemm):
    - dots and norms accumulate in IEEE float64 in the SAME left-fold
      order as :func:`dot_double` (one rank-1 update per dimension) —
      never a BLAS ``m @ m.T``, whose split/FMA strategy varies across
      hosts, so the unrounded cosine is the bit-identical double;
    - ``ROUND(·, 6)`` replicates Spark's HALF_UP-over-shortest-repr via
      :func:`_round6_micro_spark`;
    - rank order is (rounded cosine DESC, dst ASC) over int64 micro
      units — identical to the row_number window it replaces because
      micro ↦ micro/1e6 is order-isomorphic and a src never spans
      blocks.  NULL-block rows are dropped first (an equi-join never
      matches NULL).
    Pinned bit-identical to the Catalyst spelling on the live fixture
    by tests/test_r9_keys.py::test_knn_edges_gemm_equals_catalyst.

    100 TB shape: the block key is an IVF cell, the kernel is O(n²d)
    flops at vectorized-numpy speed with O(chunk·n) memory (source rows
    processed in ~32 MB chunks, never the full n×n Gram), and the edge
    explosion (k per source) happens AFTER the prune, inside the
    kernel."""
    kk = int(k)
    blk_type = embeddings.schema[block_col].dataType.simpleString()
    schema = f"{block_col} {blk_type}, src long, dst long, cosine double"

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame(
            {
                block_col: pd.Series([], dtype=pdf[block_col].dtype),
                "src": pd.Series([], dtype="int64"),
                "dst": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        ids = pdf[id_col].to_numpy().astype(np.int64)
        d = m.shape[1]
        # per-vector norm: the same sequential fold as l2_norm
        sq = np.zeros(n, dtype=np.float64)
        for j in range(d):
            sq += m[:, j] * m[:, j]
        nrm = np.sqrt(sq)
        # source rows in chunks so memory is O(chunk·n), not O(n²)
        chunk = max(1, (4 << 20) // max(n, 1))
        src_out: list[np.ndarray] = []
        dst_out: list[np.ndarray] = []
        cos_out: list[np.ndarray] = []
        neg_inf = np.iinfo(np.int64).min
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            mc = m[lo:hi]
            # sequential left-fold over dimensions == the JVM
            # aggregate(zip_with()) order: bit-identical IEEE doubles
            acc = np.zeros((hi - lo, n), dtype=np.float64)
            for j in range(d):
                acc += mc[:, j][:, None] * m[:, j][None, :]
            cosm = acc / (nrm[lo:hi][:, None] * nrm[None, :])
            micro = _round6_micro_spark(cosm)
            # self-pairs never exist (a.vec_id != b.vec_id)
            for r in range(hi - lo):
                row = micro[r].copy()
                row[lo + r] = neg_inf
                order = np.lexsort((ids, -row))
                sel = order[order != (lo + r)][:kk]
                src_out.append(np.full(len(sel), ids[lo + r], dtype=np.int64))
                dst_out.append(ids[sel])
                cos_out.append(row[sel] / 1e6)
        return pd.DataFrame(
            {
                block_col: np.repeat(
                    pdf[block_col].iloc[0], sum(len(s) for s in src_out)
                ),
                "src": np.concatenate(src_out),
                "dst": np.concatenate(dst_out),
                "cosine": np.concatenate(cos_out),
            }
        )

    return (
        embeddings.filter(F.col(block_col).isNotNull())
        .select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(per_block, schema=schema)
    )


# --- IVF-style approximate nearest neighbors -----------------------------


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cell",
    nprobe: int = 1,
    carry_vec: bool = False,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroid cells
    (cosine).  Centroids broadcast; assignment is one vectorized numpy
    pass per Arrow batch (mapInPandas) — the inverted-file partitioning
    step of IVF ANN search.

    DETERMINISM: the similarity kernel deliberately avoids BLAS
    (``M @ C.T`` dispatches to a vendor gemm whose split/FMA strategy
    varies across hosts and thread counts, so the last-ulp result — and
    hence a near-tied argmax — can differ between machines).  Instead it
    uses elementwise multiply + ``np.sum`` pairwise reduction, a fixed
    single-threaded algorithm, so cell assignment is bit-reproducible
    wherever the golden-oracle hash gate runs.

    ``carry_vec=True`` passes the vector column through the UDF so the
    caller needs no re-join against the corpus — one scan instead of a
    scan + corpus-wide id join (the index-build path)."""
    spark = embeddings.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.sqrt((C * C).sum(axis=1, keepdims=True)), 1e-30)
    bc = spark.sparkContext.broadcast(C)
    n_probe = int(nprobe)
    keep = [id_col, vec_col] if carry_vec else [id_col]

    def assign(batches):
        for pdf in batches:
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = np.sqrt((M * M).sum(axis=1, keepdims=True))
            M = M / np.maximum(nrm, 1e-30)
            Cn = bc.value
            # non-BLAS dot (see docstring): one n×dim temporary per
            # centroid, K passes — K is small (≤ a few hundred cells)
            sims = np.stack(
                [(M * Cn[j]).sum(axis=1) for j in range(len(Cn))], axis=1
            )  # (n, K)
            # top-nprobe cells per vector, deterministic tie-break by cell id
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            out = pdf[keep].loc[pdf.index.repeat(n_probe)].reset_index(drop=True)
            out[out_col] = order.reshape(-1).astype("int64")
            yield out

    vec_type = embeddings.schema[vec_col].dataType.simpleString()
    schema = f"{id_col} long, "
    schema += f"{vec_col} {vec_type}, " if carry_vec else ""
    schema += f"{out_col} long"
    return embeddings.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ivf_train_centroids(
    embeddings: DataFrame,
    k: int = 16,
    max_iter: int = 10,
    vec_col: str = "embedding",
    seed: int = 7,
    id_col: str = "vec_id",
    sample_size: int = 8192,
) -> list[list[float]]:
    """Train IVF centroids: bounded deterministic sample → driver-side
    numpy spherical k-means — the faiss-style index-build recipe.

    k-means converges on a tiny fraction of the corpus, so the 100 TB
    path is ONE distributed pass (a map-side top-k of ``sample_size``
    rows by hash of the id — deterministic, order-independent, bounded
    driver memory) followed by in-memory Lloyd's on the sample.  That
    beats distributed k-means (max_iter full scans + per-iteration
    shuffles) by construction, and the pure-numpy trainer is
    bit-reproducible for a fixed (sample, seed).

    SPHERICAL: the IVF cells are cosine-Voronoi (ivf_assign normalizes
    both sides), so training runs on L2-normalized vectors with
    re-normalized centroids; on raw vectors the centers chase magnitude
    instead.  Returns plain Python lists (k × dim — tiny), ready for
    :func:`ivf_assign` / :func:`ivf_write_index` to broadcast.
    """
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(knuth_hash(id_col), F.col(id_col))
        .limit(int(sample_size))
        .collect()
    )
    if not sample:
        # empty corpus: no centroids — callers short-circuit to an
        # empty result rather than training on nothing
        return np.zeros((0, 0))
    X = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in sample])
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-30)
    rng = np.random.default_rng(seed)
    # k-means++ seeding on the sample
    n = len(X)
    first = int(rng.integers(n))
    cents = [X[first]]
    d2 = 1.0 - X @ cents[0]  # cosine distance to nearest center
    for _ in range(1, min(k, n)):
        probs = np.maximum(d2, 0.0)
        s = probs.sum()
        idx = int(rng.choice(n, p=probs / s)) if s > 0 else int(rng.integers(n))
        cents.append(X[idx])
        d2 = np.minimum(d2, 1.0 - X @ cents[-1])
    C = np.stack(cents)
    for _ in range(max_iter):
        assign = np.argmax(X @ C.T, axis=1)
        newC = np.zeros_like(C)
        np.add.at(newC, assign, X)
        sizes = np.bincount(assign, minlength=len(C))
        empty = sizes == 0
        if empty.any():
            # reseed an empty cell to the farthest sample point
            far = np.argsort(np.max(X @ C.T, axis=1))
            newC[empty] = X[far[: int(empty.sum())]]
        norms = np.linalg.norm(newC, axis=1, keepdims=True)
        newC = newC / np.maximum(norms, 1e-30)
        if np.allclose(newC, C, atol=1e-12):
            C = newC
            break
        C = newC
    return [[float(x) for x in c] for c in C]


def ivf_write_index(
    embeddings: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the corpus as an on-disk IVF index: parquet
    PARTITIONED BY the centroid cell.  This is the 100 TB write path —
    pay one cell-assignment pass at build time, then every probe reads
    only its probed cells' directories (partition pruning; gated in
    tests/test_plans.py)."""
    assigned = ivf_assign(
        embeddings, centroids, id_col, vec_col, nprobe=1, carry_vec=True
    )
    # co-locate each cell before the partitioned write: without this,
    # every task holds rows of every cell and the sink fans out
    # tasks × cells tiny files (slow write, slow probe-side listing).
    # Cells are k-means-balanced so hashing on cell is skew-safe; at
    # larger scale add a within-cell salt to split giant cells across
    # several files
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_topk_pruned(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe an :func:`ivf_write_index` index: the probed cell set is
    small (n_queries × nprobe, and the query side is small by contract —
    it broadcasts), so it collects driver-side into an IN-list predicate
    on the PARTITION column — the scan prunes to the probed cells'
    files and the 100 TB corpus is never fully read."""
    from pyspark.sql import Window as W

    q_cells = ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe)
    # bounded collect: ≤ n_queries × nprobe cell ids
    cells = [
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    ]
    corpus = (
        spark.read.parquet(index_path)
        .filter(F.col("cell").isin(cells))
        .select(
            F.col(id_col).alias("e_id"),
            F.col(vec_col).alias("e_vec"),
            "cell",
        )
    )
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    ).join(q_cells.withColumnRenamed(id_col, "q_id"), "q_id")
    cos = dot_double(F.col("q_vec"), F.col("e_vec")) / (
        l2_norm(F.col("q_vec")) * l2_norm(F.col("e_vec"))
    )
    # no distinct needed: each indexed vector lives in exactly ONE cell
    # partition (nprobe=1 at write) and q_cells are distinct per query,
    # so every (q_id, e_id) pair joins at most once — unlike ivf_topk,
    # whose in-memory corpus re-assignment can surface a pair via
    # several probed cells
    cands = (
        F.broadcast(q)
        .join(corpus, "cell")
        .filter(F.col("q_id") != F.col("e_id"))
        .select("q_id", "e_id", F.round(cos, 6).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("e_id"))
    return cands.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= k
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in 1 cell each; each
    query probes its ``nprobe`` nearest cells; exact cosine only against
    candidates in probed cells.  Recall trades off with nprobe/K; the
    brute-force baseline is :func:`cosine_topk`.

    At 100 TB the corpus side is written partitioned by cell, so a probe
    reads only matching partitions (partition pruning on the cell key).
    """
    from pyspark.sql import Window as W

    corpus = ivf_assign(
        embeddings, centroids, id_col, vec_col, nprobe=1, carry_vec=True
    ).select(
        F.col(id_col).alias("e_id"), F.col(vec_col).alias("e_vec"), "cell"
    )
    q = ivf_assign(
        queries, centroids, id_col, vec_col, nprobe=nprobe, carry_vec=True
    ).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "cell"
    )
    cos = dot_double(F.col("q_vec"), F.col("e_vec")) / (
        l2_norm(F.col("q_vec")) * l2_norm(F.col("e_vec"))
    )
    # no dedup needed: each corpus vector has exactly ONE cell
    # (nprobe=1), so a (q, e) pair joins at most once even though the
    # query side probes several cells
    cands = (
        F.broadcast(q)
        .join(corpus, "cell")
        .filter(F.col("q_id") != F.col("e_id"))
        .select("q_id", "e_id", F.round(cos, 6).alias("cosine"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("e_id"))
    return cands.withColumn("rn", F.row_number().over(w).cast("long")).filter(
        F.col("rn") <= k
    )


# --- near-dup clustering (connected components) --------------------------


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    id_col: str = "doc_id",
    max_iter: int = 30,
    small_threshold: int | None = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation: every vertex starts as its own label and
    repeatedly takes the minimum label among itself and its neighbors,
    until a fixpoint — the component id is the smallest vertex id in the
    component (deterministic, engine-independent).

    This is the step a real dedup pipeline needs BETWEEN candidate
    pairs and the keep-list: near-duplication is transitive in practice
    (A~B, B~C → one cluster), so representatives must come from
    components of the pair graph, not from pairwise output.

    100 TB design: each round is a neighbor-min propagation (join +
    min-agg — one shuffle) followed by a POINTER JUMP l(v) ← l(l(v))
    (labels only decrease and l(x) ≤ x, so the jump is always valid):
    the jump halves the remaining label-tree depth, so convergence is
    O(log diameter) rounds instead of O(diameter) — a 1000-link chain
    settles in ~10 rounds.  Lineage is truncated each round with an
    eager localCheckpoint so the plan does not grow with the iteration
    count; the convergence check costs one count per round and stops as
    soon as no label moved.  Output: (id_col, cluster_id,
    cluster_size).
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Small-side fast path (same pattern as windows.scalable_cumsum):
    # the edge list of a near-dup graph is bounded by the DUPLICATED
    # subset of the corpus, not the corpus — when it fits comfortably
    # on the driver, a single collect + union-find replaces the whole
    # iterate/checkpoint machinery (each distributed round costs
    # several jobs of fixed overhead).  The distributed loop below is
    # the 100 TB path, pinned at 8M rows in tools/bench_scalable.py;
    # pass small_threshold=None to force it.
    if small_threshold is not None:
        # Arrow probe, not .collect(): limit(n+1).toPandas() transfers
        # two int64 columns (~16 B/row) instead of materializing up to
        # n heavyweight Row objects on the driver (~10× lighter at the
        # 2M threshold).  When the graph exceeds the threshold the
        # probe is abandoned and the distributed loop below takes over
        # — one bounded extra pass, the documented price of the probe.
        probe = e.limit(small_threshold + 1).toPandas()
        if len(probe) <= small_threshold:
            spark = edges.sparkSession
            pa_ = probe["a"].tolist()
            pb_ = probe["b"].tolist()
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            for a_, b_ in zip(pa_, pb_):
                ra, rb = find(a_), find(b_)
                if ra != rb:
                    # min-root merge → label = min id of the component
                    parent[max(ra, rb)] = min(ra, rb)
            touched = set(pa_)
            touched.update(pb_)
            labels = [(v, find(v)) for v in parent] + [
                (v, v) for v in touched if v not in parent
            ]
            lab_df = spark.createDataFrame(
                sorted(set(labels)), f"{id_col} long, cluster_id long"
            )
            sizes = lab_df.groupBy("cluster_id").agg(
                F.count(F.lit(1)).cast("long").alias("cluster_size")
            )
            clustered = lab_df.join(F.broadcast(sizes), "cluster_id").select(
                id_col, "cluster_id", "cluster_size"
            )
            singles = (
                vertices.select(F.col(id_col))
                .join(
                    F.broadcast(lab_df.select(id_col)), id_col, "left_anti"
                )
                .select(
                    id_col,
                    F.col(id_col).alias("cluster_id"),
                    F.lit(1).cast("long").alias("cluster_size"),
                )
            )
            return clustered.unionByName(singles)
    e = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).cache()
    # iterate ONLY over vertices that touch an edge: every other vertex
    # is a singleton component with label = itself and size 1, needing
    # no propagation.  In a near-dup corpus the edge-touching set is a
    # tiny fraction of the corpus, so the per-round joins run on the
    # duplicate subgraph, not the full document table.
    labels = (
        e.select(F.col("a").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("l"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        msgs = e.join(
            labels.withColumnRenamed("v", "a"), "a"
        ).select(F.col("b").alias("v"), "l")
        stepped = (
            labels.unionByName(msgs).groupBy("v").agg(F.min("l").alias("l"))
        )
        # pointer jump: follow the label one hop through the label table
        parent = stepped.select(
            F.col("v").alias("l"), F.col("l").alias("gl")
        )
        new = (
            stepped.join(parent, "l", "left")
            .select("v", F.coalesce("gl", "l").alias("l"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.withColumnRenamed("l", "old"), "v")
            .filter(F.col("l") < F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    e.unpersist()
    sizes = labels.groupBy("l").agg(F.count(F.lit(1)).alias("cluster_size"))
    clustered = labels.join(sizes, "l").select(
        F.col("v").alias(id_col),
        F.col("l").alias("cluster_id"),
        F.col("cluster_size").cast("long"),
    )
    singles = (
        vertices.select(F.col(id_col))
        .join(labels.select(F.col("v").alias(id_col)), id_col, "left_anti")
        .select(
            id_col,
            F.col(id_col).alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
        )
    )
    return clustered.unionByName(singles)


def quality_features(
    docs: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """The doc-grain feature projection behind the oracled quality
    score — (doc_id, *extra_cols, n_tokens, n_chars, stop_hits).
    SINGLE definition (round-12 review: three verbatim copies had
    grown) shared by q_quality_score, :func:`curation_keep_list`,
    and the incremental-curation key, so the token split / stop-word
    regex can never drift between the scorer and its consumers."""
    return docs.select(
        "doc_id",
        *[F.col(c) for c in extra_cols],
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.regexp_count(F.col("text"), F.lit(r"\b(the|a)\b"))
        .cast("long")
        .alias("stop_hits"),
    )


def quality_score_expr(
    n_tokens: Column = None, n_chars: Column = None, stop_hits: Column = None
) -> Column:
    """The engine's document quality score as a reusable Column
    expression: 0.4·min(1, tokens/50) + 0.3·min(1, 5·stop_hits/tokens)
    + 0.3·min(1, avg_token_len/5), rounded to 9 dp.  Single source of
    truth for q_quality_score AND curation_keep_list — the curation
    gate must never drift from the oracled score."""
    n_tokens = F.col("n_tokens") if n_tokens is None else n_tokens
    n_chars = F.col("n_chars") if n_chars is None else n_chars
    stop_hits = F.col("stop_hits") if stop_hits is None else stop_hits
    q = (
        F.least(F.lit(1.0), n_tokens / 50.0) * 0.4
        + F.least(F.lit(1.0), stop_hits * 5.0 / n_tokens) * 0.3
        + F.least(F.lit(1.0), (n_chars.cast("double") / n_tokens) / 5.0) * 0.3
    )
    return F.round(q, 9)


def curation_keep_list(
    docs: DataFrame,
    min_quality: float = 0.6,
    jaccard_threshold: float = 0.2,
    block_col: str | None = "source",
    max_df: int | None = None,
) -> DataFrame:
    """End-to-end corpus curation keep-list: quality gate ∩ exact-dedup
    representatives ∩ near-dup cluster representatives.

    The composition a training-data pipeline actually ships.  Every
    stage reuses an oracled primitive (the q_quality_score arithmetic,
    :func:`dedup_exact`, :func:`ngram_jaccard_pairs` →
    :func:`connected_components`); the keep-list is their semi-join, so
    the corpus text never shuffles — only ids and 16-byte hashes.
    Returns (doc_id, source, lang, quality) for kept documents; the
    q_curation_pipeline registry key is this function verbatim and
    carries its full recursive-CTE oracle.
    """
    t = quality_features(docs, extra_cols=("source", "lang"))
    scored = t.select(
        "doc_id", "source", "lang", quality_score_expr().alias("quality")
    ).filter(F.col("quality") >= min_quality)
    exact_keep = dedup_exact(docs).select(F.col("keep_doc_id").alias("doc_id"))
    edges = ngram_jaccard_pairs(docs, block_col=block_col, max_df=max_df).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    near_keep = (
        connected_components(edges, docs, id_col="doc_id")
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    return scored.join(exact_keep, "doc_id", "left_semi").join(
        near_keep, "doc_id", "left_semi"
    )


# --- byte-pair encoding (real BPE train + tokenize) ----------------------

#: end-of-word marker appended to every word before merging (the
#: classic BPE formulation: merges never cross word boundaries, and a
#: token carrying the marker is known to end a word)
_BPE_EOW = "</w>"


def bpe_word_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_vocab: int = 1_000_000,
) -> list[tuple[str, int]]:
    """ONE distributed pass: distinct (word, count) over the normalized
    corpus — bounded by the corpus VOCABULARY, not the corpus size,
    which is what makes driver-side BPE training the production shape
    (100 TB of text still has ~10⁵–10⁷ distinct words; the standard
    trainers all work from word counts).  Deterministic top-cap by
    (count desc, word) when the vocabulary exceeds the bound.

    Word rule (shared verbatim with :func:`bpe_tokenize` and the
    golden certifier): lowercase, split on runs of ASCII whitespace
    (Java ``\\s`` ≡ python ``[ \\t\\n\\x0b\\f\\r]``), drop empties —
    one definition on both the JVM and python sides, so a text with
    edge/odd whitespace can never train a vocabulary inconsistent
    with the tokenizer's word stream."""
    wc = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), "\\s+")
            ).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(int(max_word_vocab))
        .toPandas()
    )
    return [(str(w), int(c)) for w, c in zip(wc["tok"], wc["c"])]


def bpe_train_merges(
    word_counts: list[tuple[str, int]], num_merges: int = 64
) -> list[tuple[str, str]]:
    """Classic BPE training loop (Sennrich et al. 2016, public
    algorithm) over the bounded word-count table: repeatedly merge the
    most frequent adjacent symbol pair.  Fully deterministic — integer
    counts, ties broken by the lexicographically smallest pair — so
    the learned merge table is reproducible on any host (pure python
    ints/strings, no floats, no hashing).

    INCREMENTAL (the Sennrich reference shape): pair counts and a
    pair→word-indices index are maintained across merges, so each
    round rebuilds only the words that actually CONTAIN the merged
    pair — at a 10⁶–10⁷-word vocabulary that is typically <1% of the
    table — instead of rescanning every symbol of every word.  The
    per-round cost is one scan of the distinct-pair dict (for the
    deterministic max) plus the affected words' rebuilds."""
    words = [list(w) + [_BPE_EOW] for w, _ in word_counts]
    wcount = [int(c) for _, c in word_counts]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, sym in enumerate(words):
        c = wcount[wi]
        for p in zip(sym, sym[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(wi)
    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        best_count = 0
        for c in pair_counts.values():
            if c > best_count:
                best_count = c
        if best_count < 2:
            break  # nothing left worth merging
        best_pair = min(
            p for p, c in pair_counts.items() if c == best_count
        )
        merges.append(best_pair)
        a, b = best_pair
        ab = a + b
        # rebuild ONLY words containing the pair (pair_words may hold
        # stale indices from earlier rebuilds: their remove/re-add is a
        # net zero, so staleness costs a little work, never correctness)
        for wi in sorted(pair_words.get(best_pair, ())):
            sym = words[wi]
            c = wcount[wi]
            for p in zip(sym, sym[1:]):
                pair_counts[p] = pair_counts.get(p, 0) - c
            out: list[str] = []
            i = 0
            n = len(sym)
            while i < n:
                if i < n - 1 and sym[i] == a and sym[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            words[wi] = out
            for p in zip(out, out[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + c
                pair_words.setdefault(p, set()).add(wi)
        pair_counts.pop(best_pair, None)
        pair_words.pop(best_pair, None)
        # purge non-positive entries so the max scan stays tight
        dead = [p for p, c in pair_counts.items() if c <= 0]
        for p in dead:
            pair_counts.pop(p, None)
            pair_words.pop(p, None)
    return merges


def bpe_segment_word(word: str, rank: dict[tuple[str, str], int]) -> list[str]:
    """Apply learned merges to one word: repeatedly merge the
    LOWEST-RANK (earliest-learned) adjacent pair — the standard BPE
    inference rule, deterministic given the merge table."""
    sym = list(word) + [_BPE_EOW]
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = rank.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_i = i
        if best_rank is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus under a learned merge table: merges
    broadcast (tiny), applied per Arrow batch in mapInPandas with a
    per-batch word→segmentation memo (Zipf: a batch re-tokenizes the
    same frequent words constantly).  Output per doc: n_words,
    n_tokens, n_chars — the token-budget accounting a training-data
    pipeline runs after learning its vocabulary."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(
        {tuple(p): i for i, p in enumerate(merges)}
    )

    def tok(batches):
        import re

        import pandas as pd

        # ASCII whitespace class == Java \s (the word rule shared with
        # bpe_word_counts; python str.split() would differ on unicode
        # whitespace)
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        rank = bc.value
        memo: dict[str, int] = {}
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = str(text)
                words = [w for w in ws.split(t.lower()) if w]
                n_tok = 0
                for w in words:
                    n = memo.get(w)
                    if n is None:
                        n = len(bpe_segment_word(w, rank))
                        memo[w] = n
                    n_tok += n
                # n_chars of the RAW text (lowercasing can change
                # length for some unicode codepoints)
                rows.append((int(doc_id), len(words), n_tok, len(t)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_words", "n_tokens", "n_chars"]
            )

    return docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(
        tok, schema="doc_id long, n_words long, n_tokens long, n_chars long"
    )


# ------------------------------------------------------------------
# PCA: distributed exact-decimal covariance + driver Jacobi eigensolve
# ------------------------------------------------------------------


def pca_moments(
    emb: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[list[float]], int]:
    """Mean vector and covariance matrix of an embedding column,
    computed so the result is BIT-STABLE under any partition order or
    host (FIXTURES.md §6/§7): per-element values and centered products
    are rounded to 9 dp and summed as DECIMAL(28,9) — exact,
    order-free — and the only float ops are the final per-entry
    divisions, done driver-side in a fixed order.

    100 TB shape: two corpus passes (mean, then centered products),
    each a single map-side-combinable groupBy over d and d(d+1)/2 keys
    respectively — sufficient-statistics aggregation, nothing joins
    row-to-row and no driver materialization beyond the d×d matrix.
    The d² blow-up lives INSIDE a row (generate i≤j pairs per vector,
    explode, aggregate), so executors stream it.
    """
    first = emb.select(F.size(vec_col).alias("d")).first()
    if first is None:
        return [], [], 0
    d = first["d"]
    n = emb.count()
    sums = (
        emb.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(
                F.round(F.col("x").cast("double"), 9).cast("decimal(28,9)")
            ).alias("s")
        )
        .collect()
    )
    mean = [0.0] * d
    for r in sums:
        mean[r["i"]] = float(r["s"]) / n
    # Pass 2: centered upper-triangle products as an Arrow mapInPandas
    # sufficient-stats kernel.  Each batch emits d(d+1)/2 PARTIAL SUMS
    # of products rounded to 1e-9 and scaled to int64 — integer partial
    # sums are exact and associative, so batch/partition boundaries
    # cannot change the total (the same order-freedom the decimal-sum
    # rule buys, at numpy speed instead of a d²-per-row explode).
    # np.rint is IEEE round-half-even, elementwise → host-stable
    # (FIXTURES.md §6 only bans order-dependent REDUCTIONS; the int64
    # sum is exact).  Magnitude bound: |product|·1e9 ≤ ~1e12 per row
    # and Arrow batches are ≤ tens of thousands of rows, so partials
    # stay far below 2^63; the global total is summed as DECIMAL(38,0).
    import numpy as np
    import pandas as pd

    mean_np = np.asarray(mean, dtype=np.float64)
    iu, ju = np.triu_indices(d)

    def cov_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Xc = X - mean_np
            # GUARD the magnitude assumption the 1e9 scale rests on:
            # numpy int64 casts/sums WRAP silently on overflow, which
            # would turn an out-of-range embedding into a wrong
            # covariance instead of an error.  Worst-case partial is
            # max|Xc|² · 1e9 · batch_rows; require it under 2^62
            # (one bit of headroom).
            amax = float(np.abs(Xc).max()) if Xc.size else 0.0
            if amax * amax * 1e9 * len(pdf) >= 2.0**62:
                raise ValueError(
                    "pca_moments: centered magnitude "
                    f"{amax:.3g} over a {len(pdf)}-row batch would "
                    "overflow the int64 1e9-scaled partial sums; "
                    "normalize/clip the embeddings (or reduce "
                    "spark.sql.execution.arrow.maxRecordsPerBatch)"
                )
            partial = np.zeros(len(iu), dtype=np.int64)
            pos = 0
            for i in range(d):
                width = d - i
                prods = Xc[:, i : i + 1] * Xc[:, i:]
                partial[pos : pos + width] = (
                    np.rint(prods * 1e9).astype(np.int64).sum(axis=0)
                )
                pos += width
            yield pd.DataFrame({"i": iu, "j": ju, "s": partial})

    prods = (
        emb.select(vec_col)
        .mapInPandas(cov_partials, schema="i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    cov = [[0.0] * d for _ in range(d)]
    denom = float(max(n - 1, 1)) * 1e9
    for r in prods:
        v = float(r["s"]) / denom
        cov[r["i"]][r["j"]] = v
        cov[r["j"]][r["i"]] = v
    return mean, cov, n


def pca_project(
    emb: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    out_prefix: str = "pc",
) -> DataFrame:
    """Project each vector onto the given principal components with a
    per-row in-order zip_with/aggregate fold — the fold order is the
    array order, identical on every executor, so no rounding tricks
    are needed for cross-partition stability."""
    mean_arr = F.array(*[F.lit(m) for m in mean])
    ac = F.zip_with(
        F.col(vec_col), mean_arr, lambda x, m: x.cast("double") - m
    )
    cols = list(emb.columns)
    out = emb.withColumn("_ac", ac)
    for ci, comp in enumerate(components, start=1):
        comp_arr = F.array(*[F.lit(c) for c in comp])
        score = F.aggregate(
            F.zip_with(F.col("_ac"), comp_arr, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out.withColumn(f"{out_prefix}{ci}", score)
    return out.select(
        *cols, *[f"{out_prefix}{i+1}" for i in range(len(components))]
    )


def lsh_plane_sign(j: int, i) -> Column:
    """±1 weight of WALSH-HADAMARD hyperplane ``j`` at dimension ``i``:
    (−1)^popcount(j & i) — a fixed integer formula both engines can
    evaluate (no RNG, no floats), and the planes are mutually
    ORTHOGONAL for j in 1..dims−1.  Orthogonality is load-bearing: a
    lazier mix like ((j·31 + i·17) % 5) % 2 collapses to FIVE distinct
    planes (period 5 in both arguments), so signatures take ≤ 2^5
    values and every band bucket goes quadratic — measured as a 13 M-
    pair candidate blow-up at 25 k vectors.  Callers must start planes
    at j = 1 (j = 0 is the all-ones row)."""
    jj = F.lit(int(j))
    return F.when(
        F.bit_count(jj.bitwiseAND(i).cast("long")) % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))


def lsh_cosine_pairs(
    embeddings: DataFrame,
    n_planes: int = 16,
    n_bands: int = 2,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH near-dup pairs:
    candidates = vector pairs sharing at least one signature band,
    verified by exact cosine >= threshold.  The data-independent
    blocking complement of :func:`cosine_pairs_blocked` (which needs
    an external block key) and :func:`ivf_*` (which needs trained
    centroids).

    Determinism is the crux: a hyperplane dot computed as a FLOAT sum
    would be order-dependent under distributed aggregation (sign flips
    near 0 would change the candidate set).  Instead each component is
    scaled to an EXACT integer first — floor(v[i] * 2^30) (power-of-
    two scaling of a float32 is exact in double; floor has no rounding
    tie) — and the ±1-weighted dot is an exact BIGINT sum: order-free,
    map-side combinable, bit-identical on any engine.

    Shape: posexplode to (id, dim, component) -> ONE groupBy(id) with
    n_planes conditional integer sums (no per-plane row blow-up, no
    join against a plane table) -> band keys by bit-packing -> CACHED
    signature table -> (band, key)-exploded single self equi-join +
    distinct -> exact zip_with cosine on the candidate pairs only.
    Collisions per band bucket set the join fan-out; more bands/planes
    sharpen it at 100 TB.
    """
    if n_planes % n_bands != 0:
        # an explicit error, not an assert: asserts vanish under -O and
        # floor division would then silently drop the high planes from
        # every band, degrading candidate recall with no signal
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by n_bands "
            f"({n_bands}) — every band gets n_planes/n_bands signature "
            f"bits"
        )
    per_band = n_planes // n_bands
    xs = F.floor(F.col("x").cast("double") * F.lit(1073741824.0)).cast(
        "long"
    )
    t = embeddings.select(
        F.col(id_col).alias("id"),
        F.posexplode(vec_col).alias("i", "x"),
    ).select("id", "i", xs.alias("xs"))
    dots = t.groupBy("id").agg(
        *[
            F.sum(lsh_plane_sign(j, F.col("i")) * F.col("xs")).alias(
                f"d{j}"
            )
            for j in range(1, n_planes + 1)
        ]
    )
    band_cols = []
    for b in range(n_bands):
        # bit k of band b comes from plane j = b*per_band + k + 1
        expr = F.lit(0).cast("long")
        for k in range(per_band):
            j = b * per_band + k + 1
            expr = expr + (
                (F.col(f"d{j}") >= 0).cast("long") * F.lit(1 << k)
            )
        band_cols.append(expr.alias(f"band{b}"))
    # signature table CACHED in the bounded pool (as in
    # minhash_lsh_pairs): a per-band join over uncached signatures
    # would re-run the posexplode+groupBy build once per band per join
    # side — measured as 4 signature passes / 6 source scans with
    # zero exchange reuse (column pruning makes each subtree distinct)
    sig = persist_bounded(dots.select("id", *band_cols))
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.col(f"band{b}").alias("bk"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("s"),
    ).select("id", "s.band", "s.bk")
    ba = banded.alias("a")
    bb = banded.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    e1 = embeddings.select(
        F.col(id_col).alias("id1"), F.col(vec_col).alias("v1")
    )
    e2 = embeddings.select(
        F.col(id_col).alias("id2"), F.col(vec_col).alias("v2")
    )
    cos = dot_double(F.col("v1"), F.col("v2")) / (
        l2_norm(F.col("v1")) * l2_norm(F.col("v2"))
    )
    return (
        cand.join(e1, "id1")
        .join(e2, "id2")
        .select("id1", "id2", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def pq_train_codebook(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    max_iter: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0xF17,
    sample_size: int = 8192,
) -> "pd.DataFrame":
    """Train a product-quantization codebook: split the vector into
    ``m`` equal sub-spaces and run an independent k-means (k
    centroids, plain Lloyd) in each — the classic PQ memory lever: a
    d-dim float32 vector compresses to m bytes (one centroid id per
    sub-space) while distances remain computable from the m small
    codebooks (ADC).  Training is OFFLINE (the faiss deployment
    shape: train once on a bounded sample, ship the model) — the
    registered q_pq_codes key loads the committed frozen codebook,
    never retrains (q_sim_ivf discipline; k-means is the one
    layout/host-nondeterministic step).

    Returns a long-form pandas frame (subspace, centroid, dim, value)
    with float64 values — the committed model format.  Deterministic
    given the same input sample: seeded init, argmin ties to the
    lowest centroid id, empty clusters reseeded from the farthest
    point (stable order).
    """
    import pandas as pd

    rows = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(int(sample_size))
        .toPandas()
    )
    X = np.array([list(map(float, v)) for v in rows[vec_col]])
    n, d = X.shape
    sub = d // m
    assert sub * m == d, (d, m)
    rng = np.random.default_rng(seed)
    out = []
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        idx = rng.choice(n, size=min(k, n), replace=False)
        C = Xs[np.sort(idx)].copy()
        for _ in range(max_iter):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties -> lowest id
            # deterministic reseed: farthest points, one PER empty
            # cluster (descending min-distance order) — two empty
            # clusters must not receive the same point, or they stay
            # duplicate dead codes forever (argmin ties to lower id)
            far_order = iter(np.argsort(-d2.min(axis=1), kind="stable"))
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = Xs[mask].mean(axis=0)
                else:
                    C[c] = Xs[int(next(far_order))]
        for c in range(len(C)):
            for dim in range(sub):
                out.append((s, c, dim, float(C[c, dim])))
    return pd.DataFrame(
        out, columns=["subspace", "centroid", "dim", "value"]
    )


def simhash16_band_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Portable 16-bit simhash band-index rows
    (doc_id, band, band_key, sig16) — the maintained-dedup-index
    record format shared by the q_simhash_band_index registry key
    (batch build, DuckDB-oracle-backed) and
    streaming.simhash_index_stream (incremental upsert): one
    definition so the batch index and the streamed index can never
    disagree on a signature.

    Bit b = strict majority (2·ones > n, the simhash_signatures
    vote) of md5-hex nibble-b parity over the doc's DISTINCT tokens;
    MD5 is byte-identical cross-engine, parity is a pure string
    membership test.  4 bands × 4 bits (radius-3 pigeonhole).  ONE
    token-stream aggregate (16 conditional sums — partial-aggregable,
    no collect_list), then a literal-shift band explode."""
    odd = ("1", "3", "5", "7", "9", "b", "d", "f")
    dt = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens_col(text_col))).alias("w"),
    ).withColumn("h", F.md5("w"))
    ones = [
        F.sum(
            F.when(F.substring("h", b + 1, 1).isin(*odd), 1).otherwise(0)
        ).alias(f"o{b}")
        for b in range(16)
    ]
    bits = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *ones)
    sig = bits.select(
        "doc_id",
        sum(
            [
                F.when(
                    F.col(f"o{b}") * 2 > F.col("n"), F.lit(1 << b)
                ).otherwise(F.lit(0))
                for b in range(16)
            ],
            F.lit(0),
        )
        .cast("long")
        .alias("sig16"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                (F.shiftrightunsigned(F.col("sig16"), 4 * b) % 16)
                .cast("long")
                .alias("band_key"),
            )
            for b in range(4)
        ]
    )
    return sig.select(
        "doc_id", F.explode(band_structs).alias("bk"), "sig16"
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
        "sig16",
    )


def md5_minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc (doc_id, h1..h8) md5-MinHash signature minima —
    factored out of :func:`md5_minhash_band_rows` round 11 so the
    calibration key (q_minhash_calibration) scores estimated vs
    exact Jaccard from the IDENTICAL signature definition the index
    writes.  ZERO shuffles (narrow projection)."""
    tk = F.array_distinct(tokens_col(text_col))

    def _mh_min(j: int):
        # the transform lambda must be UNARY — a second parameter
        # (even defaulted) makes pyspark pass the ELEMENT INDEX
        tag = F.lit(f"#{j}")
        return F.array_min(
            F.transform(tk, lambda w: F.md5(F.concat(w, tag)))
        ).alias(f"h{j}")

    return docs.select(
        F.col(id_col).alias("doc_id"), *[_mh_min(j) for j in range(1, 9)]
    )


def md5_minhash_band_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Portable MinHash band-index rows (doc_id, band, band_key) —
    the Jaccard-side maintained-dedup-index record format shared by
    the q_minhash_signature_index registry key (batch build,
    DuckDB-oracle-backed) and streaming.minhash_index_stream
    (incremental upsert): one definition so the batch index and the
    streamed index can never disagree on a signature.

    8 hash functions h_j(w) = md5(w || '#' || j) compared
    LEXICOGRAPHICALLY (fixed-width lowercase hex — ASCII order is
    byte-identical cross-engine, no hex→int conversion anywhere);
    4 bands × 2 rows (band_key = concat of the band's two minima;
    the (b, r) = (4, 2) banding catches Jaccard ≳ 0.3 candidates on
    the standard 1−(1−s^r)^b curve).  ZERO shuffles: per-doc minima
    are array_min over transform on the distinct-token array (no
    explode/groupBy — the 8 md5 evaluations per token stay inside
    whole-stage codegen) and band rows explode via Generate."""
    m = md5_minhash_signatures(docs, text_col=text_col, id_col=id_col)
    return md5_minhash_band_rows_from_sigs(m)


def md5_minhash_band_rows_from_sigs(m: DataFrame) -> DataFrame:
    """Band rows from an already-built (doc_id, h1..h8) signature
    frame — split out round 13 so a consumer that ALSO needs the raw
    signatures (q_minhash_calibration joins them back onto both pair
    sides) can persist the signature table once and derive the band
    rows from the cache, instead of re-evaluating the 8-md5-per-token
    projection in every subtree that references bands (the index
    write path still goes through :func:`md5_minhash_band_rows`
    unchanged — its single-consumer plan stays one codegen span over
    the scan)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.concat(
                    F.col(f"h{2 * b + 1}"), F.col(f"h{2 * b + 2}")
                ).alias("band_key"),
            )
            for b in range(4)
        ]
    )
    return m.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def hll_register_rows(day_h: DataFrame) -> DataFrame:
    """Portable-HLL register rows (day, bucket, rho) from a
    (day, h) frame of Knuth-hashed keys — the q_hll_sketch register
    spelling (8-bit bucket, rho = 25 − len(bin(24-bit suffix))) at
    day grain: the mergeable kilobyte-per-day summary shared by
    q_rolling_distinct_hll (batch rolling fold) and
    streaming.hll_register_stream (incremental upsert) — ONE
    definition so the batch-built and streamed register tables can
    never disagree.  Registers merge by elementwise MAX (associative
    + commutative — certified as data by q_sketch_merge), so shards,
    epochs and days combine without re-reading events.  Input need
    not be deduplicated: MAX over repeated hashes equals MAX over
    distinct keys."""
    rho = F.when(F.col("h") % 16_777_216 == 0, F.lit(25)).otherwise(
        F.lit(25) - F.length(F.bin(F.col("h") % 16_777_216))
    )
    return (
        day_h.select(
            "day", F.expr("h div 16777216").alias("bucket"), rho.alias("r")
        )
        .groupBy("day", "bucket")
        .agg(F.max("r").alias("rho"))
    )


def hll_daily_registers(events: DataFrame) -> DataFrame:
    """Daily HLL registers from raw events (streaming convenience
    wrapper over :func:`hll_register_rows`)."""
    from .io import epoch_us

    return hll_register_rows(
        events.select(
            F.floor(epoch_us(events, "ts") / F.lit(86_400_000_000)).alias(
                "day"
            ),
            knuth_hash("user_id").alias("h"),
        )
    )
