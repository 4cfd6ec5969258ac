"""Behavioral tests for the LLM-data operators: the fixture corpus has
no duplicates, so these inject synthetic near/exact dups and assert the
operators find them (and nothing spurious at the exact tier)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pfithic_spark import llmops, session


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "src0"),
        (2, base, "src0"),  # exact dup of 1
        (3, base.replace("today", "tomorrow"), "src0"),  # near dup of 1
        (4, "completely different words about spark shuffles and joins here", "src0"),
        (5, "THE QUICK brown fox JUMPS over the lazy dog again and again today", "src1"),  # case dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_dedup_exact_groups(corpus):
    out = llmops.dedup_exact(corpus).collect()
    groups = {r["keep_doc_id"]: r["n_copies"] for r in out}
    # 1,2,5 normalize to the same text → keep 1 with 3 copies
    assert groups[1] == 3
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_finds_near_dup(corpus):
    pairs = llmops.minhash_lsh_pairs(corpus, est_threshold=0.2).collect()
    found = {(r["id1"], r["id2"]): r["est_jaccard"] for r in pairs}
    # exact dups: signature match 1.0
    assert found[(1, 2)] == pytest.approx(1.0)
    assert found[(1, 5)] == pytest.approx(1.0)
    # near dup shares most shingles
    assert found[(1, 3)] > 0.5
    # unrelated doc never pairs with the fox docs
    assert not any(4 in p for p in found)


def test_simhash_finds_near_dup(corpus):
    pairs = llmops.simhash_pairs(corpus, max_hamming=12).collect()
    found = {(r["id1"], r["id2"]): r["hamming"] for r in pairs}
    assert found[(1, 2)] == 0
    assert found[(1, 5)] == 0
    assert found.get((1, 3), 99) <= 12
    assert (1, 4) not in found and (2, 4) not in found and (3, 4) not in found


def test_lsh_hot_bucket_cap_fires(spark):
    """Round-7 hardening: a mass-duplicated document collides in EVERY
    band/chunk bucket — C(B,2) inside one hot bucket is the residual
    quadratic of the banded LSH shape.  With max_bucket set, the hot
    buckets are dropped (no pairs among the mass-dup clones) while a
    planted near-dup pair OUTSIDE the hot cluster is still recovered;
    with max_bucket=None the clone pairs all appear (exhaustive
    baseline proving the cap is what suppressed them)."""
    base = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    # the cold pair is an exact dup (identical signatures -> identical
    # buckets of size 2, never hot): the test gates the CAP, not the
    # banding's near-dup recall (covered elsewhere)
    pair_text = "spark shuffles partition data across many executors tonight"
    n_clones = 30
    rows = [(i, base, "src0") for i in range(n_clones)]
    rows += [(1000, pair_text, "src0"), (1001, pair_text, "src0")]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )

    capped = llmops.minhash_lsh_pairs(
        docs, est_threshold=0.2, max_bucket=10
    ).collect()
    got = {(r["id1"], r["id2"]) for r in capped}
    assert (1000, 1001) in got, "cap must not drop cold-bucket pairs"
    assert not any(p[0] < n_clones for p in got), (
        "hot-bucket clone pairs must be dropped",
        sorted(got)[:5],
    )
    exhaustive = llmops.minhash_lsh_pairs(
        docs, est_threshold=0.2, max_bucket=None
    ).collect()
    clone_pairs = {
        (r["id1"], r["id2"])
        for r in exhaustive
        if r["id1"] < n_clones and r["id2"] < n_clones
    }
    assert len(clone_pairs) == n_clones * (n_clones - 1) // 2

    s_capped = llmops.simhash_pairs(
        docs, max_hamming=3, max_bucket=10
    ).collect()
    s_got = {(r["id1"], r["id2"]) for r in s_capped}
    assert (1000, 1001) in s_got
    assert not any(p[0] < n_clones for p in s_got)
    s_exh = llmops.simhash_pairs(
        docs, max_hamming=3, max_bucket=None
    ).collect()
    s_clone = {
        (r["id1"], r["id2"])
        for r in s_exh
        if r["id1"] < n_clones and r["id2"] < n_clones
    }
    assert len(s_clone) == n_clones * (n_clones - 1) // 2


def test_ngram_jaccard_max_df_prunes_hot_shingles(spark):
    """max_df drops ubiquitous shingles from candidate generation (the
    100 TB skew lever) while max_df=None stays exhaustive: docs sharing
    ONLY a boilerplate shingle pair under None but not under max_df."""
    boiler = "all rights reserved worldwide"
    rows = [
        (1, f"alpha beta gamma delta {boiler}", "s"),
        (2, f"epsilon zeta eta theta {boiler}", "s"),
        (3, f"alpha beta gamma delta unique tail words here", "s"),
        (4, f"iota kappa lambda mu {boiler}", "s"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    full = {
        (r["id1"], r["id2"])
        for r in llmops.ngram_jaccard_pairs(d, block_col="source").collect()
    }
    # boilerplate-only pairs exist under the exhaustive form
    assert (1, 2) in full and (2, 4) in full and (1, 3) in full
    pruned = {
        (r["id1"], r["id2"]): r["common"]
        for r in llmops.ngram_jaccard_pairs(
            d, block_col="source", max_df=2
        ).collect()
    }
    # shingles from the 3x-repeated boilerplate are gone: boiler-only
    # pairs vanish, genuinely-similar pair (1,3) survives
    assert (1, 2) not in pruned and (2, 4) not in pruned
    assert (1, 3) in pruned


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_dir):
    """Property gate for the rows-only q_dedup_near: on a corpus with
    injected near-dups, the signature-estimated Jaccard must track the
    exact 3-gram Jaccard within the MinHash-64 sampling error
    (se = sqrt(J(1-J)/64) ≈ 0.06; assert |est - exact| < 0.25)."""
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(80)
        .select("doc_id", "text")
    )
    near = d.select(
        (F.col("doc_id") + 100_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tokens appended here now")).alias(
            "text"
        ),
    )
    corpus = d.unionByName(near).cache()
    est = {
        (r["id1"], r["id2"]): r["est_jaccard"]
        for r in llmops.minhash_lsh_pairs(corpus, est_threshold=0.05).collect()
    }
    assert len(est) >= 40  # the injected twins must surface
    # exact 3-gram Jaccard for the candidate pairs
    sh = llmops.shingle_rows(corpus, "text", "doc_id", 3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("sz").alias("sz2"))
    exact = {
        (r["id1"], r["id2"]): r["common"] / (r["sz1"] + r["sz2"] - r["common"])
        for r in common.join(s1, "id1").join(s2, "id2").collect()
    }
    for pair, e_j in est.items():
        x_j = exact.get(pair, 0.0)
        assert abs(e_j - x_j) < 0.25, (pair, e_j, x_j)


def test_simhash_exact_within_radius(spark, sf_dir):
    """Pigeonhole guarantee: banding must return EXACTLY the pairs a
    brute-force Hamming self-join finds within the radius — 100% recall
    (the round-1 4×16 banding silently missed radius-4..12 pairs) and
    100% precision (the bit_count filter)."""
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(150)
        .select("doc_id", "text")
    )
    # exact twins (Hamming 0) + perturbed twins (small Hamming > 0)
    copies = d.select((F.col("doc_id") + 100_000).alias("doc_id"), "text")
    near = d.select(
        (F.col("doc_id") + 200_000).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" zz qq extra trailing tokens appended")
        ).alias("text"),
    )
    corpus = d.unionByName(copies).unionByName(near)
    sigs = llmops.simhash_signatures(corpus).cache()
    a, b = sigs.alias("a"), sigs.alias("b")
    all_pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id1"),
        F.col("b.doc_id").alias("id2"),
        F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("ham"),
    )
    for radius in (3, 7, 15):
        exact = {
            (r["id1"], r["id2"])
            for r in all_pairs.filter(F.col("ham") <= radius).collect()
        }
        got = {
            (r["id1"], r["id2"])
            for r in llmops.simhash_pairs(corpus, max_hamming=radius).collect()
        }
        assert got == exact, f"radius {radius}: banding != brute force"
    assert len(exact) >= 150  # the twins guarantee a non-trivial pair set
    with pytest.raises(ValueError):
        llmops.simhash_pairs(corpus, max_hamming=16)


def test_cosine_topk_self_similarity(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = llmops.cosine_topk(e, e.filter(F.col("vec_id") == 1), k=3).collect()
    order = [r["e_id"] for r in sorted(out, key=lambda r: r["rn"])]
    assert order == [2, 3, 4]  # most→least similar to e1
    top = {r["e_id"]: r["cosine"] for r in out}
    assert top[2] > 0.99 and abs(top[3]) < 1e-9 and top[4] == pytest.approx(-1.0)


def test_multimodal_stub_guard():
    """The real decode path must refuse loudly without codec libs."""
    import pandas as pd

    from pfithic_spark import multimodal

    with pytest.raises(NotImplementedError):
        multimodal.decode_image_batch(pd.Series([b"abc"]), fake=False)


def test_ivf_topk_structure_and_recall(spark, sf_dir):
    """IVF results: k rows per query, cosines never beat brute force,
    and recall@5 is meaningfully above random (nprobe=4 of 16 cells)."""
    import __spark_entry__ as e

    brute = e.queries()["q_sim_topk"](spark, sf_dir).toPandas()
    approx = e.queries()["q_sim_ivf"](spark, sf_dir).toPandas()
    assert set(approx["q_id"]) == set(brute["q_id"])
    assert (approx.groupby("q_id").size() <= 5).all()
    hits = 0
    total = 0
    for qid, grp in brute.groupby("q_id"):
        want = set(grp["e_id"])
        got = set(approx[approx["q_id"] == qid]["e_id"])
        # approx cosine values must be <= the brute-force best
        assert approx[approx["q_id"] == qid]["cosine"].max() <= grp["cosine"].max() + 1e-9
        hits += len(want & got)
        total += len(want)
    recall = hits / total
    assert recall > 0.25, f"recall@5 {recall} suspiciously low"


def test_ivf_trained_centroids_recall(spark, sf_dir):
    """Distributed k-means centroid training (the IVF index-build step)
    must produce cells good enough that nprobe=4/16 probing recalls a
    solid fraction of the brute-force top-5."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    brute = llmops.cosine_topk(e, q, k=5).toPandas()
    cents = llmops.ivf_train_centroids(e, k=16, max_iter=10)
    assert len(cents) == 16 and len(cents[0]) == 64
    approx = llmops.ivf_topk(e, q, cents, k=5, nprobe=4).toPandas()
    hits = total = 0
    for qid, grp in brute.groupby("q_id"):
        want = set(grp["e_id"])
        got = set(approx[approx["q_id"] == qid]["e_id"])
        hits += len(want & got)
        total += len(want)
    assert hits / total > 0.3, f"trained-centroid recall {hits/total}"


def test_multimodal_resize_and_frames(spark, sf_dir):
    """Resize respects bounds & aspect math; frame sampling emits
    ceil(frames/stride) rows per doc."""
    from pfithic_spark import multimodal

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    p = multimodal.with_binary_payload(d)
    rz = multimodal.resize_media(p, max_w=128, max_h=128).collect()
    assert len(rz) == 50
    for r in rz:
        assert 1 <= r["out_width"] <= 128 and 1 <= r["out_height"] <= 128
        if r["src_width"] <= 128 and r["src_height"] <= 128:
            assert (r["out_width"], r["out_height"]) == (
                r["src_width"],
                r["src_height"],
            )
    fr = multimodal.sample_frames(p, stride=4).groupBy("doc_id").count().collect()
    meta = multimodal.extract_media_meta(p).collect()
    frames = {r["doc_id"]: r["fake_frames"] for r in meta}
    for r in fr:
        assert r["count"] == -(-frames[r["doc_id"]] // 4)  # ceil


def test_short_docs_do_not_crash_shingle_ops(spark):
    """Documents shorter than the shingle width must yield empty shingle
    sets, not an element_at out-of-bounds crash — real corpora are full
    of 1-2-token documents (the driver fixture happens not to be)."""
    from pfithic_spark import llmops
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [
            (1, "one", "src_a"),
            (2, "two words", "src_a"),
            (3, "now three tokens", "src_b"),
            (4, "", "src_b"),
            (5, "a b c d e f g h", "src_b"),
        ],
        "doc_id long, text string, source string",
    )
    sh = d.select(
        "doc_id", F.size(llmops.shingles_col("text", 3)).alias("n")
    ).collect()
    got = {r["doc_id"]: r["n"] for r in sh}
    assert got == {1: 0, 2: 0, 3: 1, 4: 0, 5: 6}
    # row-form consumers drop short docs instead of crashing
    assert llmops.shingle_rows(d, k=3).filter(
        F.col("doc_id").isin(1, 2, 4)
    ).count() == 0
    # end-to-end: jaccard + minhash + contamination run over short docs
    assert llmops.ngram_jaccard_pairs(d, k=3).count() >= 0
    assert llmops.minhash_lsh_pairs(d).count() >= 0
    assert llmops.contamination_pairs(d, d.filter("doc_id = 5"), k=3).count() >= 0


def test_pack_sequences_conservation(spark, sf_dir):
    """Packing must be a partition of the corpus: every document lands
    in exactly one sequence and token mass is conserved."""
    from pfithic_spark import llmops
    from pfithic_spark.io import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    packed = llmops.pack_sequences(d, target_tokens=2048, n_shards=16)
    agg = packed.agg(
        F.sum("n_docs").alias("docs"), F.sum("total_tokens").alias("toks")
    ).collect()[0]
    want = d.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("toks"),
    ).collect()[0]
    assert agg["docs"] == want["docs"]
    assert agg["toks"] == want["toks"]
    # within a (source, shard) stream, ids start at 0 (first doc has
    # cum_before 0); gaps are legal — a doc longer than the target can
    # span whole buckets — so only the lower bound is an invariant
    ids = packed.groupBy("source", "shard").agg(
        F.min("seq_id").alias("lo"),
        F.max("seq_id").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    for r in ids.collect():
        assert r["lo"] == 0 and r["n"] <= r["hi"] + 1, r


def test_connected_components_transitive_chain_and_star(spark):
    """CC must close multi-hop structure the pairwise output can't:
    a 5-node chain (diameter 4 — forces several propagation rounds)
    and a star, plus singletons; labels = min id of the component."""
    from pfithic_spark import llmops

    edges = spark.createDataFrame(
        # chain 10-11-12-13-14, star 20-{21,22,23}, pair 30-31
        [(10, 11), (11, 12), (12, 13), (13, 14),
         (20, 21), (20, 22), (20, 23), (30, 31)],
        "id1 long, id2 long",
    )
    verts = spark.createDataFrame(
        [(v,) for v in [10, 11, 12, 13, 14, 20, 21, 22, 23, 30, 31, 40, 41]],
        "doc_id long",
    )
    # both paths must agree: the driver union-find fast path and the
    # distributed min-label/pointer-jump loop (small_threshold=None)
    for thr in (2_000_000, None):
        out = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in llmops.connected_components(
                edges, verts, small_threshold=thr
            ).collect()
        }
        assert all(out[v] == (10, 5) for v in (10, 11, 12, 13, 14)), thr
        assert all(out[v] == (20, 4) for v in (20, 21, 22, 23)), thr
        assert out[30] == (30, 2) and out[31] == (30, 2), thr
        assert out[40] == (40, 1) and out[41] == (41, 1), thr


def test_connected_components_random_vs_union_find(spark):
    """Seeded random graph vs an independent python union-find: exact
    component-id and size agreement (min-id labeling)."""
    import numpy as np

    from pfithic_spark import llmops

    rng = np.random.default_rng(42)
    n = 300
    m = 260
    e = rng.integers(0, n, size=(m, 2))
    e = e[e[:, 0] != e[:, 1]]
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in e], "id1 long, id2 long"
    )
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in e:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want_label = {v: find(v) for v in range(n)}
    # min-id labeling: union-find with min-root merging yields min roots
    sizes: dict[int, int] = {}
    for v in range(n):
        sizes[want_label[v]] = sizes.get(want_label[v], 0) + 1

    got = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"])
        for r in llmops.connected_components(edges, verts).collect()
    }
    assert len(got) == n
    for v in range(n):
        assert got[v] == (want_label[v], sizes[want_label[v]]), v


def test_overlap_join_report_once_multi_bucket(spark):
    """A pair overlapping across MANY shared band buckets must be
    reported exactly once (the report-once rule), and touching
    endpoints count as overlap (closed intervals)."""
    from pfithic_spark import relational as rel

    left = spark.createDataFrame(
        [(1, 0, 100), (2, 200, 210), (3, 500, 501)],
        "lid long, lo1 long, hi1 long",
    )
    right = spark.createDataFrame(
        [(10, 5, 95), (11, 210, 220), (12, 502, 600), (13, 100, 101)],
        "rid long, lo2 long, hi2 long",
    )
    out = rel.overlap_join(left, right, band=16)
    pairs = sorted((r["lid"], r["rid"]) for r in out.collect())
    # (1,10): 6+ shared buckets -> once; (2,11): endpoint touch 210;
    # (1,13): endpoint touch 100; (3,12): adjacent but disjoint (501<502)
    assert pairs == [(1, 10), (1, 13), (2, 11)]


def test_curate_cli_end_to_end(tmp_path):
    """`python -m pfithic_spark.curate` (the EXT curation CLI) runs the
    whole keep-list → curated corpus → packed sequences pipeline in a
    fresh process and its stats line must agree with the oracled
    q_curation_pipeline keep-list count."""
    import json
    import os
    import subprocess
    import sys

    import duckdb

    sf = "/root/testdata/sf0.001"
    out = tmp_path / "curated_out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            sys.executable, "-m", "pfithic_spark.curate",
            "-i", f"{sf}/documents.parquet", "-o", str(out),
        ],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(r.stdout.strip().splitlines()[-1])
    assert (out / "keep_list.parquet").exists()
    assert (out / "curated.parquet").exists()
    assert (out / "sequences.parquet").exists()

    con = duckdb.connect()
    n_docs = con.execute(
        f"SELECT COUNT(*) FROM '{sf}/documents.parquet'"
    ).fetchone()[0]
    n_keep = con.execute(
        f"SELECT COUNT(*) FROM '{out}/keep_list.parquet/*.parquet'"
    ).fetchone()[0]
    n_curated = con.execute(
        f"SELECT COUNT(*) FROM read_parquet("
        f"'{out}/curated.parquet/*/*.parquet', hive_partitioning=1)"
    ).fetchone()[0]
    # token mass conservation: packed sequences carry every kept doc
    tok_docs, tok_seqs = con.execute(
        f"""SELECT
          (SELECT SUM(LEN(STRING_SPLIT(text, ' '))) FROM read_parquet(
             '{out}/curated.parquet/*/*.parquet', hive_partitioning=1)),
          (SELECT SUM(total_tokens) FROM '{out}/sequences.parquet/*.parquet')
        """
    ).fetchone()
    assert stats["n_input_docs"] == n_docs
    assert stats["n_kept_docs"] == n_keep == n_curated > 0
    assert tok_docs == tok_seqs
    # agrees with the registry key (same dataflow, oracled separately)
    import __spark_entry__ as e
    from pfithic_spark.session import get_spark

    spark = get_spark(app="curate-check", cpus=4)
    assert e.queries()["q_curation_pipeline"](spark, sf).count() == n_keep


def test_unpersist_discipline(spark, sf_dir):
    """A session sweeping many corpora must not accrue executor memory:
    each LSH pair-generator call releases the previous signature cache,
    release_bounded_caches() drops the last one, and q_pagerank frees
    its edge-list/degree caches after materializing (keeping only the
    node-sized checkpoint)."""
    jsc = spark.sparkContext._jsc

    def n_persistent():
        return jsc.getPersistentRDDs().size()

    spark.catalog.clearCache()
    base = n_persistent()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    llmops.minhash_lsh_pairs(d).collect()
    llmops.simhash_pairs(d, max_hamming=3).collect()
    llmops.minhash_lsh_pairs(d).collect()
    # GROWTH bounds only (never equality-to-baseline: the baseline may
    # include checkpoint RDDs from earlier tests that the background
    # ContextCleaner releases mid-test, dropping the count below base).
    # At most the BOUNDED_CACHE_KEEP most recent caches survive the sweep:
    assert n_persistent() <= base + session.BOUNDED_CACHE_KEEP
    session.release_bounded_caches()
    assert n_persistent() <= base
    import __spark_entry__ as e

    pr = e.queries()["q_pagerank"](spark, sf_dir)
    assert len(pr.collect()) > 0
    # edge-list + degree caches released; only the node-sized rank
    # checkpoint (2 longs per node) may remain
    assert n_persistent() <= base + 1


def test_bpe_train_known_corpus(spark):
    """Classic BPE on a hand-checkable corpus: 'low' x5 + 'lower' x2 —
    the first merges must build up 'low' ('l','o' then 'lo','w'),
    with deterministic lexicographic tie-breaks."""
    docs = spark.createDataFrame(
        [(i, "low") for i in range(5)] + [(9, "lower"), (10, "lower")],
        "doc_id long, text string",
    )
    wc = llmops.bpe_word_counts(docs)
    assert wc == [("low", 5), ("lower", 2)]
    merges = llmops.bpe_train_merges(wc, num_merges=10)
    # ('l','o') count 7 and ('o','w') count 7 tie → lexicographic min
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")
    # 'low</w>' (5) beats 'er</w>' chain (2)
    assert merges[2] == ("low", "</w>")
    rank = {p: i for i, p in enumerate(merges)}
    assert llmops.bpe_segment_word("low", rank) == ["low</w>"]
    seg = llmops.bpe_segment_word("lowest", rank)
    assert "".join(seg) == "lowest</w>"  # round-trip on an unseen word
    out = {
        r["doc_id"]: r for r in llmops.bpe_tokenize(docs, merges).collect()
    }
    assert out[0]["n_tokens"] == 1  # 'low' → ['low</w>']
    assert out[0]["n_words"] == 1 and out[0]["n_chars"] == 3


def test_pca_moments_overflow_guard(spark):
    """Embeddings whose centered magnitude would overflow the int64
    1e9-scaled covariance partials must RAISE, not silently wrap
    (ADVICE r4: np.rint(...).astype(int64) wraps without error)."""
    import pytest as _pytest

    from pfithic_spark.llmops import pca_moments

    big = 1.0e7  # centered product ~1e14 → ×1e9 ≫ 2^62 per element
    emb = spark.createDataFrame(
        [(i, [big * (1 if i % 2 else -1), 0.0]) for i in range(8)],
        "id long, embedding array<double>",
    )
    with _pytest.raises(Exception, match="overflow the int64"):
        pca_moments(emb, vec_col="embedding")


def test_heavy_hitter_candidates_bounded_on_clustered_corpus(spark):
    """Adversarially TOPIC-CLUSTERED stream: every partition has its
    own locally-frequent vocabulary (the layout real corpora grouped
    by source/topic have).  The old single-level sweep's candidate
    union grew with the number of partitions; the two-level MG merge
    must keep the driver collect ≤ k rows AND still contain every
    true φ-hitter (superset guarantee)."""
    from collections import Counter

    from pfithic_spark.llmops import heavy_hitter_candidates

    n_topics, rows_per_topic, k = 64, 500, 20  # φ = 0.1
    rows = []
    for t in range(n_topics):
        # 10 topic-local words, each locally frequent (clears any
        # per-batch bar) but globally rare
        for i in range(rows_per_topic):
            rows.append((t, f"topic{t}_w{i % 10}"))
        # one GLOBAL heavy hitter threaded through every topic
        for i in range(rows_per_topic):
            rows.append((t, "global_hh"))
    toks = (
        spark.createDataFrame(rows, "topic int, w string")
        .repartition(n_topics, "topic")  # one topic per partition
        .select("w")
    )
    cand, n_total = heavy_hitter_candidates(toks, k)
    assert n_total == len(rows)
    assert len(cand) <= k, (
        f"candidate set {len(cand)} exceeds capacity {k} — the "
        "driver-side union is unbounded again"
    )
    # superset: every true phi-hitter present
    true_counts = Counter(w for _, w in rows)
    phi = 2.0 / k
    true_hh = {w for w, c in true_counts.items() if c > phi * n_total}
    assert true_hh  # sanity: global_hh qualifies
    assert true_hh <= set(cand)


def test_heavy_hitter_candidates_empty_input(spark):
    from pfithic_spark.llmops import heavy_hitter_candidates

    toks = spark.createDataFrame([], "w string")
    cand, n = heavy_hitter_candidates(toks, 10)
    assert cand == [] and n == 0


def test_containment_is_directional(spark):
    """Round-7 q_dedup_containment: a short doc whose shingles are a
    subset of a long doc's must be reported as CONTAINED in it
    (containment 1.0) while the reverse direction fails the threshold
    — the asymmetry Jaccard cannot express (here J ≈ 0.14 < 0.6)."""
    short = "alpha bravo charlie delta echo"  # 3 shingles
    longd = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey"
    )  # 21 shingles, the first 3 shared
    docs = spark.createDataFrame(
        [(1, short, "s"), (2, longd, "s"), (3, "zulu yankee xray whiskey", "s")],
        "doc_id long, text string, source string",
    )
    rows = llmops.ngram_containment_pairs(
        docs, threshold_num=3, threshold_den=5, max_df=None
    ).collect()
    got = {(r["contained"], r["container"]): r for r in rows}
    assert (1, 2) in got, rows
    assert got[(1, 2)]["containment"] == 1.0
    assert got[(1, 2)]["common"] == 3 and got[(1, 2)]["set_sz"] == 3
    assert (2, 1) not in got, "reverse direction must fail the threshold"
    assert not any(3 in k for k in got), "disjoint doc must not pair"


def test_pq_reseed_gives_distinct_points_per_empty_cluster(spark):
    """ADVICE r8: when ≥2 clusters go empty in the same Lloyd
    iteration, each must be reseeded from a DIFFERENT farthest point
    (descending min-distance order), not all from the single farthest
    — duplicate reseeds stay dead codes forever (argmin ties to the
    lower id).  Data/seed chosen so init picks three identical
    centroids (value 0), emptying clusters 1 and 2 in iteration 1:
    the two reseeds must be the two distinct outlier values."""
    vals = [0, 0, 0, 0, 0, 0, 0, 0, 50, 100]
    df = spark.createDataFrame(
        [(i, [float(v)]) for i, v in enumerate(vals)],
        "vec_id long, embedding array<double>",
    )
    cb = llmops.pq_train_codebook(
        df, m=1, k=3, max_iter=1, seed=1, sample_size=10
    )
    # cluster 0 keeps the mean of all 10 assigned points (15.0); the
    # two empties take the two distinct outliers.  Pre-fix output was
    # [15.0, 100.0, 100.0] — one dead duplicate.
    cents = sorted(cb["value"].tolist())
    assert cents == [15.0, 50.0, 100.0], cents


def test_cosine_topk_gemm_equals_catalyst(spark, sf_dir):
    """cosine_topk_gemm (round 14) must emit BIT-identical rows to the
    brute-force broadcast-join cosine_topk it replaced — same
    (q_id, e_id, rn) set, byte-identical cosine doubles — on the live
    fixture AND on a planted tie block (identical vectors force exact
    rounded-cosine ties broken by e_id)."""
    import struct

    from pfithic_spark.io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)

    def keyed(rows):
        return sorted(
            (r["q_id"], r["e_id"], r["rn"], struct.pack("<d", r["cosine"]))
            for r in rows
        )

    ref = keyed(llmops.cosine_topk(e, q, k=5).collect())
    got = keyed(llmops.cosine_topk_gemm(e, q, k=5).collect())
    assert len(got) == len(ref) and got == ref

    def vec(pattern):
        return [float(x) for x in pattern] + [0.0] * (64 - len(pattern))

    planted = spark.createDataFrame(
        [
            (1, vec([10, 0])),
            (7, vec([10, 0])),
            (3, vec([10, 0])),
            (5, vec([10, 0.001])),
            (9, vec([0, 10])),
            (11, vec([7, 7])),
            (12, vec([10, 0])),
        ],
        "vec_id long, embedding array<float>",
    )
    pq = planted.filter(F.col("vec_id") <= 3)
    ref2 = keyed(llmops.cosine_topk(planted, pq, k=3).collect())
    got2 = keyed(llmops.cosine_topk_gemm(planted, pq, k=3).collect())
    assert got2 == ref2
