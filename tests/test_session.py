"""Session layer: the engine's confs, and the generated-code cache that
lets repeated runs in one session reuse their compiled classes."""

from __future__ import annotations

import gzip

import numpy as np

from pfithic_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    RUNTIME_CONFS,
    codegen_compiles,
)


def test_runtime_confs_are_runtime_settable(spark):
    """Every RUNTIME_CONFS entry can be set on a live session.  A static
    conf in that list would fail here, where ensure_engine_confs would
    swallow the failure; static confs belong in get_spark's builder."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def _write_hic_inputs(tmp_path, seed=11, nbins=120, n_draws=1500):
    """Seeded contacts, fragments and biases as headerless TSV files."""
    rng = np.random.default_rng(seed)
    paths = {k: tmp_path / f"{k}.tsv.gz" for k in ("contacts", "fragments", "biases")}
    with gzip.open(paths["contacts"], "wt") as f:
        for chrom in ("chr1", "chr2"):
            i = rng.integers(0, nbins, n_draws)
            j = np.minimum(i + (rng.pareto(1.2, n_draws) * 3 + 1).astype(int), nbins - 1)
            for a, b, cc in zip(i, j, rng.integers(1, 12, n_draws)):
                if a < b:
                    f.write(f"{chrom}\t{a*5000+2500}\t{chrom}\t{b*5000+2500}\t{cc}\n")
    with gzip.open(paths["fragments"], "wt") as f, gzip.open(paths["biases"], "wt") as g:
        for chrom in ("chr1", "chr2"):
            for k in range(nbins):
                mappable = 0.0 if k % 37 == 5 else 1.0
                f.write(f"{chrom}\t0\t{k*5000+2500}\t{rng.integers(1, 500)}\t{mappable}\n")
                g.write(f"{chrom}\t{k*5000+2500}\t{rng.uniform(0.3, 2.7):.6f}\n")
    return {k: str(v) for k, v in paths.items()}


def test_warm_pipeline_run_compiles_nothing(spark, tmp_path):
    """A second CLI-path run in the same session reuses every generated
    class of the first: the codegen cache holds the run's working set.
    The compile count does not depend on host load."""
    from pfithic_spark.api import run_pipeline_files
    from pfithic_spark.hic import SigConfig

    paths = _write_hic_inputs(tmp_path)
    cfg = SigConfig(resolution=5000, n_bins=30, passes=2)
    compiles = []
    for _ in range(2):
        before = codegen_compiles(spark)
        sig = run_pipeline_files(
            spark,
            paths["contacts"],
            paths["fragments"],
            paths["biases"],
            str(tmp_path / "out"),
            cfg,
        )
        assert sig.count() > 0
        sig.filter("q_value < 0.05").count()
        sig.unpersist()
        compiles.append(codegen_compiles(spark) - before)
    assert compiles[1] == 0, compiles


def test_warm_registry_key_compiles_nothing(spark, sf_dir):
    """Same gate for a registry key whose construction runs eager jobs."""
    import __spark_entry__

    build = __spark_entry__.queries()["q_theil_index"]
    compiles = []
    for _ in range(2):
        before = codegen_compiles(spark)
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        compiles.append(codegen_compiles(spark) - before)
    assert compiles[1] == 0, compiles


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_bounded_pool_holds_probe_and_signature_frames(spark):
    """Probe caches (windows' small-input count probe) and signature
    caches (the LSH pair generators) share one pool: after a mixed
    sequence, the pool holds exactly the BOUNDED_CACHE_KEEP most recent
    frames, still cached, and every older one is unpersisted.  Inputs
    are distinct: repeats of one plan would share a single cache entry."""
    from pyspark.sql import functions as F

    from pfithic_spark import llmops, session
    from pfithic_spark import windows as win

    session.release_bounded_caches()
    base = _n_persistent(spark)
    made: list = []

    def new_frames():
        fresh = [df for df in session._bounded_caches if not any(df is m for m in made)]
        made.extend(fresh)
        return len(fresh)

    for k in range(3):
        small = spark.range(100 + k).select(F.col("id").alias("d"), F.lit(k).alias("v"))
        win.scalable_cumsum(small, "d", {"run": "v"}, small_threshold=1000)
        assert new_frames() == 1  # the probe input
        docs = spark.createDataFrame(
            [(i, f"corpus {k} document {i} words here") for i in range(20)],
            "doc_id long, text string",
        )
        llmops.simhash_pairs(docs, max_hamming=3).collect()
        assert new_frames() == 2  # the signature and band tables

    keep = session.BOUNDED_CACHE_KEEP
    assert keep == 4
    held = session._bounded_caches
    assert len(held) == keep
    assert all(a is b for a, b in zip(held, made[-keep:]))
    assert all(df.is_cached for df in held)
    assert not any(df.is_cached for df in made[:-keep])
    assert _n_persistent(spark) <= base + keep
    session.release_bounded_caches()
    assert session._bounded_caches == []
    assert _n_persistent(spark) <= base


def test_construction_time_persists_are_released(spark, sf_dir):
    """Equal-occupancy binning and q_theil_sen_trend persist a frame
    while they build their plan; the bounded pool owns those caches, so
    after six binnings of distinct inputs and one q_theil_sen_trend run,
    release_bounded_caches() brings the persistent-RDD count back to its
    base.  Distinct inputs, because repeats of one plan share a single
    cache entry."""
    import __spark_entry__

    from pfithic_spark import session
    from pfithic_spark import windows as win

    session.release_bounded_caches()
    spark.catalog.clearCache()
    base = _n_persistent(spark)
    for k in range(6):
        byd = spark.createDataFrame(
            [(d, d % 5 + k) for d in range(1, 40 + k)], "d long, cc long"
        )
        assert len(win.equal_occupancy_assign(byd, 4).collect()) == 39 + k
    assert __spark_entry__.queries()["q_theil_sen_trend"](spark, sf_dir).count() == 1
    assert _n_persistent(spark) <= base + session.BOUNDED_CACHE_KEEP
    session.release_bounded_caches()
    assert _n_persistent(spark) <= base


def test_bounded_pool_under_concurrent_callers(spark):
    """Threads persisting into the pool at once lose no update: the pool
    ends with exactly BOUNDED_CACHE_KEEP frames, all still persisted, and
    every other frame was unpersisted.  Persisting is lazy, so no job
    runs."""
    import sys
    import threading

    from pfithic_spark import session

    session.release_bounded_caches()
    made: list = []
    made_lock = threading.Lock()

    def worker(t):
        for i in range(5):
            df = session.persist_bounded(spark.range(t * 100 + i + 1))
            with made_lock:
                made.append(df)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert len(made) == 40
    held = session._bounded_caches
    assert len(held) == session.BOUNDED_CACHE_KEEP
    assert all(df.is_cached for df in held)
    assert sum(df.is_cached for df in made) == session.BOUNDED_CACHE_KEEP
    session.release_bounded_caches()


def test_bounded_pool_passes_cached_plans_through(spark):
    """A frame whose plan is cached already, by the caller or by a frame
    the pool holds, passes through untracked and reads that cache.
    Tracked, the older frame's eviction or an over-threshold release of
    the new frame would drop the cache both read (Spark unpersists by
    plan)."""
    from pyspark import StorageLevel

    from pfithic_spark import session

    session.release_bounded_caches()
    mine = spark.range(50).cache()
    mine.count()
    same = session.persist_bounded(spark.range(50))
    assert session._bounded_caches == []
    assert same.storageLevel != StorageLevel.NONE
    first = session.persist_bounded(spark.range(60))
    first.count()
    again = session.persist_bounded(spark.range(60))
    assert len(session._bounded_caches) == 1
    assert session._bounded_caches[0] is first
    session.release_bounded(again)
    assert again.storageLevel != StorageLevel.NONE
    mine.unpersist()
    session.release_bounded_caches()
