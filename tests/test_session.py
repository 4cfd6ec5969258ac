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
