"""SparkSession construction tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~= cores (not the 200 default), AQE on for runtime
re-planning/skew handling, Arrow enabled for the pandas-UDF kernels,
session timezone pinned to UTC so timestamp math is deterministic and
matches the (UTC-naive) DuckDB oracle.

``spark.sql.legacy.parquet.nanosAsLong`` is required to read the
``events`` table (parquet TIMESTAMP(NANOS) — Spark has no nanosecond
timestamp type); it is a runtime SQL conf, so :func:`ensure_engine_confs`
can also be applied to an externally provided session (the driver's).

The generated-code cache is sized by :data:`CODEGEN_CACHE_ENTRIES`
(``spark.sql.codegen.cache.maxEntries``).  That is a static SQL conf: it
only takes effect when the session is built, so :func:`get_spark` sets it
and :func:`ensure_engine_confs` cannot.  A session built elsewhere (one
handed to ``__spark_entry__``, a notebook's) keeps Spark's default of 100
entries, which is smaller than one Hi-C run's working set, and recompiles
generated classes on every repeated run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs that are safe (and required) to set on any session at runtime.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Round 14 (guide §3.1 / §9 baseline; VERDICT r13 task 4): allow
    # shuffled-hash join where the per-partition build side fits —
    # skips SMJ's two sorts.  Same-session min-of-4 A/B at sf0.1 on an
    # 11-key join-heavy basket: 9 keys −6..−22 % (q_assoc_rules 3.09
    # →2.47, q_hodges_lehmann 1.97→1.53, q_minhash_calibration 4.40
    # →3.64, q_huber_regression 2.98→2.60, q_bipartite_projection
    # 1.34→1.11), 2 flat, none slower; full-bench per-key diff showed
    # no >1.5× regression cluster (OPTIMIZATION_r14.md).  The 64 MB
    # AQE local-map threshold (= the advisory partition size, the
    # documented upper bound for it) bounds the build side per
    # partition, which is what keeps the at-scale OOM risk of a hash
    # build bounded; skew handling stays with AQE skewJoin.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64MB",
    # Generated class names carry no codegen stage id, so a stage's
    # source no longer depends on the order in which AQE happens to
    # re-plan sibling query stages.  With ids, q_theil_index's two
    # broadcast branches swap stage ids 8 and 9 from run to run, and
    # every swap misses the codegen cache (4 recompiles at runs 2 or 7
    # of 8 at sf0.001; 0 after run 1 without ids).
    "spark.sql.codegen.useIdInClassName": "false",
}


#: Entries of Spark's generated-class cache (static; set at build time).
#: Spark keys the cache on (classloader, source), so a driver-side and a
#: task-side compile of one source take two entries: a cold Hi-C CLI run
#: (perfbench hic_cli) compiles 93 classes and the registry_overhead
#: basket 114, against Spark's default cap of 100.  Warm-round compiles
#: by cap, local[2], 8 rounds: 100 -> 18 a round (hic_cli) and 23-47
#: (basket); 150 -> 0 and 4-18; 250 and 500 -> 0 and 0, apart from
#: first-time plans (q_knn_graph's second run, q_anomaly_zscore's fifth).
#: 1000 leaves 4x headroom over 250 for sessions that run several
#: workloads; Metaspace stays at 159-161 MB from 100 to 1000.
CODEGEN_CACHE_ENTRIES = 1000


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _ship_package(spark: SparkSession) -> None:
    """Make ``pfithic_spark`` importable on Python workers.

    Driver-side ``sys.path`` fixes don't reach executor Python workers:
    a pandas_udf pickled by reference needs the module importable there
    too.  Ship the package once per SparkContext as a zip via
    ``addPyFile`` — the standard deployment path, and exactly what a
    cluster submit would do with ``--py-files``.
    """
    sc = spark.sparkContext
    flag = "_pfithic_spark_shipped"
    if getattr(sc, flag, False):
        return
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # walk subpackages too (registry/ is a package since r5) — a UDF
    # closure pickled by reference to pfithic_spark.registry.keys_llm
    # needs that module inside the shipped zip
    sources = sorted(
        os.path.relpath(os.path.join(root, f), pkg_dir)
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py") and "__pycache__" not in root
    )
    stamp = max(os.path.getmtime(os.path.join(pkg_dir, f)) for f in sources)
    zpath = os.path.join(
        tempfile.gettempdir(), f"pfithic_spark_{int(stamp)}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for f in sources:
                z.write(os.path.join(pkg_dir, f), f"pfithic_spark/{f}")
        os.replace(tmp, zpath)
    try:
        sc.addPyFile(zpath)
    except Exception:
        pass  # already added under another name — imports still resolve
    setattr(sc, flag, True)


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs this engine depends on and ship the
    package to Python workers.

    Idempotent; call at the top of every externally-invoked query so the
    engine works against a session it did not build.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be locked down on a managed cluster; the engine
            # still works if the session was built with compatible values.
            pass
    _ship_package(spark)
    return spark


def get_spark(
    app: str = "pfithic-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # No carriage-return stage-progress frames on stderr/stdout:
        # the bench driver keeps only the last 2000 chars of output and
        # json-parses them — spinner frames flushed after the JSON line
        # would null the whole bench run (VERDICT r4).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_engine_confs(spark)
