"""Reference-native IO path: headerless TSV/gz round trips through the
fixed positional schemas (the reference's input model, SURVEY.md §1.1)."""

from __future__ import annotations

import gzip

from pfithic_spark import io as pio


def test_contacts_tsv_gz_roundtrip(spark, tmp_path):
    raw = [
        ("chr1", 2500, "chr1", 7500, 4),
        ("chr1", 2500, "chr2", 12500, 1),
        ("chr2", 7500, "chr2", 17500, 9),
    ]
    src = tmp_path / "contacts.tsv.gz"
    with gzip.open(src, "wt") as f:
        for r in raw:
            f.write("\t".join(map(str, r)) + "\n")
    df = pio.read_contacts_tsv(spark, str(src))
    # csv reads force nullable=True; names+types are the contract
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in pio.CONTACTS_SCHEMA.fields
    ]
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(raw)

    # write back as gz tsv and re-read
    out = tmp_path / "out"
    pio.write_tsv_gz(df, str(out))
    back = pio.read_contacts_tsv(spark, str(out))
    assert sorted(tuple(r) for r in back.collect()) == sorted(raw)


def test_malformed_lines_dropped(spark, tmp_path):
    """A corrupt line must not kill a 100 TB ingest: permissive parse →
    nulls on required columns → dropped, valid rows untouched."""
    src = tmp_path / "contacts.tsv"
    src.write_text(
        "chr1\t2500\tchr1\t7500\t4\n"
        "garbage line without tabs\n"
        "chr1\tnot_a_number\tchr1\t7500\t2\n"
        "chr2\t2500\tchr2\t12500\t1\n"
        "chr1\t2500\n"  # wrong arity
    )
    got = sorted(tuple(r) for r in pio.read_contacts_tsv(spark, str(src)).collect())
    assert got == [
        ("chr1", 2500, "chr1", 7500, 4),
        ("chr2", 2500, "chr2", 12500, 1),
    ]


def test_fragments_biases_schemas(spark, tmp_path):
    frags = tmp_path / "frags.tsv"
    frags.write_text("chr1\t0\t2500\t120\t0.85\nchr1\t0\t7500\t0\t0.0\n")
    fdf = pio.read_fragments_tsv(spark, str(frags))
    rows = {r["frag_mid"]: r for r in fdf.collect()}
    assert rows[2500]["marginal_count"] == 120
    assert rows[7500]["mappable"] == 0.0

    biases = tmp_path / "biases.tsv"
    biases.write_text("chr1\t2500\t1.05\nchr1\t7500\t-1\n")
    bdf = pio.read_biases_tsv(spark, str(biases))
    vals = {r["mid"]: r["bias"] for r in bdf.collect()}
    assert vals[2500] == 1.05 and vals[7500] == -1.0  # sentinel preserved


def test_epoch_us_both_encodings(spark):
    """io.epoch_us must yield identical epoch-µs for the same instant
    whether ts arrives as an epoch-nanos long (legacy TIMESTAMP(NANOS)
    under nanosAsLong) or as a timestamp (TIMESTAMP(MICROS) fixtures)."""
    from pyspark.sql import functions as F

    us = 1_704_067_207_179_575  # 2024-01-01 00:00:07.179575 UTC
    as_long = spark.range(1).select((F.lit(us) * 1000).alias("ts"))
    as_ts = spark.range(1).select(
        F.timestamp_micros(F.lit(us)).alias("ts")
    )
    as_ntz = as_ts.select(F.col("ts").cast("timestamp_ntz").alias("ts"))
    for df in (as_long, as_ts, as_ntz):
        got = df.select(pio.epoch_us(df).alias("us")).collect()[0]["us"]
        assert got == us, df.dtypes


def test_run_pipeline_files_fragment_census(spark, tmp_path):
    """With a fragment file, the pipeline drops contacts touching bad
    fragments AND censuses possible pairs from the surviving fragments
    only (not a fully-occupied grid)."""
    import gzip

    import numpy as np

    from pfithic_spark.api import run_pipeline_files
    from pfithic_spark.hic import SigConfig

    rng = np.random.default_rng(3)
    n = 50
    bad_bins = {7, 23}  # unmappable loci
    frags = tmp_path / "frags.tsv"
    with open(frags, "w") as f:
        for i in range(n):
            mappable = 0.0 if i in bad_bins else 1.0
            f.write(f"chr1\t0\t{i*5000+2500}\t10\t{mappable}\n")
    src = tmp_path / "contacts.tsv.gz"
    with gzip.open(src, "wt") as f:
        for _ in range(600):
            i, j = sorted(rng.integers(0, n, 2))
            if i == j:
                continue
            cc = 1 + rng.poisson(12 / (1 + (j - i)))
            f.write(f"chr1\t{i*5000+2500}\tchr1\t{j*5000+2500}\t{cc}\n")
    out = tmp_path / "out"
    cfg = SigConfig(n_bins=15, passes=1)
    sig = run_pipeline_files(spark, str(src), str(frags), None, str(out), cfg)
    pdf = sig.toPandas()
    assert len(pdf) > 0
    bad_mids = {b * 5000 + 2500 for b in bad_bins}
    assert not (pdf["mid1"].isin(bad_mids) | pdf["mid2"].isin(bad_mids)).any()
    assert ((pdf["p_value"] >= 0) & (pdf["p_value"] <= 1)).all()
    assert ((pdf["q_value"] >= 0) & (pdf["q_value"] <= 1)).all()


def test_run_pipeline_files_end_to_end(spark, tmp_path):
    """api.run_pipeline_files: TSV in → significances out (CLI core)."""
    import gzip

    import numpy as np

    from pfithic_spark.api import run_pipeline_files
    from pfithic_spark.hic import SigConfig

    rng = np.random.default_rng(1)
    src = tmp_path / "contacts.tsv.gz"
    with gzip.open(src, "wt") as f:
        for _ in range(800):
            i, j = sorted(rng.integers(0, 80, 2))
            if i == j:
                continue
            cc = 1 + rng.poisson(15 / (1 + (j - i)))
            f.write(f"chr1\t{i*5000+2500}\tchr1\t{j*5000+2500}\t{cc}\n")
    out = tmp_path / "out"
    cfg = SigConfig(n_bins=20, passes=1)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    sig = run_pipeline_files(spark, str(src), None, None, str(out), cfg)
    pdf = sig.toPandas()
    assert len(pdf) > 0
    # the returned table is the only cache the pipeline leaves behind
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 1
    sig.unpersist()
    assert not set(jsc.getPersistentRDDs().keySet()) - before
    assert ((pdf["p_value"] >= 0) & (pdf["p_value"] <= 1)).all()
    assert (out / "significances.parquet").exists()
    assert (out / "significances.tsv.gz").exists()
    # per-pass bin-stats files (reference fithic_pass{n}.txt analog)
    import pandas as pd

    stats = pd.read_csv(out / "bin_stats_pass1.txt.gz", sep="\t")
    assert {"bin_id", "sum_cc", "n_pairs", "n_possible", "avg_dist", "prob"} <= set(
        stats.columns
    )
    assert len(stats) > 0 and stats["avg_dist"].is_monotonic_increasing


def test_cli_end_to_end(tmp_path):
    """`python -m pfithic_spark` (the reference's CLI surface) runs the
    full file pipeline in a fresh process: its own session bootstrap,
    argparse wiring, and outputs."""
    import gzip
    import os
    import subprocess
    import sys

    import numpy as np

    rng = np.random.default_rng(7)
    src = tmp_path / "contacts.tsv.gz"
    with gzip.open(src, "wt") as f:
        for _ in range(400):
            i, j = sorted(rng.integers(0, 60, 2))
            if i == j:
                continue
            cc = 1 + rng.poisson(10 / (1 + (j - i)))
            f.write(f"chr1\t{i*5000+2500}\tchr1\t{j*5000+2500}\t{cc}\n")
    out = tmp_path / "cli_out"
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [
            sys.executable, "-m", "pfithic_spark",
            "-i", str(src), "-o", str(out),
            "-r", "5000", "-b", "12", "-p", "1",
        ],
        cwd=repo,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "scored" in r.stdout
    assert (out / "significances.parquet").exists()
    assert (out / "significances.tsv.gz").exists()
    assert (out / "bin_stats_pass1.txt.gz").exists()


def test_jsonl_roundtrip_with_complex_types(spark, tmp_path):
    """JSON-lines sink/source: values, arrays and structs survive the
    round trip; explicit schema on read (the production contract)."""
    from pyspark.sql import functions as F

    src = spark.range(0, 50).select(
        F.col("id"),
        (F.col("id") * 2).alias("v"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
    )
    out = str(tmp_path / "docs_jsonl")
    pio.write_jsonl(src, out)
    back = pio.read_jsonl(spark, out, schema=src.schema)
    # json reads force nullable=True (incl. nested containsNull);
    # names+types are the contract
    assert back.schema.simpleString() == src.schema.simpleString()
    assert sorted(r["id"] for r in back.collect()) == list(range(50))
    row = back.filter("id = 7").collect()[0]
    assert row["arr"] == [7, 8] and row["st"]["a"] == 7 and row["st"]["b"] == "x"


def test_orc_roundtrip_partitioned_pruning(spark, tmp_path):
    """ORC sink/source: partitioned write, and a partition-key filter
    prunes to a single partition directory at planning time."""
    from pyspark.sql import functions as F

    src = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("part"), (F.col("id") * 3).alias("v")
    )
    out = str(tmp_path / "orc_part")
    pio.write_orc(src, out, partition_by=["part"])
    back = pio.read_orc(spark, out)
    assert back.count() == 100
    q = back.filter(F.col("part") == 2)
    assert q.count() == 25
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan reports a pushed partition filter,
    # not a post-scan Filter over all four partitions
    assert "PartitionFilters: [isnotnull(part" in plan


def test_atomic_parquet_sink_commit_protocol(spark, tmp_path):
    """Manifest commit protocol: committed snapshots round-trip, a
    crashed writer (staging dir, no manifest) is invisible, appends
    stack, overwrite replaces, and a reader of snapshot N never sees
    in-flight staging for N+1."""
    import os

    from pfithic_spark.io import (
        read_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "atomic_ds")
    d1 = spark.range(10).withColumnRenamed("id", "v")
    write_parquet_atomic(d1, path, mode="overwrite")
    assert read_parquet_atomic(spark, path).count() == 10
    # crashed writer: staged files but NO manifest → invisible
    crash = os.path.join(path, "_staging_deadbeef0000")
    spark.range(99).withColumnRenamed("id", "v").write.mode(
        "overwrite"
    ).parquet(crash)
    assert read_parquet_atomic(spark, path).count() == 10
    # append stacks on the last committed snapshot
    write_parquet_atomic(
        spark.range(5).withColumnRenamed("id", "v"), path, mode="append"
    )
    df = read_parquet_atomic(spark, path)
    assert df.count() == 15
    assert sorted(r["v"] for r in df.collect()) == sorted(
        list(range(10)) + list(range(5))
    )
    # overwrite replaces the whole snapshot
    write_parquet_atomic(
        spark.range(3).withColumnRenamed("id", "v"), path, mode="overwrite"
    )
    assert read_parquet_atomic(spark, path).count() == 3
    # snapshot isolation: a handle opened on snapshot N still reads N
    # after N+1 commits (file list is pinned at read time)
    before = read_parquet_atomic(spark, path)
    write_parquet_atomic(
        spark.range(7).withColumnRenamed("id", "v"), path, mode="overwrite"
    )
    assert before.count() == 3
    assert read_parquet_atomic(spark, path).count() == 7


def test_atomic_parquet_sink_no_manifest_raises(spark, tmp_path):
    import pytest as _pytest

    from pfithic_spark.io import read_parquet_atomic

    with _pytest.raises(FileNotFoundError):
        read_parquet_atomic(spark, str(tmp_path / "nothing_here"))


def test_atomic_sink_time_travel_and_compaction(spark, tmp_path):
    """Time travel reads any historical seq; compaction rewrites the
    newest snapshot into fewer files with identical rows, as a new
    snapshot — older seqs stay readable afterward."""
    import json
    import os

    from pfithic_spark.io import (
        compact_parquet_atomic,
        read_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "tt_ds")
    write_parquet_atomic(
        spark.range(4).withColumnRenamed("id", "v").repartition(4),
        path,
        mode="overwrite",
    )
    write_parquet_atomic(
        spark.range(4, 10).withColumnRenamed("id", "v").repartition(6),
        path,
        mode="append",
    )
    # time travel: seq 1 = first snapshot only
    assert read_parquet_atomic(spark, path, as_of_seq=1).count() == 4
    assert read_parquet_atomic(spark, path).count() == 10
    # compaction: same rows, fewer files, new snapshot (seq 3)
    manifest = compact_parquet_atomic(spark, path, target_files=1)
    with open(manifest) as fh:
        m = json.load(fh)
    assert m["seq"] == 3 and len(m["files"]) == 1
    after = read_parquet_atomic(spark, path)
    assert sorted(r["v"] for r in after.collect()) == list(range(10))
    # pre-compaction snapshots still readable (files never rewritten)
    assert read_parquet_atomic(spark, path, as_of_seq=2).count() == 10
    assert read_parquet_atomic(spark, path, as_of_seq=1).count() == 4
    with __import__("pytest").raises(FileNotFoundError):
        read_parquet_atomic(spark, path, as_of_seq=99)


def test_spline_plot_svg_sink(spark, tmp_path):
    """The reference's spline-fit diagnostic plot, as dependency-free
    SVG: run the real fit on fixture contacts, write the plot, parse
    the XML back, and check the curve/point geometry is present,
    finite, and monotone non-increasing in screen space."""
    import xml.etree.ElementTree as ET

    from pfithic_spark import fixtures as fx
    from pfithic_spark import hic
    from pfithic_spark.io import write_spline_plot_svg
    from pfithic_spark.relational import with_distance
    from pfithic_spark.windows import per_distance_totals

    c = with_distance(fx.fixture_contacts(spark, "/root/testdata/sf0.001"))
    cfg = hic.SigConfig(n_bins=fx.NBINS_OCC, passes=1)
    dists, n_poss, _m = hic.possible_pairs_np(
        [fx.NBINS_GRID] * fx.N_CHROMS, fx.RES, 0, 2**62
    )
    bin_stats, curve, _ = hic.fit_null_curve(
        spark, per_distance_totals(c), None, (dists, n_poss), cfg
    )
    out = str(tmp_path / "spline.svg")
    write_spline_plot_svg(bin_stats, curve, out, title="sf0.001 null fit")
    root = ET.parse(out).getroot()
    assert root.tag.endswith("svg")
    ns = {"s": "http://www.w3.org/2000/svg"}
    polys = root.findall(".//s:polyline", ns)
    assert len(polys) == 1
    pts = [
        tuple(map(float, p.split(",")))
        for p in polys[0].attrib["points"].split()
    ]
    assert len(pts) >= 10
    # null curve is non-increasing in probability → non-decreasing in
    # screen y (SVG y grows downward); allow float slack
    ys = [y for _, y in pts]
    assert all(b >= a - 1e-6 for a, b in zip(ys, ys[1:]))
    circles = root.findall(".//s:circle", ns)
    assert len(circles) == len(bin_stats)
    for c_ in circles:
        assert 0 <= float(c_.attrib["cx"]) <= 640
        assert 0 <= float(c_.attrib["cy"]) <= 440


def test_spline_plot_svg_escapes_title(spark, tmp_path):
    """XML-special characters in the title must not break the SVG."""
    import xml.etree.ElementTree as ET

    import pandas as pd

    from pfithic_spark.io import write_spline_plot_svg

    bs = pd.DataFrame({"avg_dist": [1e4, 1e5], "prob": [1e-4, 1e-6]})
    out = str(tmp_path / "esc.svg")
    write_spline_plot_svg(
        bs, ([1e4, 1e5], [1e-4, 1e-6]), out, title="K562 & GM12878 <rep1>"
    )
    root = ET.parse(out).getroot()  # parse fails if unescaped
    assert root.tag.endswith("svg")


def test_zorder_write_and_stats_pruning(spark, tmp_path):
    """Z-order layout + manifest min/max file skipping: a 2-D needle
    predicate over a Morton-clustered table must skip most files (the
    lakehouse pruning layer), and the pruned read must return EXACTLY
    the rows the full scan returns for the same filter."""
    from pyspark.sql import functions as F

    from pfithic_spark.io import (
        atomic_snapshot_files,
        read_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "zds")
    n = 20_000
    df = (
        spark.range(n)
        .select(
            (F.col("id") % 200).alias("x"),
            (F.col("id") / 200).cast("bigint").alias("y"),
            F.col("id").alias("payload"),
        )
    )
    write_parquet_atomic(
        df,
        path,
        mode="overwrite",
        zorder_by=["x", "y"],
        zorder_files=16,
        stats_cols=["x", "y"],
    )
    all_files, _ = atomic_snapshot_files(path)
    assert len(all_files) == 16
    pred = {"x": (10, 20), "y": (10, 20)}
    kept, skipped = atomic_snapshot_files(path, predicate=pred)
    # a linear sort on x would leave y's envelope [0,99] in every file;
    # the Morton layout keeps BOTH tight → most files skip
    assert skipped >= len(all_files) // 2, (len(kept), skipped)
    cond = (
        (F.col("x") >= 10) & (F.col("x") <= 20)
        & (F.col("y") >= 10) & (F.col("y") <= 20)
    )
    got = (
        read_parquet_atomic(spark, path, predicate=pred)
        .filter(cond)
        .collect()
    )
    exp = df.filter(cond).collect()
    assert sorted(r["payload"] for r in got) == sorted(
        r["payload"] for r in exp
    )


def test_stats_pruning_append_and_missing_stats(spark, tmp_path):
    """Stats survive appends (merged manifests); files written WITHOUT
    stats are conservatively kept under any predicate."""
    from pfithic_spark.io import atomic_snapshot_files, write_parquet_atomic

    path = str(tmp_path / "sds")
    lo = spark.range(0, 100).withColumnRenamed("id", "k")
    hi = spark.range(1000, 1100).withColumnRenamed("id", "k")
    write_parquet_atomic(
        lo.coalesce(1), path, mode="overwrite", stats_cols=["k"]
    )
    write_parquet_atomic(
        hi.coalesce(1), path, mode="append", stats_cols=["k"]
    )
    # no-stats append: must never be pruned
    write_parquet_atomic(
        spark.range(5000, 5010).withColumnRenamed("id", "k").coalesce(1),
        path,
        mode="append",
    )
    files, _ = atomic_snapshot_files(path)
    assert len(files) == 3
    kept, skipped = atomic_snapshot_files(path, predicate={"k": (0, 50)})
    assert skipped == 1  # the [1000,1100) file skips; no-stats file kept
    kept2, skipped2 = atomic_snapshot_files(
        path, predicate={"k": (2000, 3000)}
    )
    assert skipped2 == 2  # both stat-bearing files skip


def test_atomic_schema_evolution(spark, tmp_path):
    """Additive schema evolution: files appended before a column
    existed read as NULL for it under merge_schema=True, and
    historical snapshots keep their original schema."""
    from pfithic_spark.io import read_parquet_atomic, write_parquet_atomic
    from pyspark.sql import functions as F

    path = str(tmp_path / "evo")
    v1 = spark.range(3).select(F.col("id").alias("k"))
    write_parquet_atomic(v1.coalesce(1), path, mode="overwrite")
    v2 = spark.range(3, 6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("extra")
    )
    write_parquet_atomic(v2.coalesce(1), path, mode="append")
    df = read_parquet_atomic(spark, path, merge_schema=True)
    assert set(df.columns) == {"k", "extra"}
    rows = {r["k"]: r["extra"] for r in df.collect()}
    assert rows[0] is None and rows[4] == 40
    # time travel to seq 1 sees only the original schema
    old = read_parquet_atomic(spark, path, as_of_seq=1)
    assert old.columns == ["k"]


def test_incremental_read_between_snapshots(spark, tmp_path):
    """New-files-only incremental consumption between committed seqs,
    and the non-append (rewritten-history) refusal."""
    import pytest as _pytest

    from pfithic_spark.io import (
        compact_parquet_atomic,
        read_parquet_atomic_incremental,
        write_parquet_atomic,
    )

    path = str(tmp_path / "inc")
    write_parquet_atomic(
        spark.range(0, 10).withColumnRenamed("id", "v").coalesce(1),
        path,
        mode="overwrite",
    )
    write_parquet_atomic(
        spark.range(10, 15).withColumnRenamed("id", "v").coalesce(1),
        path,
        mode="append",
    )
    write_parquet_atomic(
        spark.range(15, 18).withColumnRenamed("id", "v").coalesce(1),
        path,
        mode="append",
    )
    delta = read_parquet_atomic_incremental(spark, path, from_seq=1)
    assert sorted(r["v"] for r in delta.collect()) == list(range(10, 18))
    d12 = read_parquet_atomic_incremental(spark, path, 1, 2)
    assert sorted(r["v"] for r in d12.collect()) == list(range(10, 15))
    # same-seq window → empty, schema preserved
    d_empty = read_parquet_atomic_incremental(spark, path, 3, 3)
    assert d_empty.count() == 0 and d_empty.columns == ["v"]
    # compaction rewrites history → incremental across it must refuse
    compact_parquet_atomic(spark, path)
    with _pytest.raises(ValueError, match="non-append"):
        read_parquet_atomic_incremental(spark, path, from_seq=1)


def test_vacuum_atomic_table(spark, tmp_path):
    """VACUUM removes expired manifests, unreferenced data files, and
    crashed-writer staging dirs; retained snapshots stay readable."""
    import os

    from pfithic_spark.io import (
        read_parquet_atomic,
        vacuum_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "vac")
    write_parquet_atomic(
        spark.range(5).withColumnRenamed("id", "v").coalesce(1),
        path,
        mode="overwrite",
    )
    write_parquet_atomic(
        spark.range(5, 9).withColumnRenamed("id", "v").coalesce(1),
        path,
        mode="append",
    )
    # overwrite orphans the first two snapshots' files
    write_parquet_atomic(
        spark.range(100, 103).withColumnRenamed("id", "v").coalesce(1),
        path,
        mode="overwrite",
    )
    # crashed writer
    crash = os.path.join(path, "_staging_deadbeefcafe")
    spark.range(42).write.mode("overwrite").parquet(crash)
    # default grace (24 h): a FRESH staging dir — indistinguishable
    # from a concurrent in-flight writer — must survive vacuum
    res0 = vacuum_parquet_atomic(path, keep_last_n=1)
    assert res0["staging_dirs_removed"] == 0
    assert os.path.exists(crash)
    assert res0["manifests_removed"] == 2
    # grace 0 = explicit post-crash cleanup: now it goes
    res = vacuum_parquet_atomic(path, keep_last_n=1, staging_grace_seconds=0)
    assert res["data_files_removed"] + res0["data_files_removed"] >= 2
    assert res["staging_dirs_removed"] >= 1
    assert not os.path.exists(crash)
    df = read_parquet_atomic(spark, path)
    assert sorted(r["v"] for r in df.collect()) == [100, 101, 102]
    # keep_last_n=1 → only one manifest remains
    assert (
        sum(1 for n in os.listdir(path) if n.startswith("manifest-")) == 1
    )


def test_zorder_write_empty_input(spark, tmp_path):
    """zorder_by on an empty DataFrame (empty micro-batch, filtered-to-
    nothing append) must write an empty snapshot, not TypeError on
    missing bounds."""
    from pfithic_spark.io import read_parquet_atomic, write_parquet_atomic
    from pyspark.sql import functions as F

    path = str(tmp_path / "zempty")
    empty = spark.range(10).filter(F.col("id") < 0).select(
        F.col("id").alias("x"), (F.col("id") * 2).alias("y")
    )
    write_parquet_atomic(
        empty, path, mode="overwrite", zorder_by=["x", "y"],
        stats_cols=["x"],
    )
    assert read_parquet_atomic(spark, path).count() == 0


def test_table_maintenance_cli(spark, tmp_path, capsys):
    """snapshots / vacuum subcommands of the table-maintenance CLI."""
    import json

    from pfithic_spark.io import write_parquet_atomic
    from pfithic_spark.table import main as table_main

    path = str(tmp_path / "tcli")
    d = spark.range(4).withColumnRenamed("id", "v")
    write_parquet_atomic(d.coalesce(1), path, mode="overwrite", txid="a1")
    write_parquet_atomic(d.coalesce(1), path, mode="append", txid="a2")
    table_main(["snapshots", path])
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    assert [s["seq"] for s in lines] == [1, 2]
    assert lines[1]["n_files"] == 2 and lines[1]["txid"] == "a2"
    table_main(["vacuum", path, "--keep", "1"])
    res = json.loads(capsys.readouterr().out.strip())
    assert res["manifests_removed"] == 1
    table_main(["snapshots", path])
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
    ]
    assert [s["seq"] for s in lines] == [2]


def test_empty_snapshot_readable(spark, tmp_path):
    """An overwrite committing ZERO files (empty DataFrame — e.g. an
    SCD2 batch fully filtered out) must stay readable: empty result
    with the schema stored in the manifest, both at head and via time
    travel (ADVICE r4: the old fallback IndexError'd on base[0])."""
    from pfithic_spark.io import read_parquet_atomic, write_parquet_atomic

    path = str(tmp_path / "empty_snap")
    d = spark.range(3).withColumnRenamed("id", "v")
    write_parquet_atomic(d, path, mode="overwrite")  # seq 1: 3 rows
    write_parquet_atomic(d.limit(0), path, mode="overwrite")  # seq 2: empty
    def names_types(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    head = read_parquet_atomic(spark, path)
    assert head.count() == 0
    assert names_types(head) == names_types(d)
    # time travel both ways across the empty snapshot
    assert read_parquet_atomic(spark, path, as_of_seq=1).count() == 3
    tt = read_parquet_atomic(spark, path, as_of_seq=2)
    assert tt.count() == 0 and names_types(tt) == names_types(d)
    # appending after an empty snapshot still works
    write_parquet_atomic(d, path, mode="append")
    assert read_parquet_atomic(spark, path).count() == 3


def test_all_files_pruned_uses_stored_schema(spark, tmp_path):
    """Stats-pruning every file must return an empty frame with the
    manifest's stored schema (no parquet footer read needed)."""
    from pfithic_spark.io import read_parquet_atomic, write_parquet_atomic

    path = str(tmp_path / "pruned_all")
    d = spark.range(10).withColumnRenamed("id", "v")
    write_parquet_atomic(d, path, mode="overwrite", stats_cols=["v"])
    out = read_parquet_atomic(spark, path, predicate={"v": (1000, 2000)})
    assert out.count() == 0
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in d.schema.fields
    ]


def test_append_merges_snapshot_schema(spark, tmp_path):
    """An append whose batch lacks a column must not shrink the
    snapshot's stored schema: pruned-to-empty reads still expose every
    column any retained file carries (review r5 finding)."""
    from pyspark.sql import functions as F

    from pfithic_spark.io import read_parquet_atomic, write_parquet_atomic

    path = str(tmp_path / "schema_merge")
    wide = spark.range(5).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("c")
    )
    write_parquet_atomic(
        wide.coalesce(1), path, mode="overwrite", stats_cols=["a"]
    )
    narrow = spark.range(5, 8).select(F.col("id").alias("a"))
    write_parquet_atomic(
        narrow.coalesce(1), path, mode="append", stats_cols=["a"]
    )
    # prune every file: the empty frame must still carry column c
    out = read_parquet_atomic(spark, path, predicate={"a": (1000, 2000)})
    assert out.count() == 0
    assert set(out.columns) == {"a", "c"}


def test_vacuum_fresh_empty_staging_dir_survives(spark, tmp_path):
    """An EMPTY staging dir (writer between mkdir and first file) is
    protected by the same grace window as populated ones, and vacuum
    honors remove_staging_orphans=False for it too."""
    import os

    from pfithic_spark.io import vacuum_parquet_atomic, write_parquet_atomic

    path = str(tmp_path / "vac_empty")
    write_parquet_atomic(
        spark.range(3).withColumnRenamed("id", "v"), path, mode="overwrite"
    )
    fresh = os.path.join(path, "_staging_inflight00")
    os.makedirs(fresh)
    vacuum_parquet_atomic(path, keep_last_n=1)  # default 24h grace
    assert os.path.isdir(fresh)
    vacuum_parquet_atomic(
        path, keep_last_n=1, staging_grace_seconds=0,
        remove_staging_orphans=False,
    )
    assert os.path.isdir(fresh)  # opt-out respected even at grace 0
    vacuum_parquet_atomic(path, keep_last_n=1, staging_grace_seconds=0)
    assert not os.path.exists(fresh)


def test_vacuum_sees_nested_writer_activity(spark, tmp_path):
    """Staging mtime aging must look at the WHOLE tree: Spark writers
    nest files under _temporary/0/..., and only those leaves carry
    recent mtimes once the job is running (review r5 finding)."""
    import os
    import time

    from pfithic_spark.io import vacuum_parquet_atomic, write_parquet_atomic

    path = str(tmp_path / "vac_nested")
    write_parquet_atomic(
        spark.range(3).withColumnRenamed("id", "v"), path, mode="overwrite"
    )
    staging = os.path.join(path, "_staging_longjob00")
    nested = os.path.join(staging, "_temporary", "0", "task_000")
    os.makedirs(nested)
    leaf = os.path.join(nested, "part-0.parquet")
    open(leaf, "w").write("x")
    # age the TOP levels far past any grace; the leaf stays fresh
    old = time.time() - 10 * 24 * 3600
    for p in (staging, os.path.join(staging, "_temporary")):
        os.utime(p, (old, old))
    vacuum_parquet_atomic(path, keep_last_n=1, staging_grace_seconds=3600)
    assert os.path.exists(leaf), "active nested writer was swept"


def test_optimize_binpacks_small_files_only(spark, tmp_path):
    """Incremental OPTIMIZE: small files bin-pack into few rewritten
    files; the large file is carried into the new manifest UNTOUCHED
    (same relative path — no bytes rewritten); rows identical; time
    travel to the pre-optimize snapshot intact; a further optimize is
    a no-op."""
    import json

    from pfithic_spark.io import (
        optimize_parquet_atomic,
        read_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "opt_ds")
    # one "large" file: 5k rows in a single part
    write_parquet_atomic(
        spark.range(5000).withColumnRenamed("id", "v").coalesce(1),
        path,
        mode="overwrite",
    )
    big_manifest = json.load(open(write_parquet_atomic(
        spark.range(5000, 5008).withColumnRenamed("id", "v")
        .repartition(8),
        path,
        mode="append",
    )))
    # round-robin repartition drops empty partitions, so count what
    # actually landed rather than assuming 8 part files
    n_files = len(big_manifest["files"])
    assert n_files >= 4
    sizes = {}
    import os

    for rel in big_manifest["files"]:
        sizes[rel] = os.path.getsize(os.path.join(path, rel))
    big_rel = max(sizes, key=sizes.get)
    # threshold between the tiny 1-row files and the 5k-row file
    plan = optimize_parquet_atomic(
        spark,
        path,
        target_bytes=1 << 30,
        small_file_bytes=sizes[big_rel],
    )
    assert plan["rewritten_files"] == n_files - 1 and plan["bins"] == 1
    assert plan["kept_files"] == 1
    m = json.load(open(plan["manifest"]))
    assert m["seq"] == 3
    assert big_rel in m["files"], "large file must be referenced, not rewritten"
    assert len(m["files"]) == 2  # big + one packed file
    after = read_parquet_atomic(spark, path)
    assert sorted(r["v"] for r in after.collect()) == list(range(5008))
    # pre-optimize snapshot intact
    assert read_parquet_atomic(spark, path, as_of_seq=2).count() == 5008
    # idempotent: nothing small remains -> no-op, no new manifest
    plan2 = optimize_parquet_atomic(
        spark, path, target_bytes=1 << 30, small_file_bytes=sizes[big_rel]
    )
    assert plan2["manifest"] is None and plan2["bins"] == 0


def test_optimize_dry_run_and_singleton_bins(spark, tmp_path):
    """dry_run plans without touching storage; a bin that would hold
    one file is never rewritten (1->1 buys nothing)."""
    import json
    import os

    from pfithic_spark.io import (
        optimize_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "opt_dry")
    write_parquet_atomic(
        spark.range(6).withColumnRenamed("id", "v").repartition(3),
        path,
        mode="overwrite",
    )
    before = sorted(os.listdir(path))
    plan = optimize_parquet_atomic(
        spark, path, target_bytes=1 << 30, dry_run=True
    )
    assert plan["manifest"] is None
    assert plan["rewritten_files"] == 3 and plan["bins"] == 1
    assert sorted(os.listdir(path)) == before, "dry run must not write"
    # singleton demotion: make every file ELIGIBLE (explicit
    # small_file_bytes above all sizes) but the bin capacity too small
    # for any two files -> every bin is a singleton -> demoted back to
    # kept, nothing rewritten (a 1->1 rewrite buys nothing)
    m0 = json.load(
        open(os.path.join(path, [n for n in before if n.startswith("manifest-")][0]))
    )
    sizes = sorted(
        os.path.getsize(os.path.join(path, rel)) for rel in m0["files"]
    )
    plan1 = optimize_parquet_atomic(
        spark,
        path,
        target_bytes=sizes[0] + sizes[1] - 1,
        small_file_bytes=sizes[-1] + 1,
    )
    assert plan1["bins"] == 0 and plan1["manifest"] is None
    assert plan1["kept_files"] == len(m0["files"])
    assert plan1["rewritten_files"] == 0
    # manifest count unchanged
    manifests = [n for n in os.listdir(path) if n.startswith("manifest-")]
    assert len(manifests) == 1
    # sanity: a real run afterwards does commit
    plan2 = optimize_parquet_atomic(spark, path, target_bytes=1 << 30)
    assert plan2["manifest"] is not None
    m = json.load(open(plan2["manifest"]))
    assert len(m["files"]) == 1


def test_optimize_conflict_refused_and_stats_recomputed(spark, tmp_path):
    """An append landing during the rewrite is detected at the commit
    re-check (ValueError, caller retries); with stats-carrying tables
    the rewritten files get fresh [min,max] envelopes so file-skipping
    keeps working."""
    import json

    import pytest

    from pfithic_spark import io as pio
    from pfithic_spark.io import (
        optimize_parquet_atomic,
        read_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "opt_conflict")
    write_parquet_atomic(
        spark.range(8).withColumnRenamed("id", "v").repartition(4),
        path,
        mode="overwrite",
        stats_cols=["v"],
    )

    def inject_append(p, txid):
        write_parquet_atomic(
            spark.range(8, 9).withColumnRenamed("id", "v"),
            p,
            mode="append",
            stats_cols=["v"],
        )

    pio._FAILPOINT_OPTIMIZE_BEFORE_CHECK = inject_append
    try:
        with pytest.raises(ValueError, match="optimize conflict"):
            optimize_parquet_atomic(spark, path, target_bytes=1 << 30)
    finally:
        pio._FAILPOINT_OPTIMIZE_BEFORE_CHECK = None
    # retry after the conflict succeeds and rows are intact
    plan = optimize_parquet_atomic(spark, path, target_bytes=1 << 30)
    assert plan["manifest"] is not None
    m = json.load(open(plan["manifest"]))
    # every file carries a fresh/carried stats envelope for v
    assert set(m["stats"]) == set(m["files"])
    lo = min(s["v"][0] for s in m["stats"].values())
    hi = max(s["v"][1] for s in m["stats"].values())
    assert (lo, hi) == (0, 8)
    after = read_parquet_atomic(spark, path)
    assert sorted(r["v"] for r in after.collect()) == list(range(9))


def test_optimize_respects_schema_evolution(spark, tmp_path):
    """Rewritten bins are read under the SNAPSHOT schema: files
    written before an additive column still optimize correctly, the
    missing column surfacing as nulls exactly as a reader sees it."""
    from pyspark.sql import functions as F

    from pfithic_spark.io import (
        optimize_parquet_atomic,
        read_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "opt_evo")
    write_parquet_atomic(
        spark.range(3).withColumnRenamed("id", "v").repartition(3),
        path,
        mode="overwrite",
    )
    write_parquet_atomic(
        spark.range(3, 6)
        .withColumnRenamed("id", "v")
        .withColumn("extra", F.col("v") * 10)
        .repartition(3),
        path,
        mode="append",
    )
    plan = optimize_parquet_atomic(spark, path, target_bytes=1 << 30)
    assert plan["bins"] == 1 and plan["rewritten_files"] >= 2
    after = read_parquet_atomic(spark, path).orderBy("v").collect()
    assert [r["v"] for r in after] == [0, 1, 2, 3, 4, 5]
    assert [r["extra"] for r in after] == [None, None, None, 30, 40, 50]


def test_optimize_then_vacuum_keeps_referenced_files(spark, tmp_path):
    """vacuum(keep_last_n=1) after an optimize removes the superseded
    small files but keeps every file the optimize manifest references
    (retention is reference-based), and the table still reads."""
    from pfithic_spark.io import (
        optimize_parquet_atomic,
        read_parquet_atomic,
        vacuum_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "opt_vac")
    write_parquet_atomic(
        # five input partitions of two rows each: five files at any core
        # count (repartition(5) can leave a partition empty)
        spark.range(0, 10, 1, 5).withColumnRenamed("id", "v"),
        path,
        mode="overwrite",
    )
    plan = optimize_parquet_atomic(spark, path, target_bytes=1 << 30)
    assert plan["bins"] == 1
    out = vacuum_parquet_atomic(path, keep_last_n=1, staging_grace_seconds=0)
    assert out["manifests_removed"] == 1
    assert out["data_files_removed"] == 5  # the superseded small files
    assert sorted(
        r["v"] for r in read_parquet_atomic(spark, path).collect()
    ) == list(range(10))


def test_table_cli_optimize(spark, tmp_path, capsys, monkeypatch):
    """optimize subcommand: dry-run plans, real run commits.  The CLI
    owns its session lifecycle, so the test pins get_spark to the
    shared session and neutralizes stop()."""
    import json

    import pfithic_spark.session as sess
    from pfithic_spark.io import write_parquet_atomic
    from pfithic_spark.table import main as table_main

    monkeypatch.setattr(sess, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    path = str(tmp_path / "tcli_opt")
    write_parquet_atomic(
        spark.range(6).withColumnRenamed("id", "v").repartition(3),
        path,
        mode="overwrite",
    )
    table_main(["optimize", path, "--dry-run"])
    plan = json.loads(capsys.readouterr().out.strip())
    assert plan["manifest"] is None and plan["bins"] == 1
    table_main(["optimize", path])
    plan = json.loads(capsys.readouterr().out.strip())
    assert plan["manifest"] is not None and plan["rewritten_files"] == 3


def test_append_schema_type_conflict_refused(spark, tmp_path):
    """Additive evolution appends fine; a TYPE change on an existing
    column refuses the commit before any bytes land (mixed-type files
    under one stored schema poison every future read)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from pfithic_spark.io import read_parquet_atomic, write_parquet_atomic

    path = str(tmp_path / "enforce")
    write_parquet_atomic(
        spark.range(3).select(F.col("id").alias("v")),
        path,
        mode="overwrite",
    )
    # additive: ok
    write_parquet_atomic(
        spark.range(3).select(
            F.col("id").alias("v"), F.lit("x").alias("tag")
        ),
        path,
        mode="append",
    )
    before = sorted(os.listdir(path))
    with pytest.raises(ValueError, match="schema enforcement.*'v'"):
        write_parquet_atomic(
            spark.range(3).select(F.col("id").cast("string").alias("v")),
            path,
            mode="append",
        )
    assert sorted(os.listdir(path)) == before, "refusal must land no bytes"
    # overwrite migration IS the sanctioned path for a type change
    write_parquet_atomic(
        spark.range(3).select(F.col("id").cast("string").alias("v")),
        path,
        mode="overwrite",
    )
    assert read_parquet_atomic(spark, path).schema["v"].dataType.simpleString() == "string"


def test_check_constraints_gate_commits(spark, tmp_path):
    """CHECK constraints: a violating batch is refused with per-
    constraint counts (NULLs count as violations); a clean batch
    commits; and the constraints are TABLE-SCOPED — a later writer
    that omits checks= is still bound by the stored set, and an
    overwrite replaces it."""
    import pytest

    from pfithic_spark.io import read_parquet_atomic, write_parquet_atomic

    path = str(tmp_path / "checked")
    checks = {
        "v_nonneg": "v >= 0",
        "tag_not_null": "tag IS NOT NULL",
    }
    bad = spark.createDataFrame(
        [(1, "a"), (-2, None), (3, None)], "v long, tag string"
    )
    with pytest.raises(ValueError, match="v_nonneg.*1") as ei:
        write_parquet_atomic(bad, path, mode="append", checks=checks)
    assert "tag_not_null" in str(ei.value)
    good = spark.createDataFrame([(1, "a"), (3, "b")], "v long, tag string")
    write_parquet_atomic(good, path, mode="append", checks=checks)
    assert read_parquet_atomic(spark, path).count() == 2
    # table-scoped: a writer that never heard of the constraints is
    # still gated by the manifest-stored set
    with pytest.raises(ValueError, match="v_nonneg"):
        write_parquet_atomic(
            spark.createDataFrame([(-1, "x")], "v long, tag string"),
            path,
            mode="append",
        )
    # ...and a clean anonymous append commits (stored checks pass)
    write_parquet_atomic(
        spark.createDataFrame([(9, "c")], "v long, tag string"),
        path,
        mode="append",
    )
    assert read_parquet_atomic(spark, path).count() == 3
    # overwrite REPLACES the stored constraint set
    write_parquet_atomic(
        spark.createDataFrame([(-5, None)], "v long, tag string"),
        path,
        mode="overwrite",
    )
    assert read_parquet_atomic(spark, path).count() == 1


def test_compact_carries_check_constraints(spark, tmp_path):
    """ADVICE r6 (high): compaction is a pure physical rewrite — it
    must CARRY the table's stored CHECK constraints through its
    overwrite commit (previously the manifest came out with checks:{},
    silently unguarding every future append) and must NOT re-validate
    rows that already live in the table against constraints added
    after they were written."""
    import pytest

    from pfithic_spark.io import (
        _newest_manifest_meta,
        compact_parquet_atomic,
        read_parquet_atomic,
        write_parquet_atomic,
    )

    path = str(tmp_path / "compact_checks")
    # batch 1 predates the constraint and legally violates it
    write_parquet_atomic(
        spark.createDataFrame([(-1,)], "v long"), path, mode="append"
    )
    write_parquet_atomic(
        spark.createDataFrame([(5,)], "v long"),
        path,
        mode="append",
        checks={"v_nonneg": "v >= 0"},
    )
    # compaction succeeds despite the pre-constraint -1 row...
    compact_parquet_atomic(spark, path, target_files=1)
    assert read_parquet_atomic(spark, path).count() == 2
    # ...and the constraint SURVIVES the rewrite: stored in the new
    # manifest and still gating appends
    assert _newest_manifest_meta(path).get("checks") == {
        "v_nonneg": "v >= 0"
    }
    with pytest.raises(ValueError, match="v_nonneg"):
        write_parquet_atomic(
            spark.createDataFrame([(-9,)], "v long"), path, mode="append"
        )


def test_concurrent_check_modification_conflicts(spark, tmp_path, monkeypatch):
    """ADVICE r6 (medium): a constraint whose SQL was MODIFIED (same
    name) while a batch staged means the batch was validated against a
    stale expression — the commit must refuse, not silently write the
    stale SQL back over the concurrent change.  A caller's own
    deliberate same-name update must NOT self-conflict."""
    import pytest

    import pfithic_spark.io as pio

    path = str(tmp_path / "concurrent_mod")
    pio.write_parquet_atomic(
        spark.createDataFrame([(10,)], "v long"),
        path,
        mode="append",
        checks={"v_min": "v >= 0"},
    )
    # deliberate same-name update by the caller: no concurrency, no
    # conflict, new SQL lands in the manifest
    pio.write_parquet_atomic(
        spark.createDataFrame([(11,)], "v long"),
        path,
        mode="append",
        checks={"v_min": "v >= 1"},
    )
    assert pio._newest_manifest_meta(path).get("checks") == {
        "v_min": "v >= 1"
    }
    # concurrent modification injected between the entry read and the
    # commit-point read (the zorder hook runs inside that window)
    orig = pio.zorder_key

    def hijack(df, cols):
        pio.write_parquet_atomic(
            spark.createDataFrame([(99,)], "v long"),
            path,
            mode="append",
            checks={"v_min": "v >= 50"},
        )
        return orig(df, cols)

    monkeypatch.setattr(pio, "zorder_key", hijack)
    with pytest.raises(ValueError, match="modified concurrently"):
        pio.write_parquet_atomic(
            spark.createDataFrame([(12,)], "v long"),
            path,
            mode="append",
            zorder_by=["v"],
        )
    # the concurrent writer's constraint is what the table stores
    assert pio._newest_manifest_meta(path).get("checks") == {
        "v_min": "v >= 50"
    }


def test_concurrent_check_drop_not_resurrected(spark, tmp_path, monkeypatch):
    """round-8 ADVICE (low): a constraint DROPPED concurrently (an
    overwrite replacing the stored set) while a batch staged must stay
    dropped — the commit previously merged the begin-time stored set
    back over the commit-point manifest, silently resurrecting it
    (lost update).  A drop needs no conflict: it only relaxes what the
    staged batch already validated."""
    import pfithic_spark.io as pio

    path = str(tmp_path / "concurrent_drop")
    pio.write_parquet_atomic(
        spark.createDataFrame([(10,)], "v long"),
        path,
        mode="append",
        checks={"v_min": "v >= 0"},
    )
    # concurrent constraint drop injected between the entry read and
    # the commit-point read (the zorder hook runs inside that window)
    orig = pio.zorder_key

    def hijack(df, cols):
        pio.write_parquet_atomic(
            spark.createDataFrame([(99,)], "v long"),
            path,
            mode="overwrite",  # replaces the stored set: drops v_min
        )
        return orig(df, cols)

    monkeypatch.setattr(pio, "zorder_key", hijack)
    pio.write_parquet_atomic(
        spark.createDataFrame([(12,)], "v long"),
        path,
        mode="append",
        zorder_by=["v"],
    )
    assert pio._newest_manifest_meta(path).get("checks") == {}
    monkeypatch.setattr(pio, "zorder_key", orig)
    # the drop is real: a row the dead constraint would have refused
    # now appends cleanly
    pio.write_parquet_atomic(
        spark.createDataFrame([(-5,)], "v long"), path, mode="append"
    )
    assert pio.read_parquet_atomic(spark, path).count() == 3


def test_check_on_absent_column_targeted_error(spark, tmp_path):
    """ADVICE r6 (low): an additive append missing a constrained
    column (legal under type-only schema enforcement) must be refused
    with an error naming the constraint, not die inside the violation
    aggregate with a raw AnalysisException."""
    import pytest

    from pfithic_spark.io import write_parquet_atomic

    path = str(tmp_path / "absent_col")
    write_parquet_atomic(
        spark.createDataFrame([(1, "a")], "v long, tag string"),
        path,
        mode="append",
        checks={"tag_not_null": "tag IS NOT NULL"},
    )
    with pytest.raises(ValueError, match="tag_not_null"):
        write_parquet_atomic(
            spark.createDataFrame([(2,)], "v long"), path, mode="append"
        )


def test_append_nullability_difference_not_refused(spark, tmp_path):
    """Schema enforcement compares STRUCTURE, not incidental
    nullability: a struct built by F.struct (inner nullable=false)
    appends onto a stored schema whose inner field is nullable."""
    from pyspark.sql import functions as F

    from pfithic_spark.io import read_parquet_atomic, write_parquet_atomic

    path = str(tmp_path / "nullability")
    write_parquet_atomic(
        spark.createDataFrame([((1,),)], "s struct<a: bigint>"),
        path,
        mode="overwrite",
    )
    write_parquet_atomic(
        spark.range(1).select(
            F.struct(F.lit(2).cast("long").alias("a")).alias("s")
        ),
        path,
        mode="append",
    )
    assert read_parquet_atomic(spark, path).count() == 2
