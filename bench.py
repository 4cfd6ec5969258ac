"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE compact JSON line: {"metric": ..., "value": N, "unit": "sec",
"value_cold": ..., "queries": {slowest keys that fit}, "sf": ...,
"detail_file": "BENCH_DETAIL.json"}.  The FULL per-query maps live in
BENCH_DETAIL.json (committed): the driver records only the last 2000
chars of stdout, so the full 317-key map cannot ride on the stdout
line (round 2's 93-key map overflowed it and BENCH_r02.json recorded
``parsed: null``); since round 14 the line instead carries the slowest
keys that fit a 1900-char budget (``queries``, with
``queries_in_line`` saying how many) so the driver's per-query PERF
comparator is no longer blind (VERDICT r13 task 2) — additions only,
every earlier field is unchanged.

Methodology (documented because it changed in round 2):

- Each query is materialized through the **noop sink**, which computes
  EVERY output column.  ``count()`` (round 1) let Catalyst prune
  expensive projections — e.g. a pandas_udf score column — out of the
  measured plan entirely, under-reporting UDF-heavy queries.
- Each query runs **twice**; the reported per-query time is the MIN of
  the two (standard best-of-N).  A single local[32] JVM executing 85
  distinct query shapes back-to-back hits multi-second transient stalls
  (JIT/codegen churn, host jitter) that punish whichever query is
  running when they strike — observed as a 10–50 s first run followed
  by a 1–3 s retry of the same plan.  Best-of-2 measures the engine,
  not the stall lottery.  The cold (first-run) total is reported
  alongside as ``value_cold``/``queries_cold`` for comparability with
  the round-1 single-shot numbers.
- Generated-code compiles (Spark's ``CodegenMetrics`` count) are
  recorded next to the times: ``codegen_compiles`` on the line is the
  total over the key loop, and ``compiles`` in the detail file maps each
  key to [first run, second run]; a nonzero second run means the key
  recompiled classes it had already compiled.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from pfithic_spark.session import codegen_compiles, get_spark
    import __spark_entry__ as e

    # Host-load snapshot (VERDICT r6 #6): round-over-round comparisons
    # are only meaningful against a quiet floor — BENCH_r06 drifted a
    # uniform 1.26× vs r5 purely from VM load.  Recording 1/5/15-min
    # loadavg before and after lets the reader separate code movement
    # from box contention.
    load_before = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark(app="pfithic-bench", cpus=CPUS)
    # ERROR-only logging for the bench process: the driver json-parses
    # the last 2000 chars of captured output, and a single WARN emitted
    # after the final JSON line (WindowExec small-threshold notices,
    # executor GC chatter) would null the parse.  The WARNs silenced
    # here are documented fast-path notices, not plan problems — the
    # two-phase window forms are pinned in tests/test_plans.py.
    spark.sparkContext.setLogLevel("ERROR")
    queries = e.queries()

    # warm the JVM / parquet footers once with the flagship query
    queries["q_agg_group"](spark, SF_DIR).collect()
    # warm the Python workers (spawn + numpy/pandas import on every
    # local[N] thread) so per-query times measure steady state, not
    # one-time worker startup
    from pyspark.sql import functions as F
    import pandas as pd

    # no annotations: `from __future__ import annotations` + local pd
    # import break pandas_udf type-hint resolution
    @F.pandas_udf("double", F.PandasUDFType.SCALAR)
    def _warm(x):
        return x * 1.0

    (
        spark.range(100_000)
        .repartition(int(CPUS))
        .select(F.sum(_warm(F.col("id").cast("double"))))
        .collect()
    )

    compiles: dict[str, list[int]] = {}

    def run_once(key: str) -> float:
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        try:
            df = queries[key](spark, SF_DIR)
            # noop sink: materializes EVERY output column (count() would
            # let Catalyst prune expensive projections out of the
            # measured plan)
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            compiles.setdefault(key, []).append(codegen_compiles(spark) - c0)

    cold: dict[str, float] = {}
    best: dict[str, float] = {}
    compiles_start = codegen_compiles(spark)
    for key in sorted(queries):
        try:
            t1 = run_once(key)
            cold[key] = round(t1, 4)
        except Exception as exc:  # a failing query must not hide the rest
            cold[key] = best[key] = -1.0
            print(f"# bench FAIL {key}: {exc}", file=sys.stderr)
            spark.catalog.clearCache()
            continue
        # clear between the paired runs: queries that .cache() internally
        # (minhash/simhash signature tables) must re-execute, not replay
        # cached blocks — best-of-2 is meant to dodge transient stalls,
        # not to measure a warm cache
        spark.catalog.clearCache()
        try:
            t2 = run_once(key)
            best[key] = round(min(t1, t2), 4)
        except Exception as exc:  # keep the successful first measurement
            best[key] = cold[key]
            print(f"# bench retry FAIL {key}: {exc}", file=sys.stderr)
        # drop cached blocks a key pinned so later keys aren't measured
        # under accumulated memory/GC pressure from earlier ones
        spark.catalog.clearCache()
    n_compiles = codegen_compiles(spark) - compiles_start
    total = round(sum(t for t in best.values() if t >= 0), 4)
    total_cold = round(sum(t for t in cold.values() if t >= 0), 4)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    summary = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "value_cold": total_cold,
        "runs_per_query": 2,
        "n_queries": len(best),
        "n_failed": sum(1 for t in best.values() if t < 0),
        "sf": float(sf) if sf else None,
        "loadavg_before": load_before,
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # self-describing host marker (VERDICT r11 #6): a run started
        # on a busy box says so IN the record instead of relying on a
        # prose caveat next to the committed numbers.  The VM's
        # documented degradation mode is NOT loadavg-visible (rounds
        # 10-12: uniform ~1.3-2x inflation at loadavg 0), so the
        # trivial-key probe is the second signal: q_array_explode
        # warm has a 0.16 s healthy floor — above 0.4 s the host is
        # throttled regardless of loadavg.
        # a FAILED probe (-1.0 sentinel) means the host was too sick
        # to even run the trivial key — that is "degraded", never a
        # fall-through to the loadavg branch
        "host_state": (
            "degraded"
            if best.get("q_array_explode", 0) > 0.4
            or best.get("q_array_explode", 0) < 0
            else ("idle" if load_before[0] < 1.0 else "loaded")
        ),
        "detail_file": "BENCH_DETAIL.json",
        "codegen_compiles": n_compiles,
    }
    # Per-query visibility for the driver's PERF comparator (round 14,
    # VERDICT r13 "what's wrong" #1 / task 2): PERF_r13.per_query was
    # {} because this line carried totals only.  The driver keeps just
    # the LAST 2000 chars of stdout and json-parses the final line, so
    # the full 317-key map (~7 KB serialized) physically cannot ride
    # it — round 2 proved it (93 keys overflowed the tail and
    # BENCH_r02 recorded parsed: null).  Emit the slowest keys that
    # fit a fixed line budget instead: they carry the majority of
    # total wall-clock and are the keys a perf comparator cares
    # about; failed keys (-1.0) are always included first.  The full
    # 317-key map stays in BENCH_DETAIL.json (committed).  Additions
    # only — every pre-existing field of this line is kept unchanged.
    _LINE_BUDGET = 1900  # hard driver tail is 2000 chars
    by_cost = sorted(best.items(), key=lambda kv: (kv[1] >= 0, -kv[1]))
    qline: dict[str, float] = {}
    for k, v in by_cost:
        qline[k] = v
        probe_line = dict(summary, queries=qline, queries_in_line=0)
        if len(json.dumps(probe_line)) > _LINE_BUDGET:
            del qline[k]
            break
    summary["queries"] = qline
    summary["queries_in_line"] = len(qline)
    # Per-query maps go to a detail file: the driver that records
    # BENCH_r{N}.json keeps only the last 2000 chars of stdout and
    # json-parses the FINAL line, so that line must stay compact
    # (round 2's single giant line overflowed the buffer and parsed
    # as null).  Full breakdown is committed alongside.
    detail = dict(summary, queries=best, queries_cold=cold, compiles=compiles)
    detail.pop("detail_file")
    detail.pop("queries_in_line", None)
    with open(os.path.join(REPO_ROOT, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    # stdout carries ONLY the compact line (<400 chars): if the driver
    # json-parses the whole 2000-char tail rather than the last line,
    # any preceding stdout noise would break it too.
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
