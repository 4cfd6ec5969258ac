"""Benchmark of pfithic_spark: the Hi-C CLI path and an overhead-bound
registry basket.

    python3 perfbench/run.py --workload hic_cli --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  One process: build a local Spark
session with the engine defaults, run warm-up rounds, then time rounds
for ``--seconds`` (closed loop, one client: a round starts when the
previous one ends), then check every output.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a detail record (round series, quartiles, run metadata, spans).

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: process start to the end of warm-up (session start,
  engine confs, the package zip, the warm-up rounds including the cold
  first round a one-shot CLI user pays), minus the benchmark's own input
  generation and output checks;
- ``round_s``: median wall time of a timed round;
- ``cached_peak_mb``: median over timed rounds of the largest block-cache
  size (memory plus disk) seen at a span boundary of the round, counting
  the RDDs the round made (what earlier rounds left behind is dropped at
  GC time, so counting it would measure GC timing; it shows in the
  per-round ``spark.cached_end_mb`` series instead).

``--trace 1`` alternates untraced and traced rounds in the window and
reports the per-layer metrics of the traced rounds (medians), among
them ``cpu.round_s``, the CPU seconds of a round over the whole process
tree (Python driver, JVM, Python workers) read from ``/proc``.  It is
not an end-to-end metric: on a 4-core host its spread between runs of
the same code reached 18-25 %, JIT compilation of each round's generated
code and the host's own drift included, which no allowed bound covers.
The layer spans are wrappers put around each layer's public functions for
the traced rounds only (tracing.py).  ``trace.overhead_s`` is the traced
median ``round_s`` minus the untraced one.

Inputs: ``hic_cli`` generates its gz-TSV files from ``--seed``; the
registry basket reads the committed fixture copy under ``data/`` and
the seed fixes the key order.  Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPARK_CPUS = 2
DRIVER_MEM = "3g"

END_TO_END = {"setup_s": "s", "round_s": "s", "cached_peak_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s",
    "session.confs_calls": "count",
    "session.confs_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.plan_s": "s",
    "registry.exec_s": "s",
    "registry.exec_jobs": "count",
    "io.parquet_reads": "count",
    "io.parquet_read_s": "s",
    "io.csv_reads": "count",
    "io.write_s": "s",
    "io.write_mb": "MB",
    "hic.census_s": "s",
    "hic.fit_s": "s",
    "hic.fit_calls": "count",
    "hic.significance_build_s": "s",
    "hic.jobs": "count",
    "stats.curve_fit_s": "s",
    "windows.bh_fdr_s": "s",
    "windows.probe_calls": "count",
    "windows.probe_s": "s",
    "llmops.kernel_build_s": "s",
    "llmops.sig_cache_calls": "count",
    "udf.time_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.input_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.cached_end_mb": "MB",
    "cpu.round_s": "s",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "cpu.workers_s": "s",
    "trace.round_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"# perfbench: {msg}", file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def quartiles(values: list[float]) -> dict:
    out = {"n": len(values), "median": statistics.median(values), "max": max(values)}
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out.update(q1=q1, q3=q3)
    return out


def configure_env(work: str) -> dict:
    """Keep every file the run writes inside ``work``; fix cores and heap.

    Spark gets two cores whatever the caller's environment says: the
    workloads are bound by per-job overhead, not by task parallelism,
    and the cores left free absorb the JIT compiler, GC and Python
    worker threads, whose contention made round times on four cores
    swing by 15 % between runs.  The heap is set below the host's RAM
    (``get_spark`` defaults to 16g).
    """
    nproc = len(os.sched_getaffinity(0))
    cpus = min(SPARK_CPUS, nproc)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
        "host_mem_gb": round(mem_kb / 1e6, 1),
    }


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and its Python workers, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    import tracing

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while tracing.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in tracing.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while tracing.descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


class Runner:
    def __init__(self, spark, workload, trace: bool) -> None:
        import tracing

        self.spark = spark
        self.sc = spark.sparkContext
        self.wl = workload
        self.tr = tracing
        self.proc = tracing.ProcCpu()
        self.tracer = tracing.Tracer(self.sc) if trace else None
        if trace:
            tracing.install_layer_spans(self.tracer)
        self.series: list[dict] = []
        self.reasons: list[str] = []
        self.last_spans: list[dict] = []

    def round(self, phase: str, traced: bool) -> dict:
        sc, tr = self.sc, self.tr
        idx = len(self.series)
        group = f"perfbench-r{idx}"
        sc.setJobGroup(group, phase)
        tracer = self.tracer if traced else None
        # the peak counts the blocks of RDDs made in this round: blocks
        # that earlier rounds left behind go whenever the JVM collects
        # them, which would make the peak depend on GC timing
        before = set(tr.cached_by_rdd(sc))
        peak = [0.0]

        def boundary() -> None:
            peak.append(sum(v for k, v in tr.cached_by_rdd(sc).items() if k not in before))

        if tracer is not None:
            tracer.start_round(group)
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            span = tracer.span
            plan_hook = lambda df: df._jdf.queryExecution().executedPlan()  # noqa: E731
        else:
            import contextlib

            span = lambda name: contextlib.nullcontext({})  # noqa: E731
            plan_hook = None
        errors: list[str] = []
        ok: dict[str, bool] = {}
        cpu0 = self.proc.sample()
        t0 = time.perf_counter()
        with span("round"):
            for name, op in self.wl.ops():
                ok[name] = True
                try:
                    with span(f"op:{name}"):
                        op(self.spark, span, boundary, plan_hook)
                except Exception as exc:  # noqa: BLE001 - a failing op must not hide the rest
                    errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                    ok[name] = False
                    self.spark.catalog.clearCache()
        t1 = time.perf_counter()
        cpu1 = self.proc.sample()
        rec = {
            "phase": phase,
            "round_s": t1 - t0,
            "cpu": tr.cpu_delta(cpu0, cpu1),
            "ok": ok,
        }
        tr.wait_listeners(sc)
        if tracer is not None:
            tracer.stop_round()
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            rec["udf_s"] = self._udf_seconds()
            tracer.attribute()
            rec["jobs"] = sum(s["spark"]["jobs"] for s in tracer.spans)
        else:
            rec["jobs"] = len(tr.group_jobs(sc, group))
        self.spark.catalog.clearCache()
        rec["cached_peak_mb"] = max(peak)
        rec["cached_end_mb"] = sum(tr.cached_by_rdd(sc).values())
        t = time.perf_counter()
        if all(ok.values()):
            why = self.wl.check_round()
            if why:
                errors.append(f"output check: {why}")
                ok = rec["ok"] = dict.fromkeys(ok, False)
        rec["check_s"] = time.perf_counter() - t
        if tracer is not None:
            rec["layers"] = self._layers(rec)
            self.last_spans = self._span_summary(t0)
        rec["traced"] = traced
        self.series.append(rec)
        self.reasons += [f"round {idx}: {e}" for e in errors]
        return rec

    def _udf_seconds(self) -> float:
        """Profiled Python UDF time of the round; the session's profiler
        collector exposes the per-UDF ``pstats`` only privately."""
        coll = getattr(self.spark, "_profiler_collector", None)
        if coll is None:
            return 0.0
        total = sum(st.total_tt for st in coll._perf_profile_results.values())
        self.spark.profile.clear(type="perf")
        return total

    def _layers(self, rec: dict) -> dict:
        t = self.tracer
        calls = t.calls
        spark = {k: sum(s["spark"][k] for s in t.spans) for k in self.tr.SPARK_COUNTERS}
        writes = t.outermost("io.write")
        return {
            "session.confs_calls": calls.get("session.confs", 0),
            "session.confs_s": t.seconds("session.confs"),
            "registry.build_s": t.seconds("registry.build"),
            "registry.build_jobs": t.jobs("registry.build"),
            "registry.plan_s": t.seconds("registry.plan"),
            "registry.exec_s": t.seconds("registry.exec"),
            "registry.exec_jobs": t.jobs("registry.exec"),
            "io.parquet_reads": calls.get("io.parquet_reads", 0),
            "io.parquet_read_s": t.seconds("io.parquet_read"),
            "io.csv_reads": calls.get("io.csv_reads", 0),
            "io.write_s": t.seconds("io.write"),
            "io.write_mb": sum(w.get("write_mb", 0.0) for w in writes),
            "hic.census_s": t.seconds("hic.census"),
            "hic.fit_s": t.seconds("hic.fit"),
            "hic.fit_calls": calls.get("hic.fit", 0),
            "hic.significance_build_s": t.seconds("hic.significance_build"),
            "hic.jobs": t.jobs("hic."),
            "stats.curve_fit_s": t.seconds("stats.curve_fit"),
            "windows.bh_fdr_s": t.seconds("windows.bh_fdr"),
            "windows.probe_calls": calls.get("windows.probe", 0),
            "windows.probe_s": t.seconds("windows.probe"),
            "llmops.kernel_build_s": t.seconds("llmops.kernel_build"),
            "llmops.sig_cache_calls": calls.get("llmops.sig_cache", 0),
            "udf.time_s": rec["udf_s"],
            **{f"spark.{k}": v for k, v in spark.items()},
            "spark.cached_end_mb": rec["cached_end_mb"],
            "cpu.round_s": sum(rec["cpu"].values()),
            "cpu.driver_s": rec["cpu"]["driver"],
            "cpu.jvm_s": rec["cpu"]["jvm"],
            "cpu.workers_s": rec["cpu"]["workers"],
            "trace.round_s": rec["round_s"],
        }

    def _span_summary(self, t0: float) -> list[dict]:
        """Spans of the last traced round that took time or ran jobs."""
        out = []
        for s in self.tracer.spans:
            dur = s["end"] - s["start"]
            if dur >= 0.005 or s["spark"]["jobs"]:
                out.append(
                    {
                        "id": s["id"],
                        "parent": s["parent"],
                        "name": s["name"],
                        "start": round(s["start"] - t0, 4),
                        "end": round(s["end"] - t0, 4),
                        "jobs": s["spark"]["jobs"],
                    }
                )
        return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=None, help="override the warm-up round count")
    ap.add_argument(
        "--plant-wrong-digest",
        action="store_true",
        help="replace one expected digest with a wrong one (self-test)",
    )
    ap.add_argument("--tiny", action="store_true", help="tiny Hi-C inputs (self-test)")
    args = ap.parse_args(argv)
    age0 = process_age()
    t_start = time.perf_counter() - age0

    if not (
        os.path.isdir(os.path.join(ROOT, "pfithic_spark"))
        and os.path.isfile(os.path.join(ROOT, "tests", "pandas_ref.py"))
    ):
        log(f"no pfithic_spark checkout at {ROOT}; run from the root of a checkout")
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]
    import workloads

    if args.workload not in workloads.WARMUP:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WARMUP)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    meta = configure_env(work)
    load_before = os.getloadavg()
    excluded = 0.0  # input generation and checks inside the set-up window

    # importing the program is set-up; making the inputs is not
    import __spark_entry__  # noqa: F401
    from pfithic_spark.session import get_spark

    t = time.perf_counter()
    wl = workloads.make(args.workload, work, args.seed, args.plant_wrong_digest, args.tiny)
    excluded += time.perf_counter() - t

    t = time.perf_counter()
    spark = get_spark(app=f"perfbench-{args.workload}", cpus=meta["SPARK_GRAFT_CPUS"])
    session_start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        runner = Runner(spark, wl, bool(args.trace))
        warmup = workloads.WARMUP[args.workload] if args.warmup is None else args.warmup
        for _ in range(warmup):
            runner.round("warmup", traced=False)
        excluded += sum(r["check_s"] for r in runner.series)
        setup_s = time.perf_counter() - t_start - excluded

        min_rounds = 2 if args.trace else 1
        timed: list[dict] = []
        t_window = time.perf_counter()
        while time.perf_counter() - t_window < args.seconds or len(timed) < min_rounds:
            traced = bool(args.trace) and len(timed) % 2 == 1
            timed.append(runner.round("timed", traced))
        window_s = time.perf_counter() - t_window

        # an op whose key fails the final output check failed in every round
        bad = wl.final_check(spark)
        for key, why in bad.items():
            log(f"final check FAILED {key}: {why}")
            runner.reasons.append(f"final check {key}: {why}")
        meta.update(
            spark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
        )
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    untraced = [r for r in timed if not r["traced"]]
    traced_rounds = [r for r in timed if r["traced"]]
    if args.trace:
        layers = {
            k: statistics.median(r["layers"][k] for r in traced_rounds)
            for k in traced_rounds[0]["layers"]
        }
        layers["session.start_s"] = session_start_s
        layers["trace.overhead_s"] = layers["trace.round_s"] - statistics.median(
            r["round_s"] for r in untraced
        )
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "round_s": statistics.median(r["round_s"] for r in timed),
            "cached_peak_mb": statistics.median(r["cached_peak_mb"] for r in timed),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    meta.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        warmup_rounds=warmup,
        window_s=window_s,
        loadavg_before=load_before,
        loadavg_after=os.getloadavg(),
        python=platform.python_version(),
        basket=workloads.OVERHEAD_BASKET,
        inputs=wl.meta,
    )
    detail = {
        "perfbench_detail": {
            "meta": meta,
            "round_s": quartiles([r["round_s"] for r in untraced]),
            "series": [
                {
                    "phase": r["phase"],
                    "traced": r["traced"],
                    "round_s": r["round_s"],
                    "cpu_s": sum(r["cpu"].values()),
                    "spark.jobs": r["jobs"],
                    "cached_peak_mb": r["cached_peak_mb"],
                    "spark.cached_end_mb": r["cached_end_mb"],
                }
                for r in runner.series
            ],
            "failures": runner.reasons[:20],
            "spans": runner.last_spans[:400],
        }
    }
    print(json.dumps(detail))
    outcomes = [good and name not in bad for r in timed for name, good in r["ok"].items()]
    failed = outcomes.count(False)
    result = {
        "correct": failed == 0,
        "attempted": len(outcomes),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
