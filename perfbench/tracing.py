"""Measurement helpers: process-tree CPU, Spark counters, and the layer
spans of the traced run.

Spans are recorded from outside the program: each layer's public
functions are wrapped where their callers resolve them, that is on every
``pfithic_spark`` module attribute bound to the function (a name bound
with ``from .x import y`` lives in the importing module, so patching the
defining module alone would miss it).  Each span sets the Spark job
group, so jobs, stages, task time, GC and shuffle bytes are attributed
to the innermost open span.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import sys
import time

from py4j.protocol import Py4JJavaError

MB = 1e6

# --- process tree CPU ---------------------------------------------------


def _stat(pid: int):
    """(ppid, comm, utime+stime+cutime+cstime in ticks) or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return int(f[1]), comm, int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def _proc_table() -> dict[int, tuple[int, str, int]]:
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                table[int(name)] = s
    return table


def _subtree(table: dict, root: int) -> set[int]:
    """Pids below ``root`` (excluded) in a process table."""
    out, frontier = set(), [root]
    while frontier:
        parent = frontier.pop()
        for pid, s in table.items():
            if s[0] == parent and pid not in out:
                out.add(pid)
                frontier.append(pid)
    return out


def descendants(root: int) -> set[int]:
    """Live processes under ``root`` (excluded)."""
    return _subtree(_proc_table(), root)


class ProcCpu:
    """CPU seconds of the benchmark's process tree, split into the Python
    driver, the JVM, and the Python workers the JVM forks.

    Each live process contributes its own time plus that of the children
    it has reaped, so workers that came and went are still counted.
    """

    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self) -> None:
        self.pid = os.getpid()

    def sample(self) -> dict[str, float]:
        table = _proc_table()
        tree = _subtree(table, self.pid)
        under_jvm: set[int] = set()
        for pid in tree:
            if table[pid][1] == "java":
                under_jvm |= _subtree(table, pid)
        own = table.get(self.pid)
        cpu = {"driver": own[2] if own else 0, "jvm": 0, "workers": 0}
        for pid in tree:
            cpu["workers" if pid in under_jvm else "jvm"] += table[pid][2]
        return {k: v / self.TICK for k, v in cpu.items()}


def cpu_delta(a: dict, b: dict) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


# --- Spark counters -----------------------------------------------------


def wait_listeners(sc) -> None:
    """Let the status store catch up with the events of finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def cached_by_rdd(sc) -> dict[int, float]:
    """MB held in the block cache (memory plus disk), per RDD id."""
    return {
        i.id(): (i.memSize() + i.diskSize()) / MB for i in sc._jsc.sc().getRDDStorageInfo()
    }


def group_jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "input_mb",
    "spill_mb",
)


def spark_counters(sc, job_ids: list[int]) -> dict[str, float]:
    """Totals over the completed stages of ``job_ids``, from the status
    store.  Skipped stages (their output was reused) count nothing."""
    out = dict.fromkeys(SPARK_COUNTERS, 0.0)
    out["jobs"] = len(job_ids)
    store = sc._jsc.sc().statusStore()
    seen = set()
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted: its output was reused
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["task_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["input_mb"] += sd.inputBytes() / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
    return out


# --- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans of one round; each span owns a Spark job group."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._prefix = "perfbench"
        self.calls: dict[str, int] = {}

    def start_round(self, prefix: str) -> None:
        self.spans, self._stack, self._prefix = [], [], prefix
        self.calls = {}
        self.active = True

    def stop_round(self) -> None:
        self.active = False

    def group(self, sid: int) -> str:
        return f"{self._prefix}-s{sid}"

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self.group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), name)

    def count(self, name: str) -> None:
        self.calls[name] = self.calls.get(name, 0) + 1

    def attribute(self) -> None:
        """Attach the innermost-span Spark counters to every span."""
        wait_listeners(self.sc)
        for rec in self.spans:
            rec["spark"] = spark_counters(self.sc, group_jobs(self.sc, self.group(rec["id"])))

    def inclusive(self, rec: dict, counter: str) -> float:
        """A span's counter summed over its subtree."""
        kids = [r for r in self.spans if r["parent"] == rec["id"]]
        return rec["spark"][counter] + sum(self.inclusive(k, counter) for k in kids)

    def outermost(self, prefix: str) -> list[dict]:
        """Spans named ``prefix*`` with no ancestor of the same prefix."""
        by_id = {r["id"]: r for r in self.spans}
        out = []
        for r in self.spans:
            if not r["name"].startswith(prefix):
                continue
            p = r["parent"]
            while p is not None and not by_id[p]["name"].startswith(prefix):
                p = by_id[p]["parent"]
            if p is None:
                out.append(r)
        return out

    def seconds(self, prefix: str) -> float:
        return sum(r["end"] - r["start"] for r in self.outermost(prefix))

    def jobs(self, prefix: str) -> float:
        return sum(self.inclusive(r, "jobs") for r in self.outermost(prefix))


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / MB


def _patch_everywhere(fn, wrapper) -> int:
    """Rebind every ``pfithic_spark`` module attribute that is ``fn``."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("pfithic_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is fn:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def _wrap(tracer: Tracer, fn, span_name: str, counter: str | None = None, writes: bool = False):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        if counter:
            tracer.count(counter)
        with tracer.span(span_name) as rec:
            out = fn(*args, **kwargs)
        if writes:
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            rec["write_mb"] = _dir_mb(path) if isinstance(path, str) else 0.0
        return out

    return wrapper


def _uses_arrow_kernel(fn) -> bool:
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return False
    return "InPandas" in src or "pandas_udf" in src


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap each layer's public functions (see the layer table in run.py)."""
    from pfithic_spark import hic, io, llmops, session, stats, windows

    plan = [
        (session, ["ensure_engine_confs"], "session.confs", "session.confs", False),
        (io, ["load_table", "read_parquet_atomic", "read_parquet_atomic_incremental"],
         "io.parquet_read", "io.parquet_reads", False),
        (io, ["read_contacts_tsv", "read_fragments_tsv", "read_biases_tsv"],
         "io.csv_read", "io.csv_reads", False),
        (io, ["write_tsv_gz", "write_parquet", "write_jsonl", "write_orc",
              "write_parquet_atomic", "write_bucketed_table"], "io.write", None, True),
        (hic, ["possible_pairs_grid_census", "possible_pairs_np",
               "possible_pairs_from_fragments", "possible_pairs_per_lag"], "hic.census", None, False),
        (hic, ["fit_null_curve", "fit_null_curve_distributed"], "hic.fit", "hic.fit", False),
        (hic, ["run_significance"], "hic.significance_build", None, False),
        (stats, ["fit_monotone_curve"], "stats.curve_fit", None, False),
        (windows, ["bh_fdr", "bh_fdr_scalable"], "windows.bh_fdr", None, False),
        (windows, [n for n in dir(windows) if n.startswith("scalable_")]
         + ["rolling_distinct_approx"], "windows.probe", "windows.probe", False),
        (llmops, [n for n, f in vars(llmops).items()
                  if inspect.isfunction(f) and not n.startswith("_")
                  and f.__module__ == llmops.__name__ and _uses_arrow_kernel(f)],
         "llmops.kernel_build", None, False),
        (llmops, ["_track_sig_cache"], "llmops.sig_cache", "llmops.sig_cache", False),
    ]
    for mod, names, span_name, counter, writes in plan:
        for name in names:
            fn = getattr(mod, name, None)
            if fn is None:
                continue
            _patch_everywhere(fn, _wrap(tracer, fn, f"{span_name}:{name}", counter, writes))
