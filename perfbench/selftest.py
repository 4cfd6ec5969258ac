"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Checks, each on a short run (one timed round, no warm-up):

- the metric names and units printed with ``--trace 0`` and ``--trace 1``
  are exactly the ``end_to_end`` and ``per_layer`` lists of
  ``BENCHMARK.json``, and a clean run reports 0 failed ops;
- a planted wrong digest is counted as failed ops, never as fast ones,
  on both workloads;
- in a directory that holds only ``BENCHMARK.json`` and the benchmark's
  files, the run exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7"]
    cmd += ["--seconds", "1", "--warmup", "0", "--tiny", *args]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and set(result) != {"correct", "attempted", "failed", "metrics"}:
        result = None
    return proc.returncode, result


def units(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for trace, workload in ((0, "hic_cli"), (1, "registry_overhead")):
        rc, res = bench("--workload", workload, "--trace", str(trace))
        expect(rc == 0 and res is not None, f"{workload} --trace {trace} prints a result")
        if res is None:
            continue
        expect(units(res) == want[trace], f"{workload} --trace {trace} metric names and units")
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
               f"{workload} --trace {trace} reports 0 failed ops")
        expect(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
               f"{workload} --trace {trace} values are numbers")

    for workload in ("hic_cli", "registry_overhead"):
        rc, res = bench("--workload", workload, "--trace", "0", "--plant-wrong-digest")
        expect(
            rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
            f"{workload}: a planted wrong digest is counted as a failed op",
        )

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = bench("--workload", "hic_cli", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and res is None, "without the program the run fails and prints no result")

    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
