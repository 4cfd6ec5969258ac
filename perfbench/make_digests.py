"""Regenerate ``digests.json``: the expected output of every basket key.

    python3 perfbench/make_digests.py

For each key, the committed digest is the row count and order-insensitive
value hash of the key's DuckDB oracle (``__spark_entry__.oracle_sql()``)
over the committed fixture copy, and the Spark output must match it
before it is written.  A key without a SQL oracle is refused.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), HERE]

import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    work = os.path.join(ROOT, ".perfbench_work", f"digests-{os.getpid()}")
    run.configure_env(work)
    import __spark_entry__
    from oracle_harness import oracle_connection

    from pfithic_spark.registry import GOLDEN_ORACLE_KEYS
    from pfithic_spark.session import get_spark

    spark = get_spark(app="perfbench-digests")
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    con = oracle_connection(workloads.DATA_DIR)
    out, bad = {}, []
    try:
        for key in workloads.OVERHEAD_BASKET:
            if key not in oracles or key in GOLDEN_ORACLE_KEYS:
                bad.append(f"{key}: no SQL oracle")
                continue
            want = workloads.output_digest(con.execute(oracles[key]).df())
            got = workloads.output_digest(queries[key](spark, workloads.DATA_DIR).toPandas())
            spark.catalog.clearCache()
            if got != want:
                bad.append(f"{key}: spark {got} != oracle {want}")
                continue
            out[key] = dict(want, source="duckdb oracle")
            print(f"{key}: {want['rows']} rows", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    with open(workloads.DIGESTS, "w") as fh:
        json.dump({f"sf{workloads.SF}": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
