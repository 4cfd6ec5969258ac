"""The workloads.  Each runs rounds; a round is a list of ops, and
each op reports the span boundaries at which the block cache is sampled.

- ``hic_cli``: one op is the CLI path, in process: ``api.run_pipeline_files``
  on seed-generated gz-TSV files, then the CLI's two summary counts.
- ``registry_overhead``: one op is one registry key, built and then run
  through the ``noop`` sink, as ``bench.py`` times keys; the block cache
  is cleared after every key.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import hic_inputs

HERE = os.path.dirname(os.path.abspath(__file__))

#: Keys whose construction runs eager jobs (bounded-state loops, probes,
#: collects), at sf0.001, so fixed per-job overhead dominates.  Together
#: they read five tables, run a windows probe (q_anomaly_zscore) and
#: an llmops Arrow kernel (q_knn_graph), and hold blocks in the cache
#: past ``clearCache`` (q_open_order_backlog).  Trimmed from the probed
#: basket to fit the run.
OVERHEAD_BASKET = [
    "q_open_order_backlog",
    "q_theil_index",
    "q_anomaly_zscore",
    "q_knn_graph",
]
SF = "0.001"
DATA_DIR = os.path.join(HERE, "data", f"sf{SF}")
DIGESTS = os.path.join(HERE, "digests.json")


def output_digest(pdf) -> dict:
    """Row count and order-insensitive value hash of a key's output,
    with the cell canonicalisation of the oracle harness."""
    from oracle_harness import _rows

    rows, cols = _rows(pdf)
    h = hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()
    return {"rows": len(rows), "digest": h}


class HicCli:
    PASSES, N_BINS = 2, 100

    def __init__(self, work: str, seed: int, plant_wrong: bool, tiny: bool) -> None:
        # contacts drawn per chromosome, grid bins per chromosome
        n_draws, nbins = (1000, 300) if tiny else (12_000, 2000)
        contacts, frags, biases = hic_inputs.make_tables(seed, n_draws, nbins)
        self.paths = hic_inputs.write_inputs(os.path.join(work, "in"), contacts, frags, biases)
        self.want = hic_inputs.expected(contacts, frags, biases, self.PASSES, self.N_BINS)
        self.want_digest = hic_inputs.key_digest(self.want)
        if plant_wrong:
            self.want_digest = "0" * 64
        self.out = os.path.join(work, "out")
        self.last: tuple[int, int] | None = None
        self.meta = {
            "contacts_in_file": int(len(contacts)),
            "scored_contacts": int(len(self.want)),
            "nbins_per_chr": nbins,
            "passes": self.PASSES,
            "resolution": hic_inputs.RES,
        }

    def ops(self):
        yield "cli", self._op

    def _op(self, spark, span, boundary, plan_hook=None):
        from pfithic_spark.api import run_pipeline_files
        from pfithic_spark.hic import SigConfig

        cfg = SigConfig(resolution=hic_inputs.RES, n_bins=self.N_BINS, passes=self.PASSES)
        with span("cli.pipeline"):
            sig = run_pipeline_files(
                spark,
                self.paths["contacts"],
                self.paths["fragments"],
                self.paths["biases"],
                self.out,
                cfg,
            )
        boundary()
        with span("cli.counts"):
            n = sig.count()
            q05 = sig.filter("q_value < 0.05").count()
        boundary()
        self.last = (n, q05)

    def check_round(self) -> str | None:
        """Checked after every round, outside its timing."""
        return hic_inputs.check_output(self.out, self.want, self.want_digest, *self.last)

    def final_check(self, spark) -> dict[str, str]:
        return {}


class RegistryOverhead:
    """The registry basket.  The seed fixes the key order; each round
    then rotates it by one key, so every run covers the same rotations
    and the round median does not hinge on which key runs first."""

    def __init__(self, seed: int, plant_wrong: bool) -> None:
        import __spark_entry__

        self.keys = list(OVERHEAD_BASKET)
        random.Random(seed).shuffle(self.keys)
        self.rounds = 0
        self.queries = __spark_entry__.queries()
        with open(DIGESTS) as fh:
            self.want = json.load(fh)[f"sf{SF}"]
        if plant_wrong:
            self.want = dict(self.want, **{self.keys[0]: {"rows": -1, "digest": "0" * 64}})
        self.meta = {"sf": SF, "keys": self.keys}

    def ops(self):
        shift = self.rounds % len(self.keys)
        self.rounds += 1
        for key in self.keys[shift:] + self.keys[:shift]:
            yield key, self._make_op(key)

    def _make_op(self, key):
        def op(spark, span, boundary, plan_hook=None):
            with span(f"registry.build:{key}"):
                df = self.queries[key](spark, DATA_DIR)
            boundary()
            if plan_hook is not None:
                with span(f"registry.plan:{key}"):
                    plan_hook(df)
            with span(f"registry.exec:{key}"):
                df.write.format("noop").mode("overwrite").save()
            boundary()
            spark.catalog.clearCache()

        return op

    def check_round(self) -> str | None:
        return None

    def final_check(self, spark) -> dict[str, str]:
        """Run every key once more and compare its output with the
        committed digest; returns {key: reason} for the keys that fail."""
        bad = {}
        for key in self.keys:
            try:
                got = output_digest(self.queries[key](spark, DATA_DIR).toPandas())
            except Exception as exc:  # noqa: BLE001 - any failure is a failed op
                bad[key] = f"raised {type(exc).__name__}: {exc}"[:300]
                continue
            finally:
                spark.catalog.clearCache()
            want = self.want.get(key)
            if want is None or got != {"rows": want["rows"], "digest": want["digest"]}:
                bad[key] = f"output {got} != committed {want}"
        return bad


def make(name: str, work: str, seed: int, plant_wrong: bool = False, tiny: bool = False):
    if name == "hic_cli":
        return HicCli(work, seed, plant_wrong, tiny)
    return RegistryOverhead(seed, plant_wrong)


#: Warm-up rounds per workload, read off the round series in the detail
#: record (Spark on two cores of a 4-core host; medians of ten runs).
#: Round 1 is cold (JIT, Python worker start, first reads): 15.0 s for
#: the Hi-C op, 13.6 s for the basket.  Both then keep speeding up as
#: the JIT compiles each round's generated code: Hi-C 5.0, 4.4, 4.1,
#: 4.0, 3.7, 3.6, 3.5 s; basket 4.1, 3.7, 3.4, 3.2, 2.9, 2.8, 2.7 s.
#: Three warm-up rounds put the Hi-C window where that slope is a few
#: percent a round, so one round more or less in the window barely moves
#: the median.  The basket takes four, to get past its session-history
#: change: from its 5th run in a session q_anomaly_zscore's probe cache
#: is dropped as soon as it is made (51 -> 50 jobs a round), so every
#: timed round sees the same work.
WARMUP = {"hic_cli": 3, "registry_overhead": 4}
