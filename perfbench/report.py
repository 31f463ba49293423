"""``report_pack``: the tracked ``HEADLINE_20`` keys of ``bench.py``.

Imports the key list and ``warmup`` from ``bench.py`` and materializes
each key to the noop sink, as ``bench.py`` does, in repeated passes of
one session. The first pass after warm-up is the cold number; the median
of the later passes is the steady one. Outputs are checked against each
key's DuckDB oracle (``queries.ORACLES``) with the tier-1 parity
comparison (``tests/parity.py``).

The inputs are the read-only fixtures named by ``--sf-dir`` (generated
once with seed 42); the workload seed does not change them. This
workload is not in BENCHMARK.json: it reads fixtures from outside the
checkout, and one pass at sf0.1 is longer than a benchmark run may be.
"""

from __future__ import annotations

import sys
import time
from statistics import median


#: the keys whose work is the dedup and similarity operators
DEDUP_PREFIXES = ("llm_dedup_", "llm_sim_topk")


class ReportPack:
    name = "report_pack"

    def __init__(self, spark, tracer, work: str, seed: int, sf_dir: str):
        from bench import HEADLINE_20

        self.spark, self.tracer, self.sf_dir = spark, tracer, sf_dir
        self.keys = list(HEADLINE_20)
        self.setup_parts: dict[str, float] = {}
        self.passes: list[dict[str, float]] = []
        #: key -> span ids of its runs (traced runs only)
        self.key_spans: dict[str, list[int]] = {k: [] for k in self.keys}
        self.errors = 0

    def setup(self) -> None:
        from bench import warmup

        t = time.perf_counter()
        warmup(self.spark, self.sf_dir)
        self.setup_parts["warmup_s"] = time.perf_counter() - t

    def _pass(self) -> dict[str, float]:
        from bench import materialize
        from minerva_etl_46_spark.queries import QUERIES

        times = {}
        for key in self.keys:
            t = time.perf_counter()
            with self.tracer.span(f"queries.{key}") as sp:
                if sp is not None:
                    self.key_spans[key].append(sp.id)
                try:
                    with self.tracer.span("queries.build"):
                        df = QUERIES[key](self.spark, self.sf_dir)
                    materialize(df)
                except Exception as exc:  # a broken key must not hide the rest
                    self.errors += 1
                    print(f"{key} failed: {type(exc).__name__}: {exc}",
                          file=sys.stderr)
                    continue
            times[key] = time.perf_counter() - t
        return times

    def measure(self, seconds: float) -> None:
        """Passes until ``seconds`` are up, and at least two: the cold one
        and one steady one."""
        t0 = time.perf_counter()
        while len(self.passes) < 2 or time.perf_counter() - t0 < seconds:
            self.passes.append(self._pass())
        self.wall_s = time.perf_counter() - t0

    def verify(self) -> tuple[int, int]:
        """Each key once against its oracle; a key that differs fails in
        every pass."""
        from minerva_etl_46_spark.queries import ORACLES, QUERIES
        from tests.parity import compare, duck_connection

        con = duck_connection(self.sf_dir)
        wrong = 0
        for key in self.keys:
            try:
                got = QUERIES[key](self.spark, self.sf_dir).toPandas()
                errs = compare(got, con.execute(ORACLES[key]).df(), key)
            except Exception as exc:
                errs = [f"{key}: {type(exc).__name__}: {exc}"]
            if errs:
                wrong += 1
                print("\n".join(errs), file=sys.stderr)
        attempted = len(self.keys) * len(self.passes)
        return attempted, min(attempted,
                              self.errors + wrong * len(self.passes))

    def _pass_totals(self) -> list[float]:
        return [sum(p.values()) for p in self.passes]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        totals = self._pass_totals()
        runs = sum(len(p) for p in self.passes)
        return {
            "latency_p50_ms": (1000 * median(totals[1:]), "ms"),
            "throughput_per_s": (runs / self.wall_s, "1/s"),
        }

    def report(self) -> dict[str, tuple[float, str]]:
        totals = self._pass_totals()
        return {"pass_s": (median(totals[1:]), "s"),
                "first_pass_s": (totals[0], "s"),
                "passes": (len(totals), "count")}

    def layers(self, counters) -> dict[str, tuple[float, str]]:
        from perfbench.layers import report_layers

        return report_layers(self, counters)
