"""``ingest_materialize``: the write path plus the materialization daemon.

Per batch, through the same public calls ``cli load-data``,
``cli materialize --root`` and ``cli trigger`` make:

1. ``harvest_3gpp_xml`` and the counter pivot;
2. ``resolve_entities`` (new entities appended to the directory) and
   ``align_package``;
3. ``TrendStorePartStorage.upsert``;
4. ``MaterializationEngine.tick`` for every spec ``specs_from_instance``
   returns (1h and 1d time rollups);
5. ``evaluate_rules`` on the hourly rows the tick rewrote, written to an
   hourly-partitioned notification store.
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter
from statistics import median

from perfbench import gen

#: batches generated up front; a run stops starting batches when its time
#: is up, long before this
MAX_BATCHES = 40
#: batches ingested during set-up to warm the JIT and lay down the store
WARMUP_BATCHES = 1
#: batches measured even when they take longer than the run's seconds
MIN_BATCHES = 2
#: input generation is repeated this many times and its median counted
SETUP_REPEATS = 3


class IngestMaterialize:
    name = "ingest_materialize"

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.feed = gen.XmlFeed(seed)
        self.batches: list[gen.Batch] = []
        self.paths: list[list[str]] = []
        self.latencies: list[float] = []
        self.failed: set[int] = set()
        self.delivered: list[gen.Batch] = []
        self.setup_parts: dict[str, float] = {}
        #: batch index -> its span id (traced runs only)
        self.batch_spans: dict[int, int] = {}

    # ---- set-up ----

    def _generate(self, directory: str) -> None:
        self.batches = self.feed.batches(MAX_BATCHES)
        self.paths = [self.feed.write_batch(b, directory) for b in self.batches]

    def setup(self) -> None:
        from minerva_etl_46_spark.instance import (
            apply_instance,
            instance_from_yaml,
            load_live,
            part_storage,
        )
        from minerva_etl_46_spark.plans.aggregation import specs_from_instance
        from minerva_etl_46_spark.plans.materialize import MaterializationEngine
        from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

        gen_s = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            self._generate(os.path.join(self.work, f"landing{i}"))
            gen_s.append(time.perf_counter() - t)
        self.setup_parts["generate_s"] = median(gen_s)

        t = time.perf_counter()
        self.root = os.path.join(self.work, "live")
        apply_instance(self.root, instance_from_yaml(gen.INSTANCE_YAML))
        self.inst = load_live(self.root)
        store = self.inst.trend_stores[0]
        self.raw = part_storage(self.root, store, "traffic_15m")
        self.entities_dir = os.path.join(self.raw.base_dir, "_entities")
        # reprocessing horizon covers the whole (2024) feed: late
        # corrections must re-run their windows
        self.specs = specs_from_instance(self.root, self.inst,
                                         reprocessing_period_s=10**10)
        self.engines = {s.name: MaterializationEngine(s.sources[0].base_dir)
                        for s in self.specs}
        for eng in self.engines.values():
            self._wrap_engine(eng)
        self.hourly = next(s for s in self.specs if s.name.endswith("_to_1h"))
        self.notifications = TrendStorePartStorage(
            self.raw.base_dir, "notification_high_drop_rate",
            partition_size_s=gen.HOUR_S)
        for b in range(WARMUP_BATCHES):
            self._deliver(b)
        self.setup_parts["warmup_s"] = time.perf_counter() - t

    def _wrap_engine(self, eng) -> None:
        """Spans around the tick's phases, as instance attributes: the
        engine calls ``self.candidates`` / ``self.run_window``."""
        tr = self.tracer
        candidates, run_window = eng.candidates, eng.run_window

        def traced_candidates(*a, **kw):
            with tr.span("materialize.candidates"):
                return candidates(*a, **kw)

        def traced_run_window(*a, **kw):
            with tr.span("materialize.run_window"):
                return run_window(*a, **kw)

        eng.candidates, eng.run_window = traced_candidates, traced_run_window

    # ---- one batch ----

    def _ingest(self, paths: list[str]) -> None:
        from pyspark.sql import functions as F

        from minerva_etl_46_spark.functions.timestamps import GRANULARITIES
        from minerva_etl_46_spark.plans.triggers import evaluate_rules
        from minerva_etl_46_spark.sources.harvest import (
            align_package,
            resolve_entities,
        )
        from minerva_etl_46_spark.sources.xml3gpp import harvest_3gpp_xml

        spark, span = self.spark, self.tracer.span
        with span("xml3gpp.harvest"):
            long_rows = harvest_3gpp_xml(spark, paths)
            pkg = (long_rows.groupBy("dn", "ts").pivot("counter")
                   .agg(F.max("value"))
                   .withColumn("ts", F.to_timestamp("ts")))
        with span("harvest.resolve"):
            if os.path.isdir(self.entities_dir):
                entities = spark.read.parquet(self.entities_dir)
            else:
                entities = spark.createDataFrame(
                    [], schema="entity_id long, name string")
            resolved, new_ents = resolve_entities(pkg, entities)
            new_ents.write.mode("append").parquet(self.entities_dir)
        with span("harvest.align"):
            resolved = resolved.withColumn("raw_ts", F.col("ts"))
            aligned = align_package(resolved, "ts", GRANULARITIES["15m"])
        with span("trendstore.upsert"):
            self.raw.upsert(
                aligned.select("entity_id", "ts", "raw_ts", *gen.COUNTERS),
                keys=["entity_id", "ts"], version_cols=["raw_ts"],
                ts_col="ts")
        done: dict[str, list[int]] = {}
        for spec in self.specs:
            with span("materialize.tick"):
                done[spec.name] = self.engines[spec.name].tick(spark, spec)
        with span("triggers.evaluate"):
            labels = [w + gen.HOUR_S for w in done[self.hourly.name]]
            if labels:
                kpi = self.hourly.target.read(spark).filter(
                    F.col("bucket").isin(labels))
                notes = evaluate_rules(kpi, list(self.inst.triggers),
                                       ts_col="bucket")
                notes = notes.localCheckpoint(eager=True)
                self.notifications.write(notes, ts_col="ts")

    def _deliver(self, b: int) -> float:
        """Ingest batch ``b``; returns its freshness latency in seconds, or
        raises after recording the batch as failed."""
        t = time.perf_counter()
        self.delivered.append(self.batches[b])
        try:
            with self.tracer.span("batch") as sp:
                if sp is not None:
                    self.batch_spans[b] = sp.id
                self._ingest(self.paths[b])
        except Exception as exc:
            self.failed.add(b)
            print(f"batch {b} failed: {type(exc).__name__}: {exc}",
                  file=sys.stderr)
            raise
        return time.perf_counter() - t

    # ---- measurement ----

    def measure(self, seconds: float) -> None:
        """Batches while the next one, judged by the last one's latency,
        ends within ``seconds``, and at least ``MIN_BATCHES``."""
        t0 = time.perf_counter()
        b = WARMUP_BATCHES
        last = 0.0
        while b < MAX_BATCHES and (
                b - WARMUP_BATCHES < MIN_BATCHES
                or time.perf_counter() - t0 + last <= seconds):
            try:
                last = self._deliver(b)
                self.latencies.append(last)
            except Exception:  # counted in failed; keep the loop going
                pass
            b += 1
        self.wall_s = time.perf_counter() - t0
        print(f"batch latencies: {[round(x, 3) for x in self.latencies]}",
              file=sys.stderr)
        self.measured = list(range(WARMUP_BATCHES, b))
        self.values = sum(self.batches[i].n_values for i in self.measured)

    # ---- output checks ----

    def verify(self) -> tuple[int, int]:
        """Compare the 1h and 1d rollups and the notifications with the
        generator's sums; a wrong key fails the batch that last delivered
        data into it. Returns (attempted, failed)."""
        spark = self.spark
        ids = {r["name"]: r["entity_id"] for r in
               spark.read.parquet(self.entities_dir).collect()}
        cell_of = {ids.get(gen.cell_dn(c)): c
                   for c in range(self.feed.n_cells)}
        last_batch: dict[tuple[str, int], int] = {}
        for bt in self.delivered:
            for p, end_ts in bt.periods:
                last_batch[("1h", gen.hour_label(end_ts))] = bt.index
                last_batch[("1d", gen.day_label(end_ts))] = bt.index
        bad: Counter = Counter()

        for spec in self.specs:
            tag = "1h" if spec is self.hourly else "1d"
            label = gen.hour_label if tag == "1h" else gen.day_label
            want = gen.expected_rollup(self.delivered, label)
            got = {(cell_of.get(r["entity_id"]), r["bucket"]):
                   [r[c] for c in gen.COUNTERS]
                   for r in spec.target.read(spark).collect()}
            for key in set(want) | set(got):
                if want.get(key) != got.get(key):
                    bad[last_batch.get((tag, key[1]), -1)] += 1
        want_n = gen.expected_notifications(self.delivered)
        got_n = {(cell_of.get(r["entity_id"]), int(r["ts"]), r["weight"])
                 for r in self.notifications.read(spark).collect()
                 if r["rule"] == "high_drop_rate"}
        for _, h, _ in want_n ^ got_n:
            bad[last_batch.get(("1h", h), -1)] += 1
        if bad:
            print(f"verify: mismatched keys by batch: {dict(bad)}",
                  file=sys.stderr)
        self.failed |= {b for b in bad if b in self.measured}
        if any(b not in self.measured for b in bad):
            self.failed |= set(self.measured)  # a warm-up batch went wrong
        return len(self.measured), len(self.failed & set(self.measured))

    # ---- metrics ----

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "latency_p50_ms": (1000 * median(self.latencies), "ms"),
            "throughput_per_s": (self.values / self.wall_s, "1/s"),
        }

    def report(self) -> dict[str, tuple[float, str]]:
        return {
            "values_per_s": (self.values / self.wall_s, "values/s"),
            "batch_latency_p50_s": (median(self.latencies), "s"),
            "batches": (len(self.latencies), "count"),
        }

    def layers(self, counters) -> dict[str, tuple[float, str]]:
        from perfbench.layers import ingest_layers

        return ingest_layers(self, counters)
