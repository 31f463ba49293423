"""Per-layer metrics of a traced run, derived from its spans and the Spark
counters the event log attributes to them.

``PER_LAYER`` holds the metrics every workload measures; they are the
``per_layer`` list of BENCHMARK.json. Each workload adds the metrics of
the layers only it calls (the materialization daemon, the HTTP service,
the query keys), which the traced run prints on its ``layers`` line.
All are per operation: a batch, a request, or one key's run.
"""

from __future__ import annotations

import os
from collections import defaultdict
from statistics import median

from perfbench import gen
from perfbench.spans import SpanCounters, Tracer

PER_LAYER = {
    "trendstore.bytes_per_value": "B",
    "trendstore.files_read_per_op": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_s_per_op": "s",
    "spark.exec_cpu_ratio": "ratio",
}

WRITTEN_FILES = "number of written files"
FILES_READ = "number of files read"

Metrics = dict[str, tuple[float, str]]


class Tree:
    """Subtree sums of span counters."""

    def __init__(self, tracer: Tracer, counters: dict[int, SpanCounters]):
        self.spans = tracer.spans
        self.counters = counters
        self.kids: dict[int, list[int]] = defaultdict(list)
        for s in tracer.spans:
            if s.parent is not None:
                self.kids[s.parent].append(s.id)

    def ids(self, root: int):
        yield root
        for k in self.kids[root]:
            yield from self.ids(k)

    def total(self, root: int, attr: str) -> float:
        return sum(getattr(self.counters.get(i, SpanCounters()), attr)
                   for i in self.ids(root))

    def metric(self, root: int, name: str) -> float:
        return sum(self.counters.get(i, SpanCounters()).sql_metrics.get(name, 0)
                   for i in self.ids(root))

    def under(self, root: int, name: str):
        return [self.spans[i] for i in self.ids(root)
                if self.spans[i].name == name]


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def _common(tree: Tree, ops: list) -> Metrics:
    """Spark totals per operation."""
    n = len(ops)

    def per_op(attr: str) -> float:
        return _ratio(sum(tree.total(o.id, attr) for o in ops), n)

    run_ms, cpu_ms = per_op("executor_run_ms"), per_op("executor_cpu_ms")
    return {
        "trendstore.files_read_per_op": (_ratio(
            sum(tree.metric(o.id, FILES_READ) for o in ops), n), "count"),
        "spark.jobs_per_op": (per_op("jobs"), "count"),
        "spark.tasks_per_op": (per_op("tasks"), "count"),
        "spark.executor_s_per_op": (run_ms / 1000, "s"),
        "spark.exec_cpu_ratio": (_ratio(cpu_ms, run_ms), "ratio"),
        "spark.exchanges_executed": (per_op("exchanges_executed"), "count"),
        "spark.exchanges_reused": (per_op("exchanges_reused"), "count"),
        "spark.shuffle_bytes": (per_op("shuffle_read_bytes")
                                + per_op("shuffle_write_bytes"), "B"),
        "spark.spill_bytes": (per_op("spill_bytes"), "B"),
    }


def ingest_layers(wl, counters: dict[int, SpanCounters]) -> Metrics:
    tree = Tree(wl.tracer, counters)
    batches = [tree.spans[wl.batch_spans[b]] for b in wl.measured
               if b in wl.batch_spans]
    out = _common(tree, batches)

    def per_batch(name: str) -> float:
        return _med(sum(s.dur for s in tree.under(b.id, name))
                    for b in batches)

    python_run = sum(tree.total(b.id, "python_run_ms") for b in batches)
    python_cpu = sum(tree.total(b.id, "python_cpu_ms") for b in batches)
    cands = [s for b in batches
             for s in tree.under(b.id, "materialize.candidates")]
    windows = [s for b in batches
               for s in tree.under(b.id, "materialize.run_window")]
    values = (len({p for b in wl.delivered for p, _ in b.periods})
              * wl.feed.n_cells * len(gen.COUNTERS))
    on_disk = dir_bytes(wl.raw.path) + sum(
        dir_bytes(s.target.path) for s in wl.specs)
    out.update({
        "trendstore.bytes_per_value": (_ratio(on_disk, values), "B"),
        "xml3gpp.harvest_s": (_med(tree.total(b.id, "python_run_ms") / 1000
                                   for b in batches), "s"),
        "xml3gpp.exec_cpu_ratio": (_ratio(python_cpu, python_run), "ratio"),
        "harvest.resolve_s": (per_batch("harvest.resolve"), "s"),
        "trendstore.upsert_s": (per_batch("trendstore.upsert"), "s"),
        "trendstore.files_written": (_med(
            sum(tree.metric(s.id, WRITTEN_FILES)
                for s in tree.under(b.id, "trendstore.upsert"))
            for b in batches), "count"),
        "materialize.candidates_s": (_med(s.dur for s in cands), "s"),
        "materialize.run_window_s": (_med(s.dur for s in windows), "s"),
        "materialize.windows_run": (_ratio(len(windows), len(batches)),
                                    "count"),
        "materialize.windows_useful_ratio": (_ratio(
            sum(1 for w in windows if tree.metric(w.id, WRITTEN_FILES) > 0),
            len(windows)), "ratio"),
        "materialize.jobs_per_window": (_ratio(
            sum(tree.total(w.id, "jobs") for w in windows), len(windows)),
            "count"),
        "triggers.eval_s": (per_batch("triggers.evaluate"), "s"),
    })
    return out


def service_layers(wl, counters: dict[int, SpanCounters]) -> Metrics:
    tree = Tree(wl.tracer, counters)
    requests = [tree.spans[s.span_id] for s in wl.samples
                if s.span_id is not None]
    out = _common(tree, requests)
    served = {r.id: tree.under(r.id, "service.query") for r in requests}
    values = (len(wl.data.raw) + len(wl.data.hourly)) * len(gen.COUNTERS)
    out.update({
        "trendstore.bytes_per_value": (_ratio(
            sum(dir_bytes(p.path) for p in wl.parts.values()), values), "B"),
        "service.run_s": (_med(q.dur for qs in served.values()
                               for q in qs), "s"),
        "service_http.overhead_ms": (_med(
            1000 * (r.dur - sum(q.dur for q in served[r.id]))
            for r in requests), "ms"),
        "service.jobs_per_request": (out["spark.jobs_per_op"][0], "count"),
    })
    return out


def report_layers(wl, counters: dict[int, SpanCounters]) -> Metrics:
    """Per key run, plus per-key and per-pass figures; per pass means the
    median over the steady passes (all but the first)."""
    from perfbench.report import DEDUP_PREFIXES

    tree = Tree(wl.tracer, counters)
    spans = tree.spans
    out = _common(tree, [spans[i] for ids in wl.key_spans.values()
                         for i in ids])
    out["trendstore.bytes_per_value"] = (0.0, "B")  # no trend store here
    steady = range(1, len(wl.passes))
    for key, ids in wl.key_spans.items():
        runs = [spans[i] for i in ids]
        out[f"queries.{key}_s"] = (_med(runs[p].dur for p in steady), "s")
        out[f"queries.{key}.exchanges_executed"] = (_med(
            tree.total(s.id, "exchanges_executed") for s in runs), "count")
        out[f"queries.{key}.exchanges_reused"] = (_med(
            tree.total(s.id, "exchanges_reused") for s in runs), "count")

    def per_pass(fn) -> float:
        return _med(sum(fn(spans[ids[p]], key)
                        for key, ids in wl.key_spans.items())
                    for p in steady)

    out["queries.build_s"] = (per_pass(
        lambda s, _: sum(b.dur for b in tree.under(s.id, "queries.build"))),
        "s")
    out["dedup.keys_s"] = (per_pass(
        lambda s, key: s.dur if key.startswith(DEDUP_PREFIXES) else 0.0), "s")
    out["queries.shuffle_bytes"] = (per_pass(
        lambda s, _: tree.total(s.id, "shuffle_read_bytes")
        + tree.total(s.id, "shuffle_write_bytes")), "B")
    out["queries.spill_bytes"] = (per_pass(
        lambda s, _: tree.total(s.id, "spill_bytes")), "B")
    out["queries.exec_cpu_ratio"] = out["spark.exec_cpu_ratio"]
    return out
