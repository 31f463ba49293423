#!/usr/bin/env python3
"""Benchmark of Minerva's own loop: ingest -> materialize -> serve.

    python3 perfbench/run.py --workload ingest_materialize --seed 1 \\
        --seconds 30 --trace 0

Run from the root of a checkout. It builds a 2-core local Spark session
from the checkout's ``minerva_etl_46_spark`` package, sets the workload
up from the seed, drives it for ``--seconds``, checks every output
against the generator's own expectation, and prints one JSON object as
the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run records spans and Spark's event log and the
metrics are the per-layer ones (perfbench/layers.py). Lines before the
last one repeat the workload's own metric names, the span tree and, for a
traced run, the tracing overhead against the last untraced run of the
same workload and seed. All files it writes stay under the checkout:
scratch data in ``.perfbench_work/`` (removed at exit) and results in
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import asdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: host sizing: half of a 4-vCPU host and a driver heap well inside
#: 15 GiB. With all 4 cores, one or two busy threads of another tenant
#: slowed a request by 20-35 % and a batch by 75 %; with 2 cores (and the
#: JVM told it has 2, so its GC and JIT pools match) a request did not
#: slow and a quiet host gave the same latencies as 4 cores.
CPUS = 2
DRIVER_MEMORY = "4g"


def _session(work: str, trace: bool):
    from minerva_etl_46_spark.session import get_spark
    from perfbench.spans import event_log_confs

    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-XX:ActiveProcessorCount={CPUS}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        confs.update(event_log_confs(os.path.join(work, "events")))
    return get_spark(app_name="perfbench", cpus=CPUS, shuffle_partitions=CPUS,
                     driver_memory=DRIVER_MEMORY, extra_confs=confs)


def _stop(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it; its Python workers end with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _workload(args, spark, tracer, work: str):
    if args.workload == "ingest_materialize":
        from perfbench.ingest import IngestMaterialize

        return IngestMaterialize(spark, tracer, work, args.seed)
    if args.workload == "service_query":
        from perfbench.serve import ServiceQuery

        return ServiceQuery(spark, tracer, work, args.seed)
    from perfbench.report import ReportPack

    return ReportPack(spark, tracer, work, args.seed, args.sf_dir)


def _metrics(values: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def _span_summary(tracer, counters) -> list[dict]:
    """Spans grouped by their name path: count, total, self time, jobs."""
    selfs = tracer.self_times()
    paths: dict[int, str] = {}
    rows: dict[str, dict] = {}
    for s in tracer.spans:
        paths[s.id] = (paths[s.parent] + "/" if s.parent is not None
                       else "") + s.name
        r = rows.setdefault(paths[s.id], {"span": paths[s.id], "n": 0,
                                          "total_s": 0.0, "self_s": 0.0,
                                          "jobs": 0, "tasks": 0})
        r["n"] += 1
        r["total_s"] += s.dur
        r["self_s"] += selfs[s.id]
        c = counters.get(s.id)
        if c is not None:
            r["jobs"] += c.jobs
            r["tasks"] += c.tasks
    return list(rows.values())


def run(args, work: str, out_dir: str) -> list[str]:
    trace = bool(args.trace)
    spark = _session(work, trace)
    session_s = time.perf_counter() - T_START
    from perfbench.layers import PER_LAYER
    from perfbench.spans import Tracer, read_event_logs

    tracer = Tracer(spark, enabled=trace)
    wl = _workload(args, spark, tracer, work)
    try:
        wl.setup()
        setup_s = session_s + sum(wl.setup_parts.values())
        wl.measure(args.seconds)
        attempted, failed = wl.verify()
    finally:
        if hasattr(wl, "close"):
            wl.close()
        _stop(spark)

    e2e = {"setup_s": (setup_s, "s"), **wl.end_to_end()}
    report = {**wl.report(), "failed_ratio": (failed / attempted, "ratio")}
    result = {"workload": args.workload, "seed": args.seed, "trace": trace,
              "end_to_end": e2e, "report": report,
              "setup_parts": {"session_s": session_s, **wl.setup_parts}}
    lines = [json.dumps({"report": _metrics(report)})]
    if trace:
        counters = read_event_logs(os.path.join(work, "events"))
        layers = wl.layers(counters)
        result["layers"] = layers
        tracer.dump(os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"),
            {k: asdict(v) for k, v in counters.items()})
        lines.append(json.dumps({"layers": _metrics(
            {k: v for k, v in layers.items() if k not in PER_LAYER})}))
        lines += [json.dumps(r) for r in _span_summary(tracer, counters)]
        base = os.path.join(out_dir,
                            f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(base):
            with open(base) as fh:
                untraced = json.load(fh)["end_to_end"]
            lines.append(json.dumps({"tracing_overhead": {
                k: {"value": v - untraced[k][0], "unit": u}
                for k, (v, u) in e2e.items() if k in untraced}}))
        metrics = {k: layers[k] for k in PER_LAYER}
    else:
        metrics = e2e
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-"
                           f"trace{int(trace)}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    lines.append(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": _metrics(metrics)}))
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_materialize", "service_query",
                             "report_pack"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="fixture directory for report_pack "
                    "(not a BENCHMARK.json workload; see report.py)")
    args = ap.parse_args()
    if args.workload == "report_pack" and not args.sf_dir:
        ap.error("report_pack needs --sf-dir")

    if not os.path.isfile(os.path.join(ROOT, "minerva_etl_46_spark",
                                       "__init__.py")):
        print(f"perfbench: no minerva_etl_46_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the package, bench.py and tests/, not perfbench/
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    # Python workers import the package; every temp file stays in work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # stdout carries only our lines: the JVM inherits fd 1 at launch, so
    # point fd 1 at stderr before it starts and keep the real stdout aside
    out_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        lines = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.write(out_fd, ("\n".join(lines) + "\n").encode())
    os.close(out_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
