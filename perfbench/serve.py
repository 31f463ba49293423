"""``service_query``: the read path through ``service_http``.

Set-up writes a seeded raw 15-minute part and its hourly rollup with
``TrendStorePartStorage.write`` (hourly partitions), then starts
``make_server`` on loopback, as ``cli serve`` does. One
closed-loop client keeps one request outstanding and sends the seeded
``gen.MIX`` of point reads, range reads and keyset page-throughs.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.error
import urllib.request
from datetime import datetime, timezone
from statistics import median
from typing import NamedTuple
from urllib.parse import urlencode

from perfbench import gen
from perfbench.stats import percentile, tail_percentile

#: data generation is repeated this many times and its median counted
SETUP_REPEATS = 3
#: mix items sent after start-up and before timing, from their own seed.
#: Request latency falls by about a quarter over the first ~30 items as
#: the JIT compiles the planner; timing inside that phase made a slow
#: host look slower still, so it is all set-up.
WARMUP_ITEMS = 30
PARTS = {"raw": ("traffic_15m", "ts"), "1h": ("traffic_1h", "bucket")}


class Sample(NamedTuple):
    request: gen.Request
    page: int
    rows: list[dict] | None     # None: the request failed
    next_after: list[int] | None
    latency_s: float
    span_id: int | None         # traced runs only


def _epoch(v) -> int:
    if isinstance(v, int):
        return v
    return int(datetime.fromisoformat(v).replace(tzinfo=timezone.utc)
               .timestamp())


class ServiceQuery:
    name = "service_query"

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.setup_parts: dict[str, float] = {}
        self.samples: list[Sample] = []
        self.srv = None

    # ---- set-up ----

    def setup(self) -> None:
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.data = gen.ServeData(self.seed)
            gen_s.append(time.perf_counter() - t)
        self.setup_parts["generate_s"] = median(gen_s)
        t = time.perf_counter()
        self.base = os.path.join(self.work, "pm", "Cell", "15m")
        self._build()
        self.setup_parts["build_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self._start_server()
        warm = gen.request_stream(self.data, seed=-1 - self.seed)
        for _ in range(WARMUP_ITEMS):
            self._send(next(warm), record=False)
        self.setup_parts["warmup_s"] = time.perf_counter() - t

    def _build(self) -> None:
        import pandas as pd

        from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

        from pyspark.sql import functions as F

        self.parts = {}
        for table, src in (("raw", self.data.raw), ("1h", self.data.hourly)):
            name, ts_col = PARTS[table]
            pdf = pd.DataFrame(
                [(ts, e, *map(float, vals)) for (ts, e), vals in src.items()],
                columns=["epoch", "entity_id", *gen.COUNTERS])
            df = self.spark.createDataFrame(pdf)
            if table == "raw":
                df = df.withColumn("ts", F.timestamp_seconds("epoch"))
            else:
                df = df.withColumnRenamed("epoch", "bucket")
            df = df.select("entity_id", ts_col, *gen.COUNTERS)
            part = TrendStorePartStorage(self.base, name,
                                         partition_size_s=gen.HOUR_S)
            part.write(df, ts_col=ts_col)
            self.parts[table] = part

    def _start_server(self) -> None:
        from minerva_etl_46_spark.service_http import (
            DataServiceHandler,
            make_server,
        )

        self.srv = make_server(self.spark, self.base, port=0,
                               partition_size_s=gen.HOUR_S)
        if self.tracer.enabled:
            tracer = self.tracer

            class TracedHandler(DataServiceHandler):
                def _query(self, q):
                    parent = self.headers.get("X-Bench-Span")
                    with tracer.span("service.query",
                                     parent=int(parent) if parent else None):
                        return super()._query(q)

            self.srv.RequestHandlerClass = TracedHandler
        self.port = self.srv.server_address[1]
        self.thread = threading.Thread(target=self.srv.serve_forever,
                                       daemon=True)
        self.thread.start()

    def close(self) -> None:
        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()
            self.thread.join(timeout=30)
            self.srv = None

    # ---- client ----

    def _get(self, params: dict, span_id: int | None):
        url = f"http://127.0.0.1:{self.port}/query?{urlencode(params)}"
        headers = {} if span_id is None else {"X-Bench-Span": str(span_id)}
        req = urllib.request.Request(url, headers=headers)
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read())

    def _send(self, r: gen.Request, record: bool = True) -> None:
        """One request of the mix: one page, or ``r.pages`` pages that
        follow ``next_after``. Each page is one HTTP request."""
        name, ts_col = PARTS[r.table]
        params = {"part": name, "start": r.start, "end": r.end,
                  "page_size": r.page_size, "ts_col": ts_col}
        if r.entities:
            params["entities"] = ",".join(map(str, r.entities))
        for page in range(r.pages):
            t = time.perf_counter()
            with self.tracer.span("request") as sp:
                try:
                    body = self._get(params, sp.id if sp else None)
                except (urllib.error.URLError, OSError, ValueError) as exc:
                    print(f"request failed: {exc}", file=sys.stderr)
                    body = None
            lat = time.perf_counter() - t
            if record:
                self.samples.append(Sample(r, page, body and body["rows"],
                                           body and body["next_after"], lat,
                                           sp.id if sp else None))
            if body is None or body["next_after"] is None:
                return
            params["after_us"], params["after_entity"] = body["next_after"]

    def measure(self, seconds: float) -> None:
        stream = gen.request_stream(self.data, self.seed)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            self._send(next(stream))
        self.wall_s = time.perf_counter() - t0

    # ---- output checks ----

    def verify(self) -> tuple[int, int]:
        """Replay each request's cursor chain against the generator; a
        page is wrong if its rows or its ``next_after`` differ."""
        failed = 0
        after = None
        for r, page, rows, next_after, _, _ in self.samples:
            if page == 0:
                after = None
            want = self.data.page(r.table, r.start, r.end, r.entities,
                                  r.page_size, after)
            if rows is None:
                failed += 1
                continue
            _, ts_col = PARTS[r.table]
            got = [(_epoch(x[ts_col]), x["entity_id"],
                    *[x[c] for c in gen.COUNTERS]) for x in rows]
            want_next = ([want[-1][0] * 10**6, want[-1][1]]
                         if len(want) == r.page_size else None)
            if got != want or next_after != want_next:
                failed += 1
            after = None if want_next is None else tuple(want_next)
        return len(self.samples), failed

    # ---- metrics ----

    def _latencies_ms(self) -> list[float]:
        return [1000 * s.latency_s for s in self.samples]

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "latency_p50_ms": (median(self._latencies_ms()), "ms"),
            "throughput_per_s": (len(self.samples) / self.wall_s, "1/s"),
        }

    def report(self) -> dict[str, tuple[float, str]]:
        lat = self._latencies_ms()
        out = {"latency_p50_ms": (median(lat), "ms"),
               "requests_per_s": (len(lat) / self.wall_s, "req/s"),
               "requests": (len(lat), "count")}
        for kind in ("point", "range", "pages"):
            ks = [1000 * s.latency_s for s in self.samples
                  if s.request.kind == kind]
            if ks:
                out[f"{kind}_p50_ms"] = (median(ks), "ms")
        q = tail_percentile(len(lat))
        if q is not None and q > 50:
            out[f"latency_p{q:g}_ms"] = (percentile(lat, q), "ms")
        return out

    def layers(self, counters) -> dict[str, tuple[float, str]]:
        from perfbench.layers import service_layers

        return service_layers(self, counters)
