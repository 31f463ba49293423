"""Thin HTTP face over the data-service pager (SURVEY.md §2.6 O1/O2;
[ref: minerva-service REST API — UNVERIFIED [L]]).

Stdlib-only (http.server) so the engine image needs no web framework.
One worker thread per request against a SHARED SparkSession — safe
because a TrendQuery compiles to one bounded job and the collect is
capped at MAX_PAGE_SIZE by construction. The API is deliberately the
pager's shape: a page of ordered rows plus a keyset cursor, never an
offset.

Routes:
  GET /health                     → {"status": "ok"}
  GET /parts                      → {"parts": [names under base_dir]}
  GET /query?part=P&start=E&end=E[&columns=a,b][&entities=1,2]
            [&page_size=N][&after_us=U&after_entity=I]
      → {"rows": [...], "next_after": [us, entity] | null}
  GET /attributes/at?store=S&attrs=a,b&ts=EPOCH&entities=1,2
      → {"rows": [...]} — the attribute_directory _at(entity, ts)
        lookup over the wire; `entities` is REQUIRED (the request is
        bounded by construction, ≤ MAX_PAGE_SIZE ids)
  GET /attributes/curr?store=S&attrs=a,b[&entities=1,2]
      → {"rows": [...]} — the _curr view, capped at MAX_PAGE_SIZE rows

Timestamps serialize as ISO-8601 strings; the cursor is µs-precision so
no row can be skipped between pages (service.py docstring).
"""

from __future__ import annotations

import json
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from minerva_etl_46_spark.service import TrendQuery, keyset_cursor
from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage


def _jsonable(v):
    if isinstance(v, datetime):
        return v.isoformat()
    return v


class DataServiceHandler(BaseHTTPRequestHandler):
    """Request context (spark, base_dir) hangs off the server instance."""

    server_version = "minerva-etl-46-spark/0"

    def log_message(self, fmt, *args):  # keep pytest output clean
        pass

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802 (http.server API)
        url = urlparse(self.path)
        try:
            if url.path == "/health":
                self._send(200, {"status": "ok"})
            elif url.path == "/parts":
                import os

                # attr_* dirs are attribute stores (no p_bucket layout):
                # advertising them here would send a discovery-following
                # client into a 500 on /query
                parts = sorted(
                    e for e in os.listdir(self.server.base_dir)
                    if os.path.isdir(os.path.join(self.server.base_dir, e))
                    and not e.startswith(("_", "attr_"))
                )
                self._send(200, {"parts": parts})
            elif url.path == "/query":
                self._send(200, self._query(parse_qs(url.query)))
            elif url.path == "/attributes/at":
                self._send(200, self._attributes(parse_qs(url.query),
                                                 at=True))
            elif url.path == "/attributes/curr":
                self._send(200, self._attributes(parse_qs(url.query),
                                                 at=False))
            else:
                self._send(404, {"error": f"no route {url.path}"})
        except (KeyError, ValueError, TypeError) as exc:
            # TypeError covers int(None) from a missing required numeric
            # param (start/end, ts) — a client error, not a server fault
            self._send(400, {"error": str(exc)})
        except Exception as exc:  # noqa: BLE001 — surface, don't kill the server
            self._send(500, {"error": f"{type(exc).__name__}: {exc}"})

    def _query(self, q: dict) -> dict:
        def one(name, default=None):
            return q[name][0] if name in q else default

        from minerva_etl_46_spark.service import MAX_PAGE_SIZE

        part = one("part")
        if not part:
            raise KeyError("part is required")
        if one("start") is None or one("end") is None:
            raise KeyError("start and end are required")
        # open() reads the part's OWN partition grid from its metadata:
        # a server-wide size smaller than the part's actual grid would
        # make read_window's range floor land ABOVE the real partition
        # start and silently omit existing rows. The server
        # conf is only the fallback for pre-metadata parts.
        storage = TrendStorePartStorage.open(
            self.server.base_dir, part,
            default_partition_size_s=self.server.partition_size_s,
        )
        after = None
        if one("after_us") is not None:
            after = (int(one("after_us")), int(one("after_entity", "0")))
        cols = [c for c in (one("columns", "") or "").split(",") if c]
        ents = [int(e) for e in (one("entities", "") or "").split(",") if e]
        if len(ents) > MAX_PAGE_SIZE:
            # same bound /attributes/at enforces: a multi-thousand-literal
            # isin() bloats driver analysis on the SHARED session — the
            # 'bounded by construction' claim must hold on every route
            raise ValueError(
                f"{len(ents)} entities exceeds MAX_PAGE_SIZE {MAX_PAGE_SIZE}")
        # rollup parts carry their period label in `bucket` (epoch-s),
        # raw parts in `ts` (timestamp) — ts_col/entity_col let one
        # service route page either
        ts_col = one("ts_col", "ts")
        entity_col = one("entity_col", "entity_id")
        query = TrendQuery(
            part=storage,
            start_epoch=int(one("start")),
            end_epoch=int(one("end")),
            columns=cols,
            entity_ids=ents or None,
            page_size=int(one("page_size", "1000")),
            after=after,
        )
        rows = query.run(self.server.spark, entity_col=entity_col,
                         ts_col=ts_col).collect()
        out = [{k: _jsonable(v) for k, v in r.asDict().items()} for r in rows]
        next_after = None
        if len(rows) == query.page_size:
            next_after = list(keyset_cursor(rows[-1], entity_col, ts_col))
        return {"rows": out, "next_after": next_after}


    def _attributes(self, q: dict, at: bool) -> dict:
        from pyspark.sql import functions as F

        from minerva_etl_46_spark.service import MAX_PAGE_SIZE
        from minerva_etl_46_spark.sources.attributestore import (
            AttributeStoreStorage,
        )

        def one(name, default=None):
            return q[name][0] if name in q else default

        store_name = one("store")
        attrs = [a for a in (one("attrs", "") or "").split(",") if a]
        if not store_name or not attrs:
            raise KeyError("store and attrs are required")
        store = AttributeStoreStorage(
            self.server.base_dir, store_name, tuple(attrs))
        ents = [int(e) for e in (one("entities", "") or "").split(",") if e]
        spark = self.server.spark
        if not store._exists(spark):
            raise KeyError(f"no attribute store {store_name!r}")
        # validate the requested attrs against the stored schema up front:
        # an unknown attr must be a 400 naming it, not an AnalysisException
        # 500 from deep inside the as-of join / projection
        hist_cols = set(store.read_history(spark).columns)
        unknown = [a for a in attrs if a not in hist_cols]
        if unknown:
            raise KeyError(
                f"unknown attrs {unknown} in store {store_name!r}")
        if at:
            if not ents:
                raise KeyError("entities is required for /attributes/at")
            if len(ents) > MAX_PAGE_SIZE:
                raise ValueError(
                    f"{len(ents)} entities exceeds MAX_PAGE_SIZE "
                    f"{MAX_PAGE_SIZE}")
            if one("ts") is None:
                raise KeyError("ts is required for /attributes/at")
            ts = int(one("ts"))
            # JVM-side literal frame for small entity lists
            # (functions/frames.py: createDataFrame-from-rows costs a
            # Python-worker round-trip per REQUEST; past the helper's
            # literal limit it falls back before the expression tree
            # bloats analysis cost)
            from minerva_etl_46_spark.functions.frames import (
                small_literal_frame,
            )

            facts = small_literal_frame(
                spark, [int(e) for e in ents], "entity_id", "long",
            ).withColumn("__at_ts", F.timestamp_seconds(F.lit(ts)))
            df = store.at(spark, facts, fact_ts="__at_ts")
            rows = df.collect()  # bounded-by: one row per requested entity
        else:
            if len(ents) > MAX_PAGE_SIZE:
                raise ValueError(
                    f"{len(ents)} entities exceeds MAX_PAGE_SIZE "
                    f"{MAX_PAGE_SIZE}")
            # honor the documented attrs projection, not every stored
            # column
            df = store.curr(spark).select("entity_id", "ts", *attrs)
            if ents:
                df = df.filter(F.col("entity_id").isin(ents))
            rows = df.limit(MAX_PAGE_SIZE).collect()  # bounded-by: cap
        out = [{k: _jsonable(v) for k, v in r.asDict().items()
                if not k.startswith("__")} for r in rows]
        return {"rows": out}


def make_server(spark: SparkSession, base_dir: str, port: int = 0,
                partition_size_s: int = 86400) -> ThreadingHTTPServer:
    """Bind (port=0 → ephemeral) and return the server; caller drives
    serve_forever() in a thread and shutdown() to stop."""
    srv = ThreadingHTTPServer(("127.0.0.1", port), DataServiceHandler)
    srv.spark = spark
    srv.base_dir = base_dir
    srv.partition_size_s = partition_size_s
    return srv
