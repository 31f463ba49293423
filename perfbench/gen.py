"""Seeded input generators and the expected results they imply.

Everything here is plain Python: no Spark, so the expected values are
computed independently of the engine under test. The same seed always
gives the same inputs.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict
from dataclasses import dataclass
from datetime import datetime, timezone

#: 2024-01-01T00:00:00Z — the first period of every generated feed
EPOCH0 = 1704067200
PERIOD_S = 900
HOUR_S = 3600
DAY_S = 86400

#: raw counters, in measType order. ``calls`` and ``drops`` feed the
#: trigger rule; the rest only add width.
COUNTERS = ("calls", "drops", "setup_ms", "ho_att", "ho_succ", "prb_util")

NS = "http://www.3gpp.org/ftp/specs/archive/32_series/32.435#measCollec"

#: instance definition for the write workload: a 15-minute store with
#: hourly raw partitions, an hourly and a daily time rollup, one trigger
INSTANCE_YAML = """\
trend_stores:
  - data_source: pm
    entity_type: Cell
    granularity: 15m
    partition_size_seconds: 3600
    time_aggregations: [1h, 1d]
    parts:
      - name: traffic
        trends:
%s
triggers:
  - name: high_drop_rate
    predicate: "drops * 20 > calls"
    weight: "cast(drops * 100 / calls as int)"
    details: [calls, drops]
""" % "\n".join(
    f"          - {{name: {c}, data_type: double precision, "
    f"time_aggregation: sum}}" for c in COUNTERS)


def trigger_fires(calls: float, drops: float) -> bool:
    """Python mirror of the ``high_drop_rate`` predicate."""
    return drops * 20 > calls


def hour_label(ts: int) -> int:
    """Period-END hour containing a period-END timestamp: (h-1h, h]."""
    return -(-ts // HOUR_S) * HOUR_S


def day_label(ts: int) -> int:
    return -(-ts // DAY_S) * DAY_S


def iso(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S+00:00")


def cell_dn(i: int) -> str:
    return f"SubNetwork=1,MeContext=RNC{i // 16:02d},UtranCell=C{i:04d}"


def cell_values(rng: random.Random, cell: int) -> list[int]:
    """One period's counters for one cell. Cell 0 is always congested, so
    every hour raises at least one notification and a reprocessed hour
    always rewrites its notification partition."""
    calls = rng.randint(200, 1000)
    drops = calls // 10 if cell == 0 else rng.randint(0, calls // 15)
    ho_att = rng.randint(10, 200)
    return [calls, drops, rng.randint(50, 900), ho_att,
            rng.randint(0, ho_att), rng.randint(0, 100)]


def meas_file_xml(end_ts: int, values: dict[int, list[int]]) -> str:
    """One TS 32.435 measCollecFile for one 15-minute period."""
    types = "".join(f'<measType p="{j + 1}">{c}</measType>'
                    for j, c in enumerate(COUNTERS))
    vals = []
    for cell, row in values.items():
        rs = "".join(f'<r p="{j + 1}">{v}</r>' for j, v in enumerate(row))
        vals.append(f'<measValue measObjLdn="{cell_dn(cell)}">{rs}</measValue>')
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<measCollecFile xmlns="{NS}"><fileHeader fileFormatVersion='
        f'"32.435 V10.0" vendorName="Bench"/><measData>'
        '<managedElement localDn="SubNetwork=1"/><measInfo>'
        f'<granPeriod duration="PT900S" endTime="{iso(end_ts)}"/>'
        f'{types}{"".join(vals)}</measInfo></measData></measCollecFile>\n')


@dataclass
class Batch:
    index: int
    #: (period index, period-END epoch) of every file in the batch
    periods: list[tuple[int, int]]
    #: period indexes re-delivered from the previous batch
    corrections: list[int]
    #: period index -> cell -> counter values
    values: dict[int, dict[int, list[int]]]

    @property
    def n_values(self) -> int:
        return sum(len(cells) * len(COUNTERS) for cells in self.values.values())


@dataclass
class XmlFeed:
    """``n_cells`` cells, one file per 15-minute period, delivered in
    batches of ``periods_per_batch`` new periods. Every batch after the
    first re-delivers ``corrections_per_batch`` of the previous batch's
    new periods, chosen by the seed, with new values."""

    seed: int
    n_cells: int = 40
    periods_per_batch: int = 4
    corrections_per_batch: int = 1

    def batches(self, n: int) -> list[Batch]:
        out: list[Batch] = []
        for b in range(n):
            rng = random.Random(f"{self.seed}:{b}")
            new = list(range(b * self.periods_per_batch,
                             (b + 1) * self.periods_per_batch))
            corr = []
            if b:
                corr = sorted(rng.sample(
                    range((b - 1) * self.periods_per_batch,
                          b * self.periods_per_batch),
                    self.corrections_per_batch))
            periods = [(p, EPOCH0 + PERIOD_S * (p + 1)) for p in corr + new]
            values = {p: {c: cell_values(rng, c) for c in range(self.n_cells)}
                      for p, _ in periods}
            out.append(Batch(b, periods, corr, values))
        return out

    @staticmethod
    def write_batch(batch: Batch, directory: str) -> list[str]:
        os.makedirs(directory, exist_ok=True)
        paths = []
        for p, end_ts in batch.periods:
            path = os.path.join(directory, f"A{p:06d}_b{batch.index:04d}.xml")
            with open(path, "w") as fh:
                fh.write(meas_file_xml(end_ts, batch.values[p]))
            paths.append(path)
        return paths


def final_values(batches: list[Batch]) -> dict[tuple[int, int], list[int]]:
    """(period, cell) -> counters after every batch, last write wins."""
    out: dict[tuple[int, int], list[int]] = {}
    for b in batches:
        for p, cells in b.values.items():
            for c, row in cells.items():
                out[(p, c)] = row
    return out


def expected_rollup(batches: list[Batch], label) -> dict[tuple[int, int], list[int]]:
    """(cell, period-END label) -> per-counter sums, last write wins."""
    out: dict[tuple[int, int], list[int]] = defaultdict(
        lambda: [0] * len(COUNTERS))
    for (p, c), row in final_values(batches).items():
        acc = out[(c, label(EPOCH0 + PERIOD_S * (p + 1)))]
        for j, v in enumerate(row):
            acc[j] += v
    return dict(out)


def expected_notifications(batches: list[Batch]) -> set[tuple[int, int, int]]:
    """(cell, hour label, weight) for every hour the rule fires on."""
    i_calls, i_drops = COUNTERS.index("calls"), COUNTERS.index("drops")
    out = set()
    for (c, h), row in expected_rollup(batches, hour_label).items():
        calls, drops = row[i_calls], row[i_drops]
        if trigger_fires(calls, drops):
            out.add((c, h, int(drops * 100 / calls)))
    return out


# ---- read workload ----

@dataclass
class ServeData:
    """A raw 15-minute part and its hourly rollup over ``n_days`` days for
    ``n_entities`` entities, with values drawn from the seed."""

    seed: int
    n_entities: int = 40
    n_days: int = 1

    def __post_init__(self):
        rng = random.Random(f"serve:{self.seed}")
        self.entity_ids = sorted(rng.sample(range(1, 10**6), self.n_entities))
        n = self.n_days * DAY_S // PERIOD_S
        self.raw: dict[tuple[int, int], list[int]] = {}
        for p in range(n):
            ts = EPOCH0 + PERIOD_S * (p + 1)
            for e in self.entity_ids:
                self.raw[(ts, e)] = [rng.randint(0, 1000)
                                     for _ in COUNTERS]
        hourly: dict[tuple[int, int], list[int]] = defaultdict(
            lambda: [0] * len(COUNTERS))
        for (ts, e), row in self.raw.items():
            acc = hourly[(hour_label(ts), e)]
            for j, v in enumerate(row):
                acc[j] += v
        self.hourly = dict(hourly)

    @property
    def start(self) -> int:
        return EPOCH0

    def page(self, table: str, start: int, end: int,
             entities: list[int] | None, page_size: int,
             after: tuple[int, int] | None) -> list[tuple]:
        """The rows ``TrendQuery`` must return: ts in [start, end), ordered
        by (ts, entity), strictly after the keyset cursor (µs, entity)."""
        src = self.raw if table == "raw" else self.hourly
        ents = None if entities is None else set(entities)
        rows = []
        for (ts, e), vals in src.items():
            if not start <= ts < end or (ents is not None and e not in ents):
                continue
            if after is not None and (ts * 10**6, e) <= after:
                continue
            rows.append((ts, e, *vals))
        rows.sort()
        return rows[:page_size]


@dataclass
class Request:
    kind: str            # point | range | pages
    table: str           # raw | 1h
    start: int
    end: int
    entities: list[int] | None
    page_size: int
    pages: int = 1


#: one cycle of the closed-loop mix, shuffled by the seed each cycle
MIX = (("point",) * 5) + (("range",) * 3) + (("pages",) * 2)


def request_stream(data: ServeData, seed: int):
    """Endless seeded stream of requests in the fixed ``MIX`` proportions:
    point reads (3 entities, one hour of raw rows), range reads (all
    entities, one day of the hourly rollup, one page) and keyset
    page-throughs (all entities, two hours of raw rows, 4 pages of 80)."""
    rng = random.Random(f"mix:{seed}")
    hours = data.n_days * 24
    while True:
        cycle = list(MIX)
        rng.shuffle(cycle)
        for kind in cycle:
            if kind == "point":
                h = data.start + HOUR_S * rng.randrange(hours)
                yield Request("point", "raw", h, h + HOUR_S,
                              sorted(rng.sample(data.entity_ids, 3)), 1000)
            elif kind == "range":
                d = data.start + DAY_S * rng.randrange(data.n_days)
                yield Request("range", "1h", d, d + DAY_S, None,
                              24 * data.n_entities)
            else:
                h = data.start + HOUR_S * rng.randrange(hours - 2)
                yield Request("pages", "raw", h, h + 2 * HOUR_S, None, 80,
                              pages=4)
