"""The XML generator and the sums it expects, checked with an independent
stdlib parse of the files it writes."""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections import defaultdict
from datetime import datetime

from perfbench import gen


def _parse(xml: str) -> tuple[str, dict[str, list[int]]]:
    """(endTime, dn -> counters in COUNTERS order) of one file."""
    ns = {"m": gen.NS}
    info = ET.fromstring(xml).find(".//m:measInfo", ns)
    end = info.find("m:granPeriod", ns).get("endTime")
    names = {t.get("p"): t.text for t in info.findall("m:measType", ns)}
    out = {}
    for mv in info.findall("m:measValue", ns):
        by = {names[r.get("p")]: int(r.text) for r in mv.findall("m:r", ns)}
        out[mv.get("measObjLdn")] = [by[c] for c in gen.COUNTERS]
    return end, out


def test_same_seed_same_inputs_other_seed_other_values():
    a = gen.XmlFeed(3).batches(4)
    b = gen.XmlFeed(3).batches(4)
    c = gen.XmlFeed(4).batches(4)
    assert [x.values for x in a] == [x.values for x in b]
    assert [x.values for x in a] != [x.values for x in c]


def test_batches_have_constant_shape():
    feed = gen.XmlFeed(9)
    bs = feed.batches(6)
    assert bs[0].corrections == []
    for prev, b in zip(bs, bs[1:]):
        assert len(b.corrections) == feed.corrections_per_batch
        assert set(b.corrections) <= {p for p, _ in prev.periods
                                      if p not in prev.corrections}
        assert b.n_values == bs[1].n_values


def test_expected_sums_equal_sums_of_parsed_files():
    feed = gen.XmlFeed(5, n_cells=6)
    bs = feed.batches(5)
    # replay the files in delivery order, last write wins per (period, dn)
    final: dict[tuple[str, str], list[int]] = {}
    for b in bs:
        for p, end_ts in b.periods:
            end, cells = _parse(gen.meas_file_xml(end_ts, b.values[p]))
            for dn, row in cells.items():
                final[(end, dn)] = row
    hourly: dict[tuple[int, int], list[int]] = defaultdict(
        lambda: [0] * len(gen.COUNTERS))
    dn_cell = {gen.cell_dn(c): c for c in range(feed.n_cells)}
    for (end, dn), row in final.items():
        ts = int(datetime.fromisoformat(end).timestamp())
        acc = hourly[(dn_cell[dn], gen.hour_label(ts))]
        for j, v in enumerate(row):
            acc[j] += v
    assert gen.expected_rollup(bs, gen.hour_label) == dict(hourly)


def test_corrections_replace_earlier_values():
    bs = gen.XmlFeed(1).batches(2)
    (p,) = bs[1].corrections
    final = gen.final_values(bs)
    assert final[(p, 0)] == bs[1].values[p][0]
    assert final[(p, 0)] != bs[0].values[p][0]


def test_labels_are_period_end():
    assert gen.hour_label(gen.EPOCH0 + 3600) == gen.EPOCH0 + 3600
    assert gen.hour_label(gen.EPOCH0 + 900) == gen.EPOCH0 + 3600
    assert gen.day_label(gen.EPOCH0 + 900) == gen.EPOCH0 + 86400


def test_every_hour_raises_a_notification():
    bs = gen.XmlFeed(2).batches(3)
    hours = {h for _, h in gen.expected_rollup(bs, gen.hour_label)}
    fired = {h for c, h, _ in gen.expected_notifications(bs) if c == 0}
    assert fired == hours


def test_serve_pages_follow_the_keyset_cursor():
    d = gen.ServeData(1, n_entities=5, n_days=1)
    start, end = d.start, d.start + 2 * gen.HOUR_S
    every = d.page("raw", start, end, None, 10**6, None)
    assert every == sorted(every)
    pages, after = [], None
    while True:
        page = d.page("raw", start, end, None, 7, after)
        if not page:
            break
        pages += page
        after = (page[-1][0] * 10**6, page[-1][1])
    assert pages == every
    one_hour = d.page("1h", start, end, None, 100, None)
    assert {(ts, e) for ts, e, *_ in one_hour} == {
        (start + gen.HOUR_S, e) for e in d.entity_ids}
