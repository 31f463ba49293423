"""Storage (partitioned trend store, upsert, retention), CSV harvesting
with entity resolution, and the trigger/notification engine."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from minerva_etl_46_spark.catalog import TriggerRule
from minerva_etl_46_spark.functions.timestamps import G_1H
from minerva_etl_46_spark.plans.triggers import evaluate_rules
from minerva_etl_46_spark.sources.harvest import (
    align_package,
    read_csv_harvest,
    resolve_entities,
)
from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage


def _mini(spark, rows):
    return spark.createDataFrame(
        rows, schema="entity_id long, ts string, job_id long, v double"
    ).withColumn("ts", F.to_timestamp("ts"))


def test_storage_roundtrip_prune_retention(spark, tmp_path):
    st = TrendStorePartStorage(str(tmp_path), "part_a", partition_size_s=3600)
    df = _mini(spark, [
        (1, "2024-01-01 00:10:00", 1, 1.0),
        (1, "2024-01-01 01:10:00", 1, 2.0),
        (2, "2024-01-01 02:10:00", 1, 3.0),
    ])
    touched = st.write(df, ts_col="ts")
    assert len(touched) == 3
    # partition-pruned read (2024-01-01T01:00Z = 1704070800)
    got = st.read_window(spark, 1704070800, 1704074400)  # hour 01 only
    assert [r["v"] for r in got.collect()] == [2.0]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # retention drops whole partition dirs
    dropped = st.apply_retention(1704074400)
    assert dropped == [1704067200, 1704070800]  # hours 00 and 01
    assert {r["v"] for r in st.read(spark).collect()} == {3.0}


def test_storage_upsert_is_incremental_and_idempotent(spark, tmp_path):
    st = TrendStorePartStorage(str(tmp_path), "part_b", partition_size_s=3600)
    b1 = _mini(spark, [
        (1, "2024-01-01 00:10:00", 1, 1.0),
        (2, "2024-01-01 00:20:00", 1, 2.0),
        (1, "2024-01-01 05:10:00", 1, 9.0),
    ])
    st.upsert(b1, keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")
    # batch 2 revises one row in hour 0 and must NOT disturb hour 5
    b2 = _mini(spark, [(2, "2024-01-01 00:20:00", 2, 5.0)])
    st.upsert(b2, keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")
    got = {(r["entity_id"], r["v"]) for r in st.read(spark).collect()}
    assert got == {(1, 1.0), (2, 5.0), (1, 9.0)}
    # idempotence: replaying batch 2 changes nothing
    st.upsert(b2, keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")
    got2 = {(r["entity_id"], r["v"]) for r in st.read(spark).collect()}
    assert got2 == got
    # modified log recorded every write
    log = st.modified_log(spark)
    assert log.count() >= 3


def test_csv_harvest_with_entity_resolution(spark, tmp_path):
    csv_path = os.path.join(str(tmp_path), "pm.csv")
    with open(csv_path, "w") as f:
        f.write("dn,ts,counter_a\n")
        f.write("Network=NL,Cell=1,2024-01-01 00:05:00,10.5\n")
        f.write("Network=NL,Cell=2,2024-01-01 00:20:00,11.5\n")
    # NB: the DN itself contains a comma → vendor files quote it; here the
    # schema keeps it simple with the first two fields merged by quoting
    with open(csv_path, "w") as f:
        f.write('dn,ts,counter_a\n')
        f.write('"Network=NL,Cell=1",2024-01-01 00:05:00,10.5\n')
        f.write('"Network=NL,Cell=2",2024-01-01 00:20:00,11.5\n')
    pkg = read_csv_harvest(
        spark, csv_path, schema="dn string, ts timestamp, counter_a double"
    )
    entities = spark.createDataFrame(
        [(100, "Network=NL,Cell=1")], schema="entity_id long, name string"
    )
    resolved, new_ents = resolve_entities(pkg, entities)
    rows = {r["dn"]: r["entity_id"] for r in resolved.collect()}
    assert rows["Network=NL,Cell=1"] == 100          # existing id reused
    assert rows["Network=NL,Cell=2"] not in (None, 100)  # minted, deterministic
    assert rows["Network=NL,Cell=2"] >= 0            # top bit cleared
    news = new_ents.collect()
    assert len(news) == 1 and news[0]["name"] == "Network=NL,Cell=2"
    # re-harvest mints the SAME id (content-addressed)
    resolved2, _ = resolve_entities(pkg, entities)
    rows2 = {r["dn"]: r["entity_id"] for r in resolved2.collect()}
    assert rows2 == rows
    # period-END alignment (Minerva timestamp convention)
    aligned = align_package(resolved, "ts", G_1H)
    assert {str(r["ts"]) for r in aligned.collect()} == {"2024-01-01 01:00:00"}


def test_trigger_rules_produce_weighted_notifications(spark):
    kpi = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", 0.4, 100), (2, "2024-01-01 01:00:00", 0.9, 7),
         # every predicate evaluates to NULL on this row: it must not fire
         (3, "2024-01-01 01:00:00", None, None)],
        schema="entity_id long, ts string, err_rate double, n long",
    ).withColumn("ts", F.to_timestamp("ts"))
    rules = [
        TriggerRule(name="high_err", predicate_sql="err_rate > 0.5 and n >= 5",
                    weight_sql="cast(err_rate * 100 as int)",
                    details_cols=("err_rate", "n")),
        TriggerRule(name="low_traffic", predicate_sql="n < 50",
                    weight_sql="10", details_cols=()),
    ]
    notes = evaluate_rules(kpi, rules).collect()
    by_rule = {(r["rule"], r["entity_id"]): r for r in notes}
    assert set(by_rule) == {("high_err", 2), ("low_traffic", 2)}
    hit = by_rule[("high_err", 2)]
    assert hit["weight"] == 90
    assert '"err_rate":0.9' in hit["details"]


def test_trigger_predicate_reaches_parquet_scan(spark, tmp_path):
    """A rule predicate over KPI scan columns must reach the parquet
    reader's PushedFilters: evaluate_rules filters on the OR of the rule
    predicates before building the rule array."""
    path = str(tmp_path / "kpi")
    spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", 0.4), (2, "2024-01-01 01:00:00", 0.9)],
        schema="entity_id long, ts string, err_rate double",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(path)
    rules = [TriggerRule(name="high_err", predicate_sql="err_rate > 0.5",
                         weight_sql="1", details_cols=())]
    notes = evaluate_rules(spark.read.parquet(path), rules)
    plan = notes._jdf.queryExecution().executedPlan().toString()
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan(err_rate,0.5)" in pushed, plan
    assert [r["entity_id"] for r in notes.collect()] == [2]


def test_compact_partitions(spark, tmp_path):
    from minerva_etl_46_spark.sources.trendstore import compact_partitions

    st = TrendStorePartStorage(str(tmp_path), "part_c", partition_size_s=3600)
    # upsert rewrites its partitions (already 1 file); small files come from
    # APPEND-mode writers (notification stores, logs) — simulate those
    st.upsert(_mini(spark, [(0, "2024-01-01 00:10:00", 0, 0.0)]),
              keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")
    import os
    pdir = os.path.join(st.path, "p_bucket=1704067200")
    for j in (1, 2):
        _mini(spark, [(j, "2024-01-01 00:10:00", j, float(j))]) \
            .drop("ts") .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:10:00"))) \
            .select(*[c for c in spark.read.parquet(pdir).columns]) \
            .coalesce(1).write.mode("append").parquet(pdir)
    before = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
    assert before > 1
    n = compact_partitions(st, spark)
    assert n == 1
    after = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
    assert after == 1
    # data intact post-compaction
    assert st.read(spark).count() == 3


def test_compact_only_touches_multifile_partitions(spark, tmp_path):
    """r8 one-job compaction: a partition already at the file target is
    neither read nor rewritten (byte-identical dir listing)."""
    from minerva_etl_46_spark.sources.trendstore import compact_partitions

    st = TrendStorePartStorage(str(tmp_path), "part_d", partition_size_s=3600)
    st.write(_mini(spark, [
        (1, "2024-01-01 00:10:00", 1, 1.0),   # bucket A: stays 1 file
        (2, "2024-01-01 01:10:00", 1, 2.0),   # bucket B: gets appends
    ]), ts_col="ts")
    pdir_b = os.path.join(st.path, "p_bucket=1704070800")
    cols = spark.read.parquet(pdir_b).columns
    for j in (5, 6):
        _mini(spark, [(j, "2024-01-01 01:20:00", j, float(j))]) \
            .select(*cols).coalesce(1).write.mode("append").parquet(pdir_b)
    pdir_a = os.path.join(st.path, "p_bucket=1704067200")
    listing_a = sorted(
        (f, os.path.getmtime(os.path.join(pdir_a, f)))
        for f in os.listdir(pdir_a) if f.endswith(".parquet"))

    assert compact_partitions(st, spark) == 1  # only bucket B
    after_a = sorted(
        (f, os.path.getmtime(os.path.join(pdir_a, f)))
        for f in os.listdir(pdir_a) if f.endswith(".parquet"))
    assert after_a == listing_a  # untouched: same files, same mtimes
    nb = [f for f in os.listdir(pdir_b) if f.endswith(".parquet")]
    assert len(nb) == 1
    assert st.read(spark).count() == 4


def test_jsonl_harvest_equals_csv_harvest(spark, tmp_path):
    """S1 sibling format: a JSON-lines drop of the same vendor rows must
    resolve/align identically to the CSV path (format equivalence), and a
    schema-violating line must surface, not silently widen types."""
    from minerva_etl_46_spark.sources.harvest import read_jsonl_harvest

    jl = os.path.join(str(tmp_path), "pm.jsonl")
    with open(jl, "w") as f:
        f.write('{"dn": "Network=NL,Cell=1", "ts": "2024-01-01 00:05:00", "counter_a": 10.5}\n')
        f.write('{"dn": "Network=NL,Cell=2", "ts": "2024-01-01 00:20:00", "counter_a": 11.5}\n')
    pkg = read_jsonl_harvest(
        spark, jl, schema="dn string, ts timestamp, counter_a double"
    )
    entities = spark.createDataFrame(
        [(100, "Network=NL,Cell=1")], schema="entity_id long, name string"
    )
    resolved, new_ents = resolve_entities(pkg, entities)
    rows = {r["dn"]: r["entity_id"] for r in resolved.collect()}
    assert rows["Network=NL,Cell=1"] == 100
    assert new_ents.count() == 1
    aligned = align_package(resolved, "ts", G_1H)
    assert {str(r["ts"]) for r in aligned.collect()} == {"2024-01-01 01:00:00"}

    # corrupt line parks in _corrupt_record when the schema declares it
    with open(jl, "a") as f:
        f.write('{"dn": 12, "ts": "not-a-ts", "counter_a": "x"\n')  # broken json
    # Spark requires caching the parsed frame before querying only the
    # corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    bad = read_jsonl_harvest(
        spark, jl,
        schema="dn string, ts timestamp, counter_a double, _corrupt_record string",
    ).cache()
    try:
        assert bad.filter(bad["_corrupt_record"].isNotNull()).count() == 1
    finally:
        bad.unpersist()
