"""Time & entity rollups (SURVEY.md §2.4 A1–A7, §2.3 J2).

The reference generates SQL materializations that roll 15m→1h→1d trends
(per-column declared aggregation function) and cell→site entity rollups via
relation tables [ref: crates/minerva/src/aggregation.rs — UNVERIFIED [M]].

Spark-first design:
- ONE shuffle per rollup: groupBy(entity, bucket) → hash aggregate with
  map-side partial aggregation (free via Catalyst). No pre-repartition —
  the agg's own exchange is the only one.
- Entity rollup broadcasts the relation edge table (dims are ~1e3–1e6 rows
  even at 100 TB fact scale) so the join adds NO shuffle; the only exchange
  is the re-aggregation on (target_id, bucket).
- Per-column agg functions come from the catalog (Trend.time_aggregation /
  entity_aggregation), mirroring the reference's generated column lists.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from minerva_etl_46_spark.catalog import Trend
from minerva_etl_46_spark.functions.kpi import DEC
from minerva_etl_46_spark.functions.timestamps import (
    Granularity,
    align_end,
    align_floor,
)


def _agg_column(t: Trend, value_col: str, order_col: Column,
                kind: str = "time") -> Column:
    """Build the aggregate expression for one trend column.

    kind selects the declared function: 'time' (time_aggregation) or
    'entity' (entity_aggregation) — the two can differ per trend (e.g. a
    gauge averages over time but sums over entities).

    Double sums and averages go through the DECIMAL accumulator:
    order-insensitive across partitions, so a rollup reproduces
    bit-for-bit run to run and against the oracle (functions/kpi.py).

    first/last use min_by/max_by over a deterministic ordering struct —
    Spark's bare first()/last() are order-dependent and non-deterministic
    after a shuffle, which would be a latent 1000-executor bug.
    """
    fn = t.time_aggregation if kind == "time" else t.entity_aggregation
    c = F.col(value_col)
    if fn == "sum":
        return F.sum(c.cast(DEC)).cast("double")
    if fn == "avg":
        return F.sum(c.cast(DEC)).cast("double") / F.count(c)
    if fn == "min":
        return F.min(c)
    if fn == "max":
        return F.max(c)
    if fn == "count":
        return F.count(c)
    if fn == "first":
        return F.min_by(c, order_col)
    if fn == "last":
        return F.max_by(c, order_col)
    if fn == "samples_weighted_avg":
        if not t.samples_column:
            raise ValueError(f"trend {t.name}: samples_weighted_avg needs samples_column")
        w = F.col(t.samples_column)
        num = F.sum((c * w).cast(DEC)).cast("double")
        den = F.sum(w.cast(DEC)).cast("double")
        return F.when(den != 0, num / den)
    raise ValueError(f"unknown aggregation {fn!r} for trend {t.name}")


def time_rollup(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    granularity: Granularity,
    trends: Mapping[str, Trend],
    order_cols: tuple[str, ...] | None = None,
    bucket_col: str = "bucket",
    label: str = "start",
    tz: str = "UTC",
) -> DataFrame:
    """A1: roll raw rows up to (entity, granularity bucket).

    label selects the bucket convention:
      'start' — floor: bucket = period start, rows grouped [start, end)
                (the analytics flavor; hash-stable epoch key).
      'end'   — ceil: bucket = period END, rows grouped (start, end] —
                Minerva's trend-timestamp convention. REQUIRED when the
                input carries END-labeled grid timestamps, otherwise a
                boundary row (ts exactly on the coarser grid) is summed
                into one window but labeled into the next one's partition.
    tz: calendar granularities (day/week/month) align in this zone
    (Minerva instance-local alignment, SURVEY §1.2); ignored for
    second-based granularities, whose grids are tz-free.
    order_cols: deterministic ordering key for first/last trends
    (defaults to (ts_col,)).
    """
    order = F.struct(*[F.col(c) for c in (order_cols or (ts_col,))])
    aggs = [_agg_column(t, name, order).alias(name)
            for name, t in trends.items()]
    align = align_end if label == "end" else align_floor
    bucket = align(ts_col, granularity, tz).cast("long")
    return (
        df.groupBy(F.col(entity_col), bucket.alias(bucket_col))
        .agg(*aggs)
    )


def entity_rollup(
    df: DataFrame,
    relation: DataFrame,
    entity_col: str,
    bucket_col: str,
    trends: Mapping[str, Trend],
    source_col: str = "source_id",
    target_col: str = "target_id",
) -> DataFrame:
    """A2/J2: roll (entity, bucket) rows up the entity hierarchy.

    relation is the small edge table (cell→site); broadcast so the join is
    shuffle-free, then one exchange for the re-aggregation on target.
    """
    joined = df.join(
        F.broadcast(relation),
        df[entity_col] == relation[source_col],
        "inner",
    )
    # first/last ordering: the group keys are (target, bucket), so the
    # bucket alone is CONSTANT within every group — ordering by it would
    # make first/last entity aggregations depend on task order, the
    # hazard the module docstring promises to prevent. The
    # SOURCE entity id breaks the tie deterministically: within one
    # (target, bucket) group each row is a distinct source entity, so
    # (bucket, source) is a total order and first = smallest source id.
    order = F.struct(F.col(bucket_col), df[entity_col])
    aggs = [_agg_column(t, name, order, kind="entity").alias(name) for name, t in trends.items()]
    return (
        joined.groupBy(F.col(target_col).alias(entity_col), F.col(bucket_col))
        .agg(*aggs)
    )
