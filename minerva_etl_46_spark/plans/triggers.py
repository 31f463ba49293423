"""Trigger/notification engine (SURVEY.md §3.3, §1 D10;
[ref: crates/minerva/src/trigger.rs + trigger schema — UNVERIFIED [M/H]]).

Rules are data (catalog.TriggerRule): a boolean KPI predicate, a weight
expression, and the columns packed into the notification's JSON details.
Evaluation is a pure DataFrame pipeline — filter(any rule) → one
conditional rule array → explode — so Catalyst fuses every rule into the
one KPI scan (predicate pushdown into the rollup when possible).
Notifications append to a notification store (D7), here a partitioned
dataset like any trend part.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minerva_etl_46_spark.catalog import TriggerRule


def _rule_payload(rule: TriggerRule):
    """The (rule, weight, details) columns ONE rule contributes."""
    details = F.to_json(F.struct(*[F.col(c) for c in rule.details_cols])) \
        if rule.details_cols else F.lit(None).cast("string")
    return (
        F.lit(rule.name).alias("rule"),
        F.expr(rule.weight_sql).cast("int").alias("weight"),
        details.alias("details"),
    )


def evaluate_rules(kpi_df: DataFrame, rules: list[TriggerRule],
                   entity_col: str = "entity_id", ts_col: str = "ts") -> DataFrame:
    """All rules in one pass → notification rows (entity_id, ts, rule,
    weight, details JSON), one per (KPI row, firing rule), rules in list
    order. A rule whose predicate is NULL does not fire.

    Each rule compiles to a conditional struct, the rules fold into one
    array, and the hits explode out of the filtered array — no union, so
    the KPI subtree is planned once. Over a streaming aggregate this is
    also the only shape every output mode supports: a union of filtered
    branches would plan one parallel streaming aggregation per rule.
    The OR of the predicates filters first, so a predicate over scan
    columns still reaches the parquet scan's PushedFilters.

    An empty rule list raises: the contract is a DataFrame, and an
    instance with zero triggers should not be evaluating at all."""
    if not rules:
        raise ValueError(
            "evaluate_rules needs at least one rule — an instance with no "
            "triggers has nothing to evaluate")
    preds = [F.expr(r.predicate_sql) for r in rules]
    arr = F.array(*[
        F.when(p, F.struct(*_rule_payload(r))) for p, r in zip(preds, rules)
    ])
    return kpi_df.filter(reduce(lambda a, b: a | b, preds)).select(
        F.col(entity_col).alias("entity_id"),
        F.col(ts_col).alias("ts"),
        F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("r"),
    ).select(
        "entity_id", "ts",
        F.col("r.rule").alias("rule"),
        F.col("r.weight").alias("weight"),
        F.col("r.details").alias("details"),
    )
