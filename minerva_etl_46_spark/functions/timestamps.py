"""Granularity model + timestamp alignment (SURVEY.md §1.2, §2.8 F2/F3).

Minerva trend timestamps sit on a granularity grid; a row's timestamp is the
END of its period, and day/week/month granularities align in the instance's
local timezone rather than UTC
[ref: trend_directory timestamp functions — UNVERIFIED [H], SURVEY.md §1.2].

Spark mapping: second-based granularities align by integer epoch arithmetic
(whole-stage codegen, no shuffle); calendar granularities (day/week/month)
go through from_utc_timestamp → date_trunc → to_utc_timestamp so DST is
honored for instances configured with a local timezone.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Granularity:
    """A trend-store granularity: either a fixed number of seconds or a
    calendar unit (day/week/month) that needs tz-aware alignment."""

    name: str
    seconds: int | None = None  # None → calendar unit
    unit: str | None = None     # 'day' | 'week' | 'month'

    @property
    def is_calendar(self) -> bool:
        return self.seconds is None

    def interval_sql(self) -> str:
        if self.is_calendar:
            return f"INTERVAL 1 {self.unit}"
        return f"INTERVAL {self.seconds} SECOND"


G_15M = Granularity("15m", seconds=900)
G_30M = Granularity("30m", seconds=1800)
G_1H = Granularity("1h", seconds=3600)
G_1D = Granularity("1d", unit="day")
G_1W = Granularity("1w", unit="week")
G_1MONTH = Granularity("1month", unit="month")

GRANULARITIES = {g.name: g for g in (G_15M, G_30M, G_1H, G_1D, G_1W, G_1MONTH)}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def ensure_timestamp(c: Column | str) -> Column:
    """Coerce a timestamp-like column to plain TIMESTAMP (LTZ).

    TIMESTAMP_NTZ → TIMESTAMP is legal and an identity under the pinned UTC
    session timezone (session.RUNTIME_CONFS); TIMESTAMP → TIMESTAMP is a
    no-op Catalyst folds away. Spark 4 refuses NTZ→numeric casts outright,
    so every epoch-arithmetic helper routes through this first.
    """
    return _col(c).cast("timestamp")


def epoch_seconds(c: Column | str) -> Column:
    """Epoch seconds (floored) of a timestamp-like column, NTZ-proof."""
    return ensure_timestamp(c).cast("long")


def normalize_ts_columns(df, cols, table: str = "<frame>"):
    """Normalize timestamp-like columns to TIMESTAMP (LTZ) at a frame
    entry boundary — parquet load, stream source, staged upsert input.

    The fixture shape has changed across regenerations (``events.ts``:
    ns-long → ns-timestamp → µs TIMESTAMP_NTZ), so every shape seen so far
    is handled; anything else fails fast with the observed dtype instead of
    surfacing nine scattered DATATYPE_MISMATCH analysis errors downstream.

    - ``bigint``: ns-since-epoch under the nanosAsLong legacy read → µs
      timestamp (floor), matching DuckDB's CAST(ts_ns AS TIMESTAMP).
      Guarded by an executor-side magnitude check: ns longs for any
      plausible instant (1995–2100) sit in [7.9e17, 4.1e18]; epoch µs
      (~1.7e15 for 2024), ms (~1.7e12) or s (~1.7e9) longs all fall far
      below, so a fixture regeneration that silently switches scale —
      the shape has already changed three times — fails loudly with the
      observed value instead of misreading every timestamp by 10³–10⁹.
      assert_true returns NULL when the predicate holds, so
      the filter is a plan-visible no-op: no extra Spark job at load,
      zero cost until a row actually violates it.
    - ``timestamp_ntz``: cast to LTZ (identity under UTC session tz).
    - ``timestamp``: already canonical.
    """
    ns_lo = 788_918_400_000_000_000      # 1995-01-01T00:00Z as ns-since-epoch
    ns_hi = 4_102_444_800_000_000_000    # 2100-01-01T00:00Z as ns-since-epoch
    dtypes = dict(df.dtypes)
    for name in cols:
        dt = dtypes.get(name)
        if dt is None:
            raise TypeError(
                f"{table}: expected timestamp column {name!r} is missing "
                f"(present: {sorted(dtypes)}) — fixture schema changed?"
            )
        if dt == "bigint":
            df = df.filter(
                F.assert_true(
                    F.col(name).isNull()
                    | F.col(name).between(ns_lo, ns_hi),
                    F.concat(
                        F.lit(f"{table}.{name}: bigint value "),
                        F.col(name).cast("string"),
                        F.lit(
                            " is not plausible ns-since-epoch (1995-2100)"
                            " - epoch us/ms/s scale instead? extend"
                            " normalize_ts_columns (functions/timestamps.py)"
                        ),
                    ),
                ).isNull()
            )
            df = df.withColumn(name, F.expr(f"timestamp_micros({name} div 1000)"))
        elif dt == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
        elif dt != "timestamp":
            raise TypeError(
                f"{table}.{name}: unhandled timestamp dtype {dt!r} — the "
                "test fixtures were regenerated with a new shape; extend "
                "normalize_ts_columns (functions/timestamps.py)."
            )
    return df


def align_floor(ts: Column | str, g: Granularity, tz: str = "UTC") -> Column:
    """Floor a timestamp to the start of its granularity period.

    Second-based: pure integer epoch arithmetic (stays in codegen).
    Calendar: date_trunc in the instance-local timezone (SURVEY §1.2).
    """
    c = ensure_timestamp(ts)
    if not g.is_calendar:
        secs = g.seconds
        return F.timestamp_seconds(F.floor(c.cast("long") / secs) * secs)
    local = F.from_utc_timestamp(c, tz) if tz != "UTC" else c
    trunc = F.date_trunc(g.unit, local)
    return F.to_utc_timestamp(trunc, tz) if tz != "UTC" else trunc


def align_end(ts: Column | str, g: Granularity, tz: str = "UTC") -> Column:
    """Minerva-convention period timestamp: the END of the period the raw
    timestamp falls in (start-exclusive, end-inclusive grid).

    A timestamp exactly ON the grid closes its own period: the 3GPP XML
    harvest emits granPeriod endTime values that are always exact period
    ends, and those must map to themselves, not one period later.

    Second-based: ceil(epoch/g)*g. Calendar: add the interval IN LOCAL
    TIME, and only when the local timestamp is not already on the unit
    boundary — "+1 month" from a local month start must land on the next
    local month start (e.g. Feb 29 23:00 UTC + 1 month in UTC would yield
    Mar 29 23:00 — a non-boundary — instead of Mar 31 22:00, the local
    Apr 1 midnight after a DST shift)."""
    c = ensure_timestamp(ts)
    if not g.is_calendar:
        # ceil on the MICROSECOND grid, exact integer arithmetic: flooring
        # to whole seconds first would label a ts just past a grid point
        # (10:00:00.5) as CLOSING at 10:00 — into the previous period,
        # violating the (start, end] contract. This is the one period-END
        # rule: harvest alignment and rollup labels both come from here.
        # pmod form = G·ceil(us/G) for all signs.
        us = F.unix_micros(c)
        G = g.seconds * 1_000_000
        end_us = (us + F.lit(G - 1)) - F.pmod(us + F.lit(G - 1), F.lit(G))
        return F.timestamp_micros(end_us)
    local = F.from_utc_timestamp(c, tz) if tz != "UTC" else c
    trunc = F.date_trunc(g.unit, local)
    local_end = F.when(local == trunc, local).otherwise(
        trunc + F.expr(g.interval_sql())
    )
    return F.to_utc_timestamp(local_end, tz) if tz != "UTC" else local_end


def bucket_epoch_end(ts: Column | str, g: Granularity) -> Column:
    """Period-END bucket key as epoch seconds BIGINT (Minerva convention,
    (start, end]): align_end's grid point, so harvest alignment and
    rollup labels cannot drift apart. bucket_epoch (floor) is the
    [start, end) analytics flavor."""
    return align_end(ts, g).cast("long")


def bucket_epoch(ts: Column | str, g: Granularity) -> Column:
    """Period start as epoch seconds BIGINT — the hash-stable bucket key used
    in oracle-checked outputs (FIXTURES.md oracle-parity notes: avoid raw
    temporal outputs where ns/µs precision could diverge).

    Oracle SQL equivalent (second-based g):
      CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / g) * g AS BIGINT)
    """
    if g.is_calendar:
        return align_floor(ts, g).cast("long")
    return (F.floor(epoch_seconds(ts) / g.seconds) * g.seconds).cast("long")


def sql_bucket_epoch(ts_expr: str, g: Granularity) -> str:
    """DuckDB-side mirror of bucket_epoch (second-based granularities)."""
    if g.is_calendar:
        return f"cast(epoch(date_trunc('{g.unit}', {ts_expr})) as bigint)"
    s = g.seconds
    return f"cast(floor(epoch({ts_expr}) / {s}) * {s} as bigint)"
