"""Trend-store storage: time-partitioned Parquet datasets (SURVEY.md §1 D3/
D4, §2.1 S4–S6).

The reference stores trend data in PostgreSQL tables partitioned by
timestamp range (`partition_size`), with retention dropping old partitions
[ref: trend_directory partitioning — UNVERIFIED [H]]. Here a trend store
part is a Parquet dataset partitioned by ``p_bucket`` (epoch-seconds of the
partition start):

- **writes** use dynamic partition overwrite: a batch only rewrites the
  partitions its rows touch — the upsert unit, and the reason the
  keep-latest window in operators/upsert.py stays bounded at 100 TB.
- **reads** prune partitions via p_bucket predicates (Catalyst partition
  pruning, no file listing outside the range).
- **retention** is a partition-directory drop, never a data rewrite.
- every write appends to a modified-log (S5) — the signal the
  materialization engine's fingerprints consume.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MODIFIED_LOG = "_modified_log"
#: per-part metadata written alongside the data (underscore-prefixed, so
#: Spark's parquet reader ignores it). The partition grid is a property
#: of the DATA, not of whoever constructs a storage handle: a server
#: configured with the wrong partition_size_s would silently prune away
#: existing partitions on range reads. Writers record the
#: grid here; readers open with ``TrendStorePartStorage.open`` to get it.
PART_META = "_part_meta.json"


def bucket_of(ts_col: str, partition_size_s: int):
    # route through TIMESTAMP first: NTZ-typed in-process frames can't cast
    # straight to long in Spark 4 (see functions/timestamps.ensure_timestamp)
    return (F.floor(F.col(ts_col).cast("timestamp").cast("long") / partition_size_s)
            * partition_size_s).cast("long")


@dataclass
class TrendStorePartStorage:
    """One trend-store part = one partitioned Parquet dataset."""

    base_dir: str
    name: str
    partition_size_s: int = 86400

    @property
    def path(self) -> str:
        return os.path.join(self.base_dir, self.name)

    @property
    def modified_log_path(self) -> str:
        return os.path.join(self.base_dir, MODIFIED_LOG, self.name)

    @property
    def meta_path(self) -> str:
        return os.path.join(self.path, PART_META)

    @classmethod
    def open(cls, base_dir: str, name: str,
             default_partition_size_s: int = 86400, **kw) -> TrendStorePartStorage:
        """Construct a handle whose partition grid comes from the part's
        OWN metadata when present (falling back to the default for parts
        written before metadata existed). Services must use this instead
        of guessing a size: read_window with a smaller-than-actual size
        computes a range floor ABOVE the real partition start and
        silently prunes away existing rows."""
        import json

        size = default_partition_size_s
        p = os.path.join(base_dir, name, PART_META)
        if os.path.exists(p):
            with open(p) as fh:
                size = int(json.load(fh)["partition_size_s"])
        return cls(base_dir, name, partition_size_s=size, **kw)

    def _ensure_meta(self) -> None:
        """Record the partition grid with the data (atomic replace); a
        writer configured with a DIFFERENT grid than the recorded one
        would interleave misaligned partitions — refuse loudly."""
        import json

        if os.path.exists(self.meta_path):
            with open(self.meta_path) as fh:
                recorded = int(json.load(fh)["partition_size_s"])
            if recorded != self.partition_size_s:
                raise ValueError(
                    f"part {self.name!r} was written with "
                    f"partition_size_s={recorded}; this handle says "
                    f"{self.partition_size_s} — mixed grids corrupt range "
                    "reads. Open the part with TrendStorePartStorage.open")
            return
        os.makedirs(self.path, exist_ok=True)
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"partition_size_s": self.partition_size_s}, fh)
        os.replace(tmp, self.meta_path)

    def write(self, df: DataFrame, ts_col: str = "ts", job_id: int | None = None) -> list[int]:
        """Dynamic-partition-overwrite write; returns touched p_buckets and
        appends them to the modified log."""
        spark = df.sparkSession
        self._ensure_meta()
        out = df.withColumn("p_bucket", bucket_of(ts_col, self.partition_size_s))
        # bounded-by: distinct partition buckets of ONE batch (≤ batch span / partition_size)
        # (column-pruned pass: only p_bucket's source column is read)
        touched = [r[0] for r in out.select("p_bucket").distinct().collect()]
        if any(b is None for b in touched):
            # a NULL timestamp has no partition: letting it through writes
            # a __HIVE_DEFAULT_PARTITION__ directory the time-grid
            # bookkeeping (modified log, retention, compaction) cannot
            # attribute, and _log_modified would crash AFTER the data
            # landed. Reject BEFORE anything is written.
            raise ValueError(
                f"part {self.name!r}: {ts_col} contains NULLs — rows "
                "without a timestamp have no partition; filter or repair "
                "them upstream (write rejected before any data landed)")
        _overwrite_partitions(out, self.path, len(touched))
        self._log_modified(spark, touched, job_id)
        return sorted(touched)

    def _log_modified(self, spark: SparkSession, buckets: list[int], job_id: int | None) -> None:
        # Driver-side bookkeeping append (bounded by touched buckets —
        # already a driver-side list); see sources/paio.py for why this
        # bypasses spark.createDataFrame. Schema matches the Spark
        # reader exactly (string/int64/double/nullable-int64).
        import pyarrow as pa

        from minerva_etl_46_spark.sources.paio import append_table

        now = time.time()
        append_table(self.modified_log_path, pa.table({
            "part": pa.array([self.name] * len(buckets), pa.string()),
            "p_bucket": pa.array([int(b) for b in buckets], pa.int64()),
            "modified_at": pa.array([now] * len(buckets), pa.float64()),
            "job_id": pa.array([job_id] * len(buckets), pa.int64()),
        }))

    def upsert(self, staged: DataFrame, keys: list[str], version_cols: list[str],
               ts_col: str = "ts", job_id: int | None = None) -> list[int]:
        """S4: transfer_staged semantics — merge staged rows into the
        partitions they touch, last-write-wins per key.

        Reads ONLY the touched partitions (partition-pruned), merges via
        the keep-latest window, localCheckpoints to cut lineage (Spark
        cannot overwrite a path it is still reading), then dynamic-
        overwrites those partitions. Work ∝ staged data + touched
        partitions, independent of total store size."""
        from minerva_etl_46_spark.operators.upsert import upsert_latest

        spark = staged.sparkSession
        touched = [
            r[0] for r in staged.select(
                bucket_of(ts_col, self.partition_size_s).alias("b")
            ).distinct().collect()  # bounded-by: staged batch's touched buckets
        ]
        existing = None
        if os.path.isdir(self.path) and any(
            e.startswith("p_bucket=") for e in os.listdir(self.path)
        ):
            existing = (
                self.read(spark)
                .filter(F.col("p_bucket").isin(touched))
                .drop("p_bucket")
            )
        merged = upsert_latest(existing, staged, keys=keys, version_cols=version_cols)
        merged = merged.localCheckpoint(eager=True)
        return self.write(merged, ts_col=ts_col, job_id=job_id)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def read_window(self, spark: SparkSession, start_epoch: int, end_epoch: int) -> DataFrame:
        """Partition-pruned range read: the p_bucket predicate prunes whole
        directories before any file IO (verify via explain: PartitionFilters)."""
        lo = (start_epoch // self.partition_size_s) * self.partition_size_s
        return self.read(spark).filter(
            (F.col("p_bucket") >= lo) & (F.col("p_bucket") < end_epoch)
        )

    def modified_log(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self.modified_log_path):
            return None
        return spark.read.parquet(self.modified_log_path)

    def apply_retention(self, retain_after_epoch: int) -> list[int]:
        """S6: drop whole partition directories older than the cutoff."""
        dropped = []
        if not os.path.isdir(self.path):
            return dropped
        cutoff = (retain_after_epoch // self.partition_size_s) * self.partition_size_s
        for b, entry in _int_bucket_dirs(self.path):
            if b < cutoff:
                shutil.rmtree(os.path.join(self.path, entry))
                dropped.append(b)
        return sorted(dropped)


def _int_bucket_dirs(path: str):
    """(bucket, dirname) pairs for the integer-keyed partition dirs.
    Non-integer partition values (__HIVE_DEFAULT_PARTITION__ from a
    foreign writer without the null guard, or hand-made debris) are
    SKIPPED: retention and compaction must never delete or rewrite what
    they can't place on the time grid — int() crashing mid-scan would
    permanently wedge both for the whole part."""
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("p_bucket="):
            continue
        try:
            yield int(entry.split("=", 1)[1]), entry
        except ValueError:
            continue


def _overwrite_partitions(df: DataFrame, path: str, n_buckets: int) -> None:
    """The one partition-overwrite tail: rewrite exactly the p_bucket
    partitions present in ``df``, one task and one file per bucket.

    Co-locating each bucket's rows before partitionBy matters: without
    it every input task opens a writer per bucket it sees — T input
    tasks × B buckets small files, and a single-file source writes ALL
    buckets serially in one task. The explicit partition count (known
    driver-side) keeps AQE from coalescing a tiny batch back to 1-2
    tasks, which would serialize one directory write per bucket."""
    # per-write option, not session conf: mutating the session would
    # silently flip every later overwrite on this session to dynamic
    (df.repartition(max(1, n_buckets), "p_bucket")
       .write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("p_bucket").parquet(path))


def compact_partitions(storage: TrendStorePartStorage, spark: SparkSession) -> int:
    """Small-file compaction (operational need S6-adjacent): append-mode
    writers leave a partition with one file per write; at fleet scale
    that degrades scan planning and NameNode/listing cost.

    ONE job for the whole store, not one sequential job per partition
    (a day-partitioned year would be 365 serial rewrites): list the
    directories holding more than one file driver-side (bounded by
    partition count), partition-prune a single read to exactly those
    buckets and rewrite them through the same overwrite tail as
    ``write``. Untouched partitions are never read or rewritten; lineage
    is cut before the overwrite (Spark cannot overwrite a path it is
    still reading). Returns partitions compacted."""
    if not os.path.isdir(storage.path):
        return 0
    need: list[int] = []
    for b, entry in _int_bucket_dirs(storage.path):
        pdir = os.path.join(storage.path, entry)
        if sum(f.endswith(".parquet") for f in os.listdir(pdir)) > 1:
            need.append(b)
    if not need:
        return 0
    df = storage.read(spark).filter(
        F.col("p_bucket").isin(need))  # partition-pruned read
    _overwrite_partitions(df.localCheckpoint(eager=True), storage.path,
                          len(need))
    return len(need)
