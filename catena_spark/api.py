"""User-facing facade mirroring catena's client API (SURVEY.md §1.1,
§3.1), so a reference user can switch 1:1:

| catena (Go)                          | here                              |
|--------------------------------------|-----------------------------------|
| ``NewDB(dir, partitionSize, maxPartitions)`` | ``CatenaDB.create(...)``  |
| ``OpenDB(dir)`` (WAL replay)         | ``CatenaDB.open(...)`` (files ARE the recovered state) |
| ``db.InsertRows([]Row)``             | ``db.insert_rows(df)``            |
| late write into rotated window ⇒ error | same: rejected + counted        |
| ``db.NewIterator(src, m)``           | ``db.iterator(src, m)``           |
| ``it.Seek(ts)`` / ``it.Next()``      | ``it.seek(ts)`` / the DataFrame   |
| retention beyond maxPartitions       | ``db.enforce_retention()``        |
| compaction                           | ``db.compact()``                  |

Design stance (SURVEY.md §3.2): the *DataFrame is the iterator*. catena's
``Next()`` walks one point at a time because its storage is a local mmap;
at 100 TB a per-point cursor is the wrong contract, so ``iterator()``
returns the time-ordered DataFrame of the series and ``seek`` is a filter,
not a stateful cursor. Durability maps WAL→parquet commit: a batch is
durable when its files land (object-store rename), replay-on-open is
free because the files are the state.

What plays catena's extent index is pruning on the ``dt`` partition
column: ``seek(ts)`` adds ``dt >= <UTC day of ts>``, so a seek and any
range scan built on it list and open only the days from ``ts`` onward,
and ``latest()`` aggregates the newest day first. The series equality
filters push to the Parquet reader, but they skip no row group today: a
compacted day is one row group (~12k rows at the benchmark's scale)
whose ``(source, metric)`` min/max span every series. Pruning is sound
because ``dt`` is monotone in ``ts``: both the writer and the seek bound
take the day in UTC (a ``CatenaDB`` pins the session zone to UTC, and
the bound is computed from the instant, whatever the reader's zone).

Value parity with catena's model: points are ``(source str, metric str,
ts timestamp, value float64)`` — the exact Row shape [R point.go — H,
SURVEY.md §1.1].
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_runtime_conf
from .sources import ingest

#: canonical point-row schema (catena Row).
ROW_DDL = "source string, metric string, ts timestamp, value double"
POINT_COLS = ("source", "metric", "ts", "value")


@dataclass
class InsertResult:
    """InsertRows outcome: catena errors the whole batch on a late
    window; here late rows are split out and counted so the caller can
    dead-letter them (the streaming watermark does the same, F1).
    ``rejected_invalid`` counts NULL-ts rows (r5, self-review): they
    have no window, so they are neither writable nor late — previously
    they could vanish uncounted or create a junk
    __HIVE_DEFAULT_PARTITION__ directory that corrupted the rotation
    horizon."""

    inserted: int
    rejected_late: int
    rejected_invalid: int = 0


class SeriesIterator:
    """catena ``Iterator`` equivalent over one (source, metric) series.

    ``df`` is the time-ordered points DataFrame; ``seek``/``after``
    return new (immutable) iterators — cursors are state, filters are
    plans, and only plans distribute. The wrapped frame may also carry
    the ``dt`` partition column, which ``seek`` bounds; ``df`` hides it.
    """

    def __init__(self, df: DataFrame):
        self._df = df

    @property
    def df(self) -> DataFrame:
        return self._df.select(*POINT_COLS)

    def seek(self, ts) -> "SeriesIterator":
        """Position at the first point with ``ts >= given`` (catena
        ``Seek``): a pushdown filter, not a scan-and-skip. On a
        dt-partitioned store the same bound prunes the days before
        ``ts``'s."""
        cond = F.col("ts") >= ts
        if "dt" in self._df.columns:
            cond = cond & (F.col("dt") >= _utc_day(ts))
        return SeriesIterator(self._df.where(cond))

    def first(self):
        """The point under the cursor (catena ``Point()`` after Seek)."""
        rows = self.df.orderBy("ts", "value").limit(1).collect()
        return rows[0] if rows else None

    def points(self) -> DataFrame:
        """All remaining points, time-ordered."""
        return self.df.orderBy("ts", "value")


def _utc_day(ts) -> Column:
    """The ``dt`` value (``yyyy-MM-dd``) of instant ``ts`` in UTC, whatever
    the session zone: day arithmetic on epoch seconds, constant-folded
    when ``ts`` is a literal, so it reaches the scan as a partition
    filter."""
    t = ts if isinstance(ts, Column) else F.lit(ts)
    days = F.floor(F.unix_seconds(t.cast("timestamp")) / 86400).cast("int")
    return F.date_from_unix_date(days).cast("string")


def _newest_point(df: DataFrame):
    """``Row(ts, value)`` of the newest point in ``df`` via max_by —
    partial-aggregate, no global sort; None when ``df`` is empty."""
    pt = F.struct("ts", "value")
    return df.agg(F.max_by(pt, pt).alias("p")).collect()[0]["p"]


class CatenaDB:
    """A catena DB over dt-partitioned parquet (SURVEY.md §1.2 mapping:
    partition dir = catena partition, files sorted by (source, metric,
    ts) = extents, ``dt`` partition pruning = extent index; see the
    module docstring for what prunes).

    Building or opening one pins the session to the package's runtime
    conf (``ensure_runtime_conf``), UTC zone included: ``dt`` is the UTC
    day of ``ts`` on every write, which keeps the seek bound sound."""

    def __init__(self, spark: SparkSession, base_dir: str, writable_partitions: int = 2):
        if writable_partitions < 1:
            # parts[-0] would silently mean parts[0] and accept
            # EVERYTHING — the inverse of "zero writable windows"
            raise ValueError("writable_partitions must be >= 1")
        self.spark = ensure_runtime_conf(spark)
        self.base_dir = str(base_dir)
        #: newest-N dt windows accept writes (catena: memory partitions);
        #: older windows are rotated out and reject inserts.
        self.writable_partitions = writable_partitions

    # ------------------------------------------------------------ lifecycle

    @classmethod
    def create(
        cls, spark: SparkSession, base_dir: str, writable_partitions: int = 2
    ) -> "CatenaDB":
        """``NewDB``: initialize an empty base dir."""
        Path(base_dir).mkdir(parents=True, exist_ok=True)
        return cls(spark, base_dir, writable_partitions)

    @classmethod
    def open(
        cls, spark: SparkSession, base_dir: str, writable_partitions: int = 2
    ) -> "CatenaDB":
        """``OpenDB``: recovery is free — committed parquet files ARE the
        state (no WAL replay step; the streaming checkpoint plays WAL
        for the ingest path, tests/test_streaming.py)."""
        if not Path(base_dir).exists():
            raise FileNotFoundError(base_dir)
        return cls(spark, base_dir, writable_partitions)

    # ------------------------------------------------------------ write path

    _DT_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")

    def _partitions(self) -> list[str]:
        """Sorted dt partition names (catena: partition list). Only
        date-shaped names count — a stray directory (e.g. Hive's NULL
        partition __HIVE_DEFAULT_PARTITION__, which sorts after every
        date) must not shift the rotation horizon (r5, self-review)."""
        root = Path(self.base_dir)
        return sorted(
            name
            for p in root.glob("dt=*")
            if p.is_dir() and self._DT_RE.match(name := p.name.split("=", 1)[1])
        )

    def insert_rows(self, rows: DataFrame) -> InsertResult:
        """``InsertRows``: route rows to dt windows; windows older than
        the writable set reject their rows (late-data policy, §2-F1).
        New windows are created on first insert, as in catena — but only
        while the window count is below the writable capacity: at
        capacity, a row older than every existing window would create a
        born-rotated window, so it is late (>=, not >, r5 fix — the old
        check accepted it and the re-insert was then rejected,
        non-idempotent). NULL-ts rows have no window: counted as
        rejected_invalid, never written. The batch is persisted once so
        the three counts and the write see one materialization."""
        parts = self._partitions()
        df = ingest.with_dt(rows.select("source", "metric", "ts", "value")).persist()
        try:
            n_invalid = df.where(F.col("dt").isNull()).count()
            valid = df.where(F.col("dt").isNotNull())
            if len(parts) >= self.writable_partitions:
                horizon = parts[-self.writable_partitions]
                ok = valid.where(F.col("dt") >= horizon)
                n_late = valid.where(F.col("dt") < horizon).count()
            else:
                ok, n_late = valid, 0
            n_ok = ok.count()
            if n_ok:
                (
                    ok.repartition("dt")
                    .sortWithinPartitions("source", "metric", "ts")
                    .write.mode("append")
                    .partitionBy("dt")
                    .parquet(self.base_dir)
                )
        finally:
            df.unpersist()
        return InsertResult(
            inserted=n_ok, rejected_late=n_late, rejected_invalid=n_invalid
        )

    # ------------------------------------------------------------ read path

    def _all(self) -> DataFrame:
        # explicit schema makes reads total on a freshly created (empty)
        # DB — schema inference over zero files raises (r5, self-review)
        return self.spark.read.schema(ROW_DDL + ", dt string").parquet(
            self.base_dir
        )

    def iterator(self, source: str, metric: str) -> SeriesIterator:
        """``NewIterator``: equality filters push to the scan; the
        iterator keeps ``dt`` so ``seek`` prunes whole days."""
        return SeriesIterator(
            self._all().where((F.col("source") == source) & (F.col("metric") == metric))
        )

    def list_series(self) -> DataFrame:
        """Series enumeration (B4)."""
        return self._all().select("source", "metric").distinct()

    def latest(self, source: str, metric: str):
        """Newest point of a series (B3) as ``Row(ts, value)``, or None.
        Reads the newest day first — dt is monotone in ts, so a point
        there is the newest of all; only a series absent from that day
        costs a second, whole-series scan."""
        series = self.iterator(source, metric)._df
        parts = self._partitions()
        if parts:
            p = _newest_point(series.where(F.col("dt") == parts[-1]))
            if p is not None:
                return p
        return _newest_point(series)

    # ------------------------------------------------------------ maintenance

    def compact(self, files_per_partition: int = 1) -> None:
        """A5 compaction (sorted large files per window)."""
        ingest.compact(self.spark, self.base_dir, files_per_partition)

    def enforce_retention(self, max_partitions: int) -> list[str]:
        """A4 retention: drop oldest windows beyond ``max_partitions``."""
        return ingest.retain_latest(self.base_dir, max_partitions)
