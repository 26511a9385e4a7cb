"""CatenaDB facade contract tests (SURVEY.md §1.1/§3.1 parity): the
reference's user-visible behaviors — insert routing, late-window
rejection, iterator seek, recovery-by-open, retention, compaction
invariance — exercised end-to-end on the Spark implementation."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from catena_spark.api import CatenaDB, SeriesIterator


def _rows(spark, day_offsets):
    base = datetime.datetime(2026, 1, 10, 12, 0, 0)
    data = [
        (
            "cpu0",
            "util",
            base + datetime.timedelta(days=d, minutes=i),
            float(10 * d + i),
        )
        for d in day_offsets
        for i in range(3)
    ]
    return spark.createDataFrame(
        data, "source string, metric string, ts timestamp, value double"
    )


@pytest.fixture()
def db(spark, tmp_path):
    return CatenaDB.create(spark, str(tmp_path / "db"), writable_partitions=2)


def test_insert_creates_partitions_and_roundtrips(spark, db):
    res = db.insert_rows(_rows(spark, [0, 1]))
    assert res.inserted == 6 and res.rejected_late == 0
    assert db._partitions() == ["2026-01-10", "2026-01-11"]
    pts = db.iterator("cpu0", "util").points().collect()
    assert [p["value"] for p in pts] == [0.0, 1.0, 2.0, 10.0, 11.0, 12.0]


def test_late_window_writes_rejected(spark, db):
    db.insert_rows(_rows(spark, [0, 1, 2]))  # windows 10..12; writable: 11,12
    res = db.insert_rows(_rows(spark, [0]))  # day 10 is rotated out
    assert res.inserted == 0 and res.rejected_late == 3
    res2 = db.insert_rows(_rows(spark, [2]))  # newest window still writable
    assert res2.inserted == 3 and res2.rejected_late == 0


def test_iterator_seek_first(spark, db):
    db.insert_rows(_rows(spark, [0]))
    it = db.iterator("cpu0", "util")
    assert isinstance(it.seek(datetime.datetime(2026, 1, 10, 12, 1)), SeriesIterator)
    first = it.seek(datetime.datetime(2026, 1, 10, 12, 1)).first()
    assert first["value"] == 1.0
    assert it.seek(datetime.datetime(2027, 1, 1)).first() is None


def test_latest_and_list_series(spark, db):
    db.insert_rows(_rows(spark, [0, 1]))
    assert db.latest("cpu0", "util")["value"] == 12.0
    assert db.list_series().collect()[0]["source"] == "cpu0"


def test_open_recovers_state(spark, db):
    db.insert_rows(_rows(spark, [0]))
    db2 = CatenaDB.open(spark, db.base_dir)
    assert db2.iterator("cpu0", "util").points().count() == 3
    with pytest.raises(FileNotFoundError):
        CatenaDB.open(spark, db.base_dir + "-missing")


def test_retention_drops_oldest(spark, db):
    db.insert_rows(_rows(spark, [0, 1, 2]))
    dropped = db.enforce_retention(max_partitions=2)
    assert dropped == ["dt=2026-01-10"]
    assert db._partitions() == ["2026-01-11", "2026-01-12"]
    # queries never see dropped data
    assert db.iterator("cpu0", "util").points().count() == 6


def test_compaction_preserves_results(spark, db):
    db.insert_rows(_rows(spark, [0]))
    db.insert_rows(_rows(spark, [1]))  # second append: extra files per window
    before = sorted(
        (r["ts"], r["value"])
        for r in db.iterator("cpu0", "util").points().collect()
    )
    db.compact()
    after = sorted(
        (r["ts"], r["value"])
        for r in db.iterator("cpu0", "util").points().collect()
    )
    assert before == after


def test_empty_db_reads_are_total(spark, tmp_path):
    """r5 self-review: reads on a freshly created DB must return empty
    results, not raise UNABLE_TO_INFER_SCHEMA."""
    db = CatenaDB.create(spark, str(tmp_path / "fresh"))
    assert db.list_series().count() == 0
    assert db.iterator("cpu0", "util").points().count() == 0
    assert db.iterator("cpu0", "util").first() is None


def test_null_ts_rows_counted_invalid_not_written(spark, db):
    """r5 self-review: NULL-ts rows have no window — they must be
    counted (rejected_invalid), never written, and never create a
    __HIVE_DEFAULT_PARTITION__ dir that shifts the rotation horizon."""
    good = _rows(spark, [0])
    bad = spark.createDataFrame(
        [("cpu0", "util", None, 1.0)],
        "source string, metric string, ts timestamp, value double",
    )
    res = db.insert_rows(good.unionAll(bad))
    assert res.inserted == 3 and res.rejected_late == 0
    assert res.rejected_invalid == 1
    assert db._partitions() == ["2026-01-10"]
    assert db.iterator("cpu0", "util").points().count() == 3


def test_junk_partition_dir_ignored(spark, db):
    """A non-date dt directory (e.g. Hive's NULL partition) sorts after
    every date string and previously shifted the horizon."""
    import pathlib

    db.insert_rows(_rows(spark, [0, 1]))
    (pathlib.Path(db.base_dir) / "dt=__HIVE_DEFAULT_PARTITION__").mkdir()
    assert db._partitions() == ["2026-01-10", "2026-01-11"]
    # day-11 inserts still writable (horizon not shifted by the junk dir)
    res = db.insert_rows(_rows(spark, [1]))
    assert res.inserted == 3 and res.rejected_late == 0


def test_at_capacity_older_than_all_is_late_and_idempotent(spark, db):
    """r5 self-review (>= fix): with exactly writable_partitions
    windows, a row older than ALL of them must be rejected — the old >
    check accepted it into a born-rotated window once, then rejected
    the identical re-insert (non-idempotent policy)."""
    db.insert_rows(_rows(spark, [1, 2]))  # exactly 2 windows, writable=2
    res1 = db.insert_rows(_rows(spark, [0]))
    res2 = db.insert_rows(_rows(spark, [0]))
    assert (res1.inserted, res1.rejected_late) == (0, 3)
    assert (res2.inserted, res2.rejected_late) == (0, 3)


def test_zero_writable_partitions_rejected():
    with pytest.raises(ValueError, match="writable_partitions"):
        CatenaDB(None, "/tmp/x", writable_partitions=0)


def test_env_int_tolerates_empty_and_names_bad_values(monkeypatch):
    """ADVICE r10: integer env knobs must treat unset/empty/whitespace
    as the default and name the variable on garbage."""
    import pytest

    from catena_spark.session import env_int

    monkeypatch.delenv("CATENA_X_TEST", raising=False)
    assert env_int("CATENA_X_TEST", 42) == 42
    monkeypatch.setenv("CATENA_X_TEST", "")
    assert env_int("CATENA_X_TEST", 42) == 42
    monkeypatch.setenv("CATENA_X_TEST", "  ")
    assert env_int("CATENA_X_TEST", 42) == 42
    monkeypatch.setenv("CATENA_X_TEST", " 7 ")
    assert env_int("CATENA_X_TEST", 42) == 7
    monkeypatch.setenv("CATENA_X_TEST", "seven")
    with pytest.raises(ValueError, match="CATENA_X_TEST"):
        env_int("CATENA_X_TEST", 42)


# ------------------------------------------------------------ dt pruning

_DAYS = 6


def _day_edges(spark):
    """Series a/b at 00:00:00, 12:00 and 23:59:59.999999 of each day;
    b stops after day 2 (absent from the newest partitions)."""
    base = datetime.datetime(2026, 1, 10)
    edges = (
        datetime.timedelta(0),
        datetime.timedelta(hours=12),
        datetime.timedelta(days=1, microseconds=-1),
    )
    data = [
        (src, "util", base + datetime.timedelta(days=d) + e, float(100 * d + i))
        for src, n_days in (("a", _DAYS), ("b", 3))
        for d in range(n_days)
        for i, e in enumerate(edges)
    ]
    return spark.createDataFrame(
        data, "source string, metric string, ts timestamp, value double"
    )


@pytest.fixture()
def days_db(spark, tmp_path):
    db = CatenaDB.create(spark, str(tmp_path / "days"), writable_partitions=_DAYS)
    assert db.insert_rows(_day_edges(spark)).inserted == 3 * (_DAYS + 3)
    assert len(db._partitions()) == _DAYS
    return db


def _unpruned(db, source, ts):
    """Reference: the series filtered by ``ts >=`` alone, no dt bound."""
    return (
        db._all()
        .where((F.col("source") == source) & (F.col("metric") == "util"))
        .where(F.col("ts") >= ts)
        .select("source", "metric", "ts", "value")
    )


def _range_agg(df, hi):
    return (
        df.where(F.col("ts") < hi)
        .agg(F.count(F.lit(1)).alias("n"), F.min("value"), F.max("value"))
        .collect()[0]
    )


def _files_read(df) -> int:
    """Sum of the executed plan's file-scan "number of files read"
    metric (call after ``df`` was collected)."""

    def scans(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            yield from scans(p.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            yield from scans(p.plan())
            return
        if name == "FileSourceScanExec":
            yield p
        kids = p.children()
        for i in range(kids.length()):
            yield from scans(kids.apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    return sum(s.metrics().apply("numFiles").value() for s in scans(plan))


def _files_from(db, day: str) -> int:
    import pathlib

    return sum(
        len(list(p.glob("*.parquet")))
        for p in pathlib.Path(db.base_dir).glob("dt=*")
        if p.name.split("=", 1)[1] >= day
    )


def test_seek_and_range_scan_read_only_days_from_seek(spark, days_db):
    lo = datetime.datetime(2026, 1, 13, 12)
    it = days_db.iterator("a", "util").seek(lo)
    first = it.df.orderBy("ts", "value").limit(1)
    assert first.collect()[0]["ts"] == lo
    rng = it.df.where(F.col("ts") < datetime.datetime(2026, 1, 15)).agg(
        F.count(F.lit(1)).alias("n")
    )
    assert rng.collect()[0]["n"] == 5
    want = _files_from(days_db, "2026-01-13")
    assert 0 < want < _files_from(days_db, "2026-01-10")
    assert _files_read(first) == want
    assert _files_read(rng) == want


def test_latest_falls_back_when_series_missing_from_newest_day(spark, days_db):
    assert days_db.latest("a", "util") == (
        datetime.datetime(2026, 1, 15, 23, 59, 59, 999999), 502.0
    )
    # b has no point in dt=2026-01-15: the whole-series scan answers
    assert days_db.latest("b", "util") == (
        datetime.datetime(2026, 1, 12, 23, 59, 59, 999999), 202.0
    )
    assert days_db.latest("c", "util") is None


def test_latest_on_empty_db_is_none(spark, tmp_path):
    db = CatenaDB.create(spark, str(tmp_path / "empty"))
    assert db.latest("cpu0", "util") is None


def test_iterator_frames_expose_point_columns_only(spark, days_db):
    cols = ["source", "metric", "ts", "value"]
    it = days_db.iterator("a", "util")
    assert it.df.columns == cols
    assert it.seek(datetime.datetime(2026, 1, 12)).df.columns == cols
    assert it.seek(datetime.datetime(2026, 1, 12)).points().columns == cols
    assert list(it.first().asDict()) == cols


@pytest.mark.parametrize("zone", ["UTC", "+14:00", "-11:00"])
def test_pruned_reads_match_unpruned_in_any_zone(spark, days_db, zone):
    """Seeks at a day's first and last microsecond (as datetimes and as
    strings) give the unpruned answers; dt is the UTC day of ts (the
    writer's zone is pinned), and a reader session in any other zone
    must get the same answers."""
    key = "spark.sql.session.timeZone"
    seeks = [
        datetime.datetime(2026, 1, 12),
        datetime.datetime(2026, 1, 12, 12),
        datetime.datetime(2026, 1, 12, 23, 59, 59, 999999),
        "2026-01-12 00:00:00",
        "2026-01-13 23:59:59.999999",
    ]
    hi = datetime.datetime(2026, 1, 14, 12)
    try:
        spark.conf.set(key, zone)
        for src in ("a", "b"):
            for ts in seeks:
                it = days_db.iterator(src, "util").seek(ts)
                ref = _unpruned(days_db, src, ts)
                want = ref.orderBy("ts", "value").limit(1).collect()
                assert it.first() == (want[0] if want else None), (src, ts)
                assert _range_agg(it.df, hi) == _range_agg(ref, hi), (src, ts)
                assert sorted(it.points().collect()) == sorted(ref.collect())
            full = days_db.iterator(src, "util").df
            newest = full.orderBy(F.desc("ts"), F.desc("value")).first()
            assert days_db.latest(src, "util") == (newest["ts"], newest["value"])
        # opening the store in a foreign zone pins the writer zone to UTC
        CatenaDB.open(spark, days_db.base_dir)
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, "UTC")
