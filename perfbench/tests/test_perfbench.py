"""Tests of the benchmark's own code: seeded generators, the tail rule,
the late-window model against a real ``insert_rows`` run, and the result
schema against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# ------------------------------------------------------------------ generators


def test_ingest_batches_deterministic_per_seed():
    a = gen.ingest_batches([7, 0], 3, 500, 50)
    b = gen.ingest_batches([7, 0], 3, 500, 50)
    c = gen.ingest_batches([7, 1], 3, 500, 50)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not all(x.equals(y) for x, y in zip(a, c))
    keys = [k for pdf in a for k in gen.frame_keys(pdf)]
    assert any(k[2] is None for k in keys), "NULL-ts rows are part of the mix"


def test_read_store_and_lookups_deterministic_per_seed():
    p1, i1 = gen.read_store(3, 10, 4, 6)
    p2, i2 = gen.read_store(3, 10, 4, 6)
    assert p1.equals(p2) and i1.series == i2.series
    kinds = gen.lookup_kinds([3, 0], 40)
    assert kinds == gen.lookup_kinds([3, 0], 40) != gen.lookup_kinds([3, 1], 40)
    assert set(kinds) == set(gen.KIND_P)
    assert gen.lookups([3, 0], i1, kinds) == gen.lookups([3, 0], i2, kinds)
    assert gen.lookups([3, 0], i1, kinds) != gen.lookups([3, 1], i1, kinds)
    assert sorted(q[0] for q in gen.lookups([3, 0], i1, kinds)) == sorted(kinds)
    assert len(p1) == sum(len(ts) for ts, _ in i1.series.values())


def test_tables_and_landing_files_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        (tmp_path / d).mkdir()
        gen.write_tables(seed, str(tmp_path / d), 0.05)
        gen.land_events(seed, 2, 100, str(tmp_path / d / "land.parquet"))
    names = ("lineitem", "events", "documents", "land")
    read = lambda d, t: pq.read_table(tmp_path / d / f"{t}.parquet")  # noqa: E731
    assert all(read("a", t).equals(read("b", t)) for t in names)
    assert not read("a", "lineitem").equals(read("c", "lineitem"))
    ids = read("a", "land").column("event_id").to_pylist()
    assert ids == list(range(200, 300))


# ------------------------------------------------------------------ tail rule


@pytest.mark.parametrize(
    "n, pct",
    [(19, None), (20, 50), (30, 66), (100, 90), (1000, 99), (5000, 99)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    xs = [float(i) for i in range(n)]
    t = tracing.tail(xs)
    if pct is None:
        assert t is None
        return
    p, value, count = t
    assert (p, count) == (pct, n)
    assert sum(x > value for x in xs) >= 10
    if p < 99:
        nxt = xs[-(-(p + 1) * n // 100) - 1]
        assert sum(x > nxt for x in xs) < 10


# ------------------------------------------------------------------ late-window model


def test_model_windows_and_retention():
    day = gen.DAY_US
    m = gen.LateWindowModel(writable=2)
    assert m.insert([("s", "m", 0, 1), ("s", "m", day, 2)]) == (2, 0, 0)
    # windows {d0, d1}: a row before d0 is late, a NULL ts is invalid,
    # a new later window is accepted
    assert m.insert([("s", "m", -day, 3), ("s", "m", None, 4), ("s", "m", 3 * day, 5)]) == (1, 1, 1)
    assert m.windows() == ["1970-01-01", "1970-01-02", "1970-01-04"]
    assert m.retain(2) == ["dt=1970-01-01"]
    assert [r[3] for r in m.rows] == [2, 5]


@pytest.fixture(scope="module")
def spark():
    from catena_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def test_model_matches_real_insert_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from catena_spark.api import ROW_DDL, CatenaDB

    db = CatenaDB.create(spark, str(tmp_path / "db"), writable_partitions=2)
    model = gen.LateWindowModel(writable=2)
    totals = [0, 0, 0]
    for pdf in gen.ingest_batches([11, 0], 3, 300, 20):
        res = db.insert_rows(spark.createDataFrame(pdf, ROW_DDL))
        want = model.insert(gen.frame_keys(pdf))
        assert (res.inserted, res.rejected_late, res.rejected_invalid) == want
        totals = [a + b for a, b in zip(totals, want)]
    assert all(totals), "the run exercised accepted, late and invalid rows"
    assert sorted(db.enforce_retention(2)) == model.retain(2)
    rows = (
        spark.read.parquet(str(tmp_path / "db"))
        .select("source", "metric", F.unix_micros("ts").alias("t"),
                F.round(F.col("value") * 100).cast("long").alias("c"))
        .collect()
    )
    assert gen.rows_digest((r.source, r.metric, r.t, r.c) for r in rows) == gen.rows_digest(model.rows)


# ------------------------------------------------------------------ result schema


def _names(kind):
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_end_to_end_metric_names_and_units():
    m = run.end_to_end([3.0, 2.0, 2.5], [1.0, 3.0, 2.0], [0.5, 0.7, 0.6])
    assert {k: u for k, (_, u) in m.items()} == _names("end_to_end")
    assert all(v > 0 for v, _ in m.values())


def test_per_layer_metric_names_and_units():
    span = tracing.Span("api.insert_rows", 10.0, 11.0, None, "op00001")
    tr = tracing.Tracer(enabled=True)
    tr.spans = [span, tracing.Span("child", 10.2, 10.6, 0, "op00001")]
    jobs = [
        tracing.JobStats("op00001", 10.1, 10.3, stages=2, tasks=6, task_s=1.0),
        tracing.JobStats("stream-run", 10.25, 10.5, stages=1, tasks=2, task_s=0.5),
        tracing.JobStats("stream-run", 12.0, 12.5, stages=1, tasks=2, task_s=0.5),
    ]
    recs = tracing.op_records(tr, jobs)
    assert recs[0]["self_s"] == pytest.approx(0.6) and recs[0]["job_s"] == pytest.approx(0.4)
    assert (recs[0]["jobs"], recs[0]["tasks"], recs[0]["task_s"]) == (2, 8, 1.5)
    m = run.layer_metrics(recs, 4, [1.0], [1.1], 1.1, 1, get_spark_s=0.5, quantum=0.05)
    assert {k: u for k, (_, u) in m.items()} == _names("per_layer")


def test_run_cycles_traces_in_abba_order():
    tr = tracing.Tracer()
    seen = []

    class Fake:
        def cycle(self, ctx, c):
            seen.append(tr.enabled)
            return float(c), [float(c)]

    clock = iter(range(100))
    walls, lats, _, cpus, plain = run.run_cycles(Fake(), None, 4, tr, lambda: next(clock) ** 2)
    assert seen == [False, True, True, False] and not tr.enabled
    assert (walls, lats, plain) == ([1.0, 2.0], [1.0, 2.0], [0.0, 3.0])
    assert cpus == [2 ** 2 - 1 ** 2, 4 ** 2 - 3 ** 2]  # the traced cycles' CPU


def test_traced_layer_details_use_only_the_traced_cycles():
    """Per-cycle side records (points kept, streaming progress, rows
    returned) are paired with the traced cycles, whatever their order."""
    import workloads

    tr = tracing.Tracer()
    w, r = workloads.Writes(), workloads.Reads()
    for c in range(4):
        tr.enabled = c % 4 in (1, 2)
        w.compact_points.append((tr.enabled, 100 * (c + 1)))
        w.stream.progress.append((tr.enabled, [{"numInputRows": c + 1, "durationMs": {"addBatch": c}}]))
        r.returned.append((tr.enabled, c + 1))
    w.files_per_partition = [1.0]

    def rec(name, **kw):
        return {"name": name, "s": 1.0, "self_s": 1.0, "kids": {},
                **dict.fromkeys(tracing.COUNTERS, 0), **kw}

    comp = [rec("sources.ingest.compact", output_bytes=1000)] * 2
    out = w.layer_details(comp)
    assert out["sources.ingest.compact_bytes_rewritten_per_point"] == 2000 / (200 + 300)
    assert out["sources.ingest.stream.numInputRows"] == 2 + 3
    assert out["sources.ingest.stream.addBatch_ms"] == 1.5
    look = [rec("api.lookup.seek", scan_rows=50)] * 2
    assert r.layer_details(look)["api.rows_scanned_per_row_returned"] == 100 / (2 + 3)


def test_tree_cpu_counts_children():
    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert run.tree_cpu_s() - before > 0.05


@pytest.mark.parametrize(
    "name, unit",
    [("insert_p50_s", "s"), ("reads_per_s", "1/s"), ("sources.ingest.stream.addBatch_ms", "ms"),
     ("bytes_per_point", "bytes"), ("failed_op_ratio", "ratio"), ("api.rejected_late", "count")],
)
def test_detail_metric_units(name, unit):
    assert run.with_units({name: 1.0, "insert_tail": {"percentile": 90}}) == {
        name: {"value": 1.0, "unit": unit}, "insert_tail": {"percentile": 90}}


def test_result_line_schema():
    line = run.result_line(True, 3, 0, {"setup_s": (1.5, "s")})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"setup_s": {"value": 1.5, "unit": "s"}}


def test_exits_nonzero_without_the_program(tmp_path):
    """In a checkout holding only BENCHMARK.json and the benchmark, the run
    fails fast and prints no result."""
    import shutil

    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "catena_api", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
