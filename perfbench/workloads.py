"""The two workloads. Each is a closed loop with one client: an operation
starts only after the previous one returned, as catena's InsertRows and
iterator callers do.

A workload has ``prepare`` (one set-up, run several times per run),
``warm`` (once, before timing), ``cycle`` (a fixed, seeded unit of work;
the timed region runs whole cycles) and ``check`` (correctness of what
the cycles produced, after the timed region). Every call into
catena_spark runs inside a tracer operation or span named after the
module it enters.
"""

from __future__ import annotations

import datetime as dt
import math
import shutil
import statistics
from pathlib import Path

import numpy as np

import gen
from tracing import summarize, tail


class Ctx:
    """What a workload sees: the session, its scratch dir, the seed, the
    tracer, and the failure/mismatch log."""

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, name: str, fn, *args):
        """Run one operation; an exception counts as a failed operation
        and the run goes on. Returns (result or None, seconds)."""
        self.attempted += 1
        with self.tracer.op(name) as box:
            try:
                res = fn(*args)
            except Exception as ex:  # an operation boundary must keep running
                self.failed += 1
                self.errors.append(f"{name}: {type(ex).__name__}: {ex}"[:500])
                res = None
        return res, box[0]

    def mismatch(self, what: str) -> None:
        self.errors.append(f"wrong output: {what}"[:500])


def _us(ts: dt.datetime) -> int:
    return (ts - gen.EPOCH) // dt.timedelta(microseconds=1)


def _p50_tail(prefix: str, samples: list[float]) -> dict:
    t = tail(samples)
    return {
        f"{prefix}_p50_s": statistics.median(samples),
        f"{prefix}_tail_s": None if t is None else t[1],
        f"{prefix}_tail": None if t is None else {"percentile": t[0], "n": t[2]},
    }


# ------------------------------------------------------------------ write path


class Writes:
    """catena write path, per cycle: seeded batches through
    ``CatenaDB.insert_rows`` on a fresh store with ``writable_partitions=2``
    (late and NULL-ts rows included), one streaming-ingest round (see
    ``Stream``), then ``compact()`` and ``enforce_retention()``."""

    op_name = "api.insert_rows"
    BATCHES, POINTS, SERIES, WRITABLE, RETAIN = 2, 3000, 200, 2, 2

    def __init__(self):
        self.cycles: list[tuple] = []  # (store dir, model) of cycles without failed ops
        self.insert_s: list[float] = []
        self.wall = 0.0
        self.inserted = self.late = self.invalid = 0
        self.compact_s: list[float] = []
        #: (traced, points kept) per cycle, to pair with the traced records
        self.compact_points: list[tuple[bool, int]] = []
        self.files_per_partition: list[float] = []
        self.bytes_per_point: list[float] = []
        self.stream = Stream()

    def prepare(self, ctx: Ctx) -> None:
        self.stream.prepare(ctx)

    def warm(self, ctx: Ctx) -> None:
        """One batch and a compaction on a throwaway store."""
        from catena_spark.api import ROW_DDL, CatenaDB

        db = CatenaDB.create(ctx.spark, str(ctx.work / "warm"), writable_partitions=self.WRITABLE)
        pdf = gen.ingest_batches([ctx.seed, 1 << 30], 1, self.POINTS, self.SERIES)[0]
        frame, _ = ctx.op("client.create_frame", ctx.spark.createDataFrame, pdf, ROW_DDL)
        ctx.op(self.op_name, db.insert_rows, frame)
        ctx.op("sources.ingest.compact", db.compact)

    def cycle(self, ctx: Ctx, c: int) -> tuple[float, list[float]]:
        from catena_spark.api import ROW_DDL, CatenaDB

        traced = ctx.tracer.enabled
        batches = gen.ingest_batches([ctx.seed, c], self.BATCHES, self.POINTS, self.SERIES)
        model = gen.LateWindowModel(self.WRITABLE)
        path = ctx.work / f"ingest{c}"
        failed = ctx.failed
        db = CatenaDB.create(ctx.spark, str(path), writable_partitions=self.WRITABLE)
        wall, lat = 0.0, []
        for pdf in batches:
            frame, s0 = ctx.op("client.create_frame", ctx.spark.createDataFrame, pdf, ROW_DDL)
            res, s = ctx.op(self.op_name, db.insert_rows, frame) if frame is not None else (None, 0.0)
            wall += s0 + s
            lat.append(s)
            want = model.insert(gen.frame_keys(pdf))
            self.inserted += want[0]
            self.late += want[1]
            self.invalid += want[2]
            got = None if res is None else (res.inserted, res.rejected_late, res.rejected_invalid)
            if got is not None and got != want:
                ctx.mismatch(f"insert_rows returned {got}, model says {want}")
        self.insert_s.extend(lat)
        s = self.stream.round(ctx, timed=True)
        wall += s
        lat.append(s)
        _, s = ctx.op("sources.ingest.compact", db.compact)
        wall += s
        self.compact_s.append(s)
        self.compact_points.append((traced, len(model.rows)))
        parts = [p for p in path.glob("dt=*") if p.is_dir()]
        self.files_per_partition.append(
            sum(len(list(p.glob("*.parquet"))) for p in parts) / max(1, len(parts))
        )
        dropped, s = ctx.op("sources.ingest.retain_latest", db.enforce_retention, self.RETAIN)
        wall += s
        want = model.retain(self.RETAIN)
        if dropped is not None and sorted(dropped) != want:
            ctx.mismatch(f"retention dropped {dropped}, model says {want}")
        if model.rows:
            size = sum(p.stat().st_size for p in path.rglob("*.parquet"))
            self.bytes_per_point.append(size / len(model.rows))
        if ctx.failed == failed:  # a failed op leaves the store unknown
            self.cycles.append((path, model))
        self.wall += wall
        return wall, lat

    def check(self, ctx: Ctx) -> None:
        """After compaction and retention, every store holds exactly the
        points the model kept."""
        from pyspark.sql import functions as F

        for path, model in self.cycles:
            rows = (
                ctx.spark.read.parquet(str(path))
                .select("source", "metric", F.unix_micros("ts").alias("t"),
                        F.round(F.col("value") * 100).cast("long").alias("c"))
                .collect()
            )
            got = gen.rows_digest((r.source, r.metric, r.t, r.c) for r in rows)
            if got != gen.rows_digest(model.rows):
                ctx.mismatch(f"{path.name}: stored points differ from the model "
                             f"({len(rows)} stored, {len(model.rows)} expected)")
            shutil.rmtree(path, ignore_errors=True)
        self.stream.check(ctx)

    def details(self) -> dict:
        return {
            **_p50_tail("insert", self.insert_s),
            "ingest_points_per_s": self.inserted / self.wall,
            "compact_s": statistics.median(self.compact_s),
            "bytes_per_point": statistics.median(self.bytes_per_point),
            **self.stream.details(),
        }

    def layer_details(self, records) -> dict:
        ins = summarize([r for r in records if r["name"] == self.op_name])
        comp = [r for r in records if r["name"] == "sources.ingest.compact"]
        ret = summarize([r for r in records if r["name"] == "sources.ingest.retain_latest"])
        points = sum(n for traced, n in self.compact_points if traced)
        return {
            "api.insert_rows_s": ins.get("s_p50"),
            "api.insert_jobs": ins.get("jobs_per_call"),
            "api.rejected_late": self.late,
            "api.rejected_invalid": self.invalid,
            "sources.ingest.compact_s": summarize(comp).get("s_p50"),
            "sources.ingest.compact_bytes_rewritten_per_point":
                sum(r["output_bytes"] for r in comp) / points if points else None,
            "sources.ingest.files_per_partition": statistics.median(self.files_per_partition),
            "sources.ingest.retain_latest_s": ret.get("s_p50"),
            **self.stream.layer_details(),
        }


class Stream:
    """Streaming half of the write path: the generator lands a seeded
    events file, then the round restarts
    ``sources.ingest.stream_ingest_events`` (AvailableNow) on the same
    checkpoint, so every round replays the offset/commit log."""

    op_name = "sources.ingest.stream_round"
    ROWS = 10_000
    PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution")

    def __init__(self):
        self.progress: list[tuple[bool, list]] = []  # (traced, recentProgress) per timed round
        self.round_s: list[float] = []

    def prepare(self, ctx: Ctx) -> None:
        """Fresh landing, sink and checkpoint dirs, and the first (cold) round."""
        self.root = ctx.work / "stream"
        for d in ("landing", "dest", "ckpt"):
            (self.root / d).mkdir(parents=True)
        self.rounds = 0
        self.round(ctx)

    def round(self, ctx: Ctx, timed: bool = False) -> float:
        from catena_spark.sources import ingest

        r = self.rounds
        gen.land_events(ctx.seed, r, self.ROWS, str(self.root / "landing" / f"part-{r:05d}.parquet"))
        self.rounds += 1

        def run():
            q = ingest.stream_ingest_events(
                ctx.spark, str(self.root / "landing"), str(self.root / "dest"), str(self.root / "ckpt")
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        traced = ctx.tracer.enabled
        prog, s = ctx.op(self.op_name, run)
        if timed:
            self.progress.append((traced, prog or []))
            self.round_s.append(s)
        return s

    def check(self, ctx: Ctx) -> None:
        """Every landed event is stored exactly once."""
        from pyspark.sql import functions as F

        n = self.rounds * self.ROWS
        got = (
            ctx.spark.read.parquet(str(self.root / "dest"))
            .agg(F.count(F.lit(1)), F.countDistinct("event_id"), F.min("event_id"),
                 F.max("event_id"), F.sum("event_id"))
            .collect()[0]
        )
        want = (n, n, 0, n - 1, n * (n - 1) // 2)
        if tuple(got) != want:
            ctx.mismatch(f"stored events (rows, distinct, min, max, sum) {tuple(got)}, landed {want}")

    def details(self) -> dict:
        return {
            "trigger_p50_s": statistics.median(self.round_s),
            "stream_points_per_s": self.ROWS * len(self.round_s) / sum(self.round_s),
        }

    def layer_details(self) -> dict:
        """Phase medians over the traced rounds' non-empty triggers."""
        batches = [p for traced, rnd in self.progress if traced for p in rnd if p["numInputRows"] > 0]
        out = {
            f"sources.ingest.stream.{k}_ms": statistics.median(b["durationMs"].get(k, 0) for b in batches)
            for k in self.PHASES
        } if batches else {}
        out["sources.ingest.stream.numInputRows"] = sum(b["numInputRows"] for b in batches)
        return out


# ------------------------------------------------------------------ read path


class Reads:
    """Lookups on a compacted store built in set-up: ``iterator().seek()
    .first()``, ``latest()``, a 1-2 day range aggregate and an occasional
    ``list_series()``, Zipf-skewed over series and favouring recent data."""

    op_prefix = "api.lookup"
    #: 2000 series x 30 days, one point every 4 hours (360,000 points)
    SERIES, DAYS, PER_DAY = 2000, 30, 6
    #: lookups per cycle, kinds drawn with ``gen.KIND_P``
    LOOKUPS = 8

    def __init__(self):
        self.db = None
        self.read_s: list[float] = []
        self.returned: list[tuple[bool, int]] = []  # (traced, rows returned) per lookup

    def prepare(self, ctx: Ctx) -> None:
        """The first set-up bulk-loads the read store and compacts it; the
        others reopen it on their new session, as a restarted client
        would. Loading and compaction are timed in every cycle of the
        write path, so building the store once keeps the run short
        without hiding their cost."""
        from catena_spark.api import ROW_DDL, CatenaDB

        if self.db is not None:
            self.db = CatenaDB.open(ctx.spark, self.db.base_dir, writable_partitions=self.DAYS)
            return
        pdf, self.index = gen.read_store(ctx.seed, self.SERIES, self.DAYS, self.PER_DAY)
        self.db = CatenaDB.create(ctx.spark, str(ctx.work / "reads"), writable_partitions=self.DAYS)
        frame, _ = ctx.op("client.create_frame", ctx.spark.createDataFrame, pdf, ROW_DDL)
        ctx.op("api.insert_rows", self.db.insert_rows, frame)
        ctx.op("sources.ingest.compact", self.db.compact)

    def warm(self, ctx: Ctx) -> None:
        for q in gen.lookups([ctx.seed, 1 << 30], self.index, ("seek", "latest", "range", "list")):
            self._lookup(ctx, q)

    def cycle(self, ctx: Ctx, c: int) -> tuple[float, list[float]]:
        kinds = gen.lookup_kinds([ctx.seed, c, 1], self.LOOKUPS)
        lat = [self._lookup(ctx, q) for q in gen.lookups([ctx.seed, c], self.index, kinds)]
        self.read_s.extend(lat)
        return sum(lat), lat

    def _lookup(self, ctx: Ctx, q) -> float:
        from pyspark.sql import functions as F

        kind, key, a, b = q
        tr = ctx.tracer

        def run():
            with tr.span("api.lookup_construct"):
                if kind == "seek":
                    it = self.db.iterator(*key).seek(gen.EPOCH + dt.timedelta(microseconds=a))
                elif kind == "range":
                    lo = gen.EPOCH + dt.timedelta(microseconds=a)
                    hi = gen.EPOCH + dt.timedelta(microseconds=b)
                    df = (
                        self.db.iterator(*key).seek(lo).df.where(F.col("ts") < hi)
                        .agg(F.count(F.lit(1)).alias("n"),
                             F.min("value").alias("lo"), F.max("value").alias("hi"),
                             F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"))
                    )
                elif kind == "list":
                    df = self.db.list_series()
            with tr.span("api.lookup_execute"):
                if kind == "seek":
                    return it.first()
                if kind == "latest":
                    return self.db.latest(*key)
                if kind == "range":
                    return df.collect()[0]
                return df.collect()

        traced = tr.enabled
        res, s = ctx.op(f"{self.op_prefix}.{kind}", run)
        self.returned.append((traced, len(res) if kind == "list" and res is not None else 1))
        if res is not None or kind in ("seek", "latest"):
            got, want = self._compare(kind, key, a, b, res)
            if got != want:
                ctx.mismatch(f"{kind} {key}: got {got}, index says {want}")
        return s

    def _compare(self, kind, key, a, b, res):
        ix = self.index
        if kind == "seek":
            got = None if res is None else (_us(res["ts"]), round(res["value"] * 100))
            return got, ix.first_at_or_after(key, a)
        if kind == "latest":
            got = None if res is None else (_us(res["ts"]), round(res["value"] * 100))
            return got, ix.latest(key)
        if kind == "range":
            lo = None if res["lo"] is None else round(res["lo"] * 100)
            hi = None if res["hi"] is None else round(res["hi"] * 100)
            return (res["n"], lo, hi, res["s"]), ix.range_agg(key, a, b)
        return sorted((r["source"], r["metric"]) for r in res), sorted(ix.series)

    def details(self) -> dict:
        return {**_p50_tail("read", self.read_s), "reads_per_s": len(self.read_s) / sum(self.read_s)}

    def layer_details(self, records) -> dict:
        look = [r for r in records if r["name"].startswith(self.op_prefix + ".")]
        sm = summarize(look)
        returned = sum(n for traced, n in self.returned if traced)
        return {
            "api.lookup_construct_s": sm.get("api.lookup_construct_s_p50"),
            "api.lookup_execute_s": sm.get("api.lookup_execute_s_p50"),
            "api.lookup_jobs": sm.get("jobs_per_call"),
            "api.files_scanned_per_lookup": sm.get("files_read_per_call"),
            "api.rows_scanned_per_row_returned":
                sum(r["scan_rows"] for r in look) / returned if returned else None,
        }


class CatenaApi:
    """catena's client API, write and read path in one cycle: two
    InsertRows batches, one streaming round, compaction, retention, then
    eight lookups on the separate read store."""

    name = "catena_api"
    NOMINAL_CYCLE_S = 5.0

    def __init__(self):
        self.writes, self.reads = Writes(), Reads()

    def prepare(self, ctx: Ctx) -> None:
        self.writes.prepare(ctx)
        self.reads.prepare(ctx)

    def warm(self, ctx: Ctx) -> None:
        self.writes.warm(ctx)
        self.reads.warm(ctx)

    def cycle(self, ctx: Ctx, c: int) -> tuple[float, list[float]]:
        w_wall, w_lat = self.writes.cycle(ctx, c)
        r_wall, r_lat = self.reads.cycle(ctx, c)
        return w_wall + r_wall, w_lat + r_lat

    def check(self, ctx: Ctx) -> None:
        self.writes.check(ctx)  # reads were checked as they returned

    def details(self) -> dict:
        return {**self.writes.details(), **self.reads.details()}

    def layer_details(self, records) -> dict:
        return {**self.writes.layer_details(records), **self.reads.layer_details(records)}


# ------------------------------------------------------------------ analytics


def _family(module: str) -> str:
    return module.rsplit(".", 1)[-1]


class AnalyticsMix:
    """Oracle-backed registry keys, one per operator family, rebuilt and
    run to the noop sink once per pass in a seeded key order, over
    generated FIXTURES.md-shaped tables."""

    name = "analytics_mix"
    NOMINAL_CYCLE_S = 3.0
    KEYS = ("ts_sessionize_30m", "agg_pricing_summary", "llm_tfidf_top_terms", "mm_feature_extract")
    TABLES = ("lineitem", "events", "documents")
    SCALE = 1.0  # sf0.01 row counts
    #: the tables are the same in every run, as the fixed test tables of
    #: FIXTURES.md are; the seed orders the keys
    TABLE_SEED = 42

    def __init__(self):
        self.per_key: dict[str, list[float]] = {k: [] for k in self.KEYS}
        self.pass_s: list[float] = []

    def prepare(self, ctx: Ctx) -> None:
        """Generate the tables and load them."""
        from catena_spark import registry

        registry._load_all()
        self.specs = {k: registry._REGISTRY[k] for k in self.KEYS}
        self.sf = ctx.work / "tables"
        self.sf.mkdir(parents=True)
        gen.write_tables(self.TABLE_SEED, str(self.sf), self.SCALE)
        self._load(ctx)

    def warm(self, ctx: Ctx) -> None:
        """The first run of every key collects its result and hash-checks
        it against the key's DuckDB oracle (``registry.oracles()``)."""
        import duckdb

        from catena_spark import registry
        from scripts.drive_contract import value_hash  # the contract check's comparison

        def digest(pdf):
            cols = list(pdf.columns)
            return len(pdf), sorted(cols), value_hash([tuple(r) for r in pdf.itertuples(index=False)], cols)

        oracles = registry.oracles()
        con = duckdb.connect()
        try:
            for t in self.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
            for k in self.KEYS:
                sdf, _ = ctx.op(f"check.{k}", lambda: self.specs[k].fn(ctx.spark, str(self.sf)).toPandas())
                if sdf is None:
                    continue
                got, want = digest(sdf), digest(con.execute(oracles[k]).fetchdf())
                if got != want:
                    ctx.mismatch(f"{k}: spark {got[:2]} differs from its DuckDB oracle {want[:2]}")
        finally:
            con.close()

    def _load(self, ctx: Ctx) -> float:
        from catena_spark import tables

        def load_all():
            for t in self.TABLES:
                tables.load(ctx.spark, str(self.sf), t)

        return ctx.op("tables.load", load_all)[1]

    def cycle(self, ctx: Ctx, c: int) -> tuple[float, list[float]]:
        wall = self._load(ctx)
        lat = []
        for i in np.random.default_rng([ctx.seed, c]).permutation(len(self.KEYS)):
            k = self.KEYS[i]
            s = self._run_key(ctx, k)
            self.per_key[k].append(s)
            lat.append(s)
        self.pass_s.append(wall + sum(lat))
        return wall + sum(lat), lat

    def _run_key(self, ctx: Ctx, key: str) -> float:
        spec = self.specs[key]
        tr = ctx.tracer

        def run():
            with tr.span("construct"):
                df = spec.fn(ctx.spark, str(self.sf))
            if tr.enabled:
                qe = df._jdf.queryExecution()
                with tr.span("optimize"):
                    qe.optimizedPlan()
                with tr.span("plan"):
                    qe.executedPlan()
            with tr.span("execute"):
                df.write.format("noop").mode("overwrite").save()

        return ctx.op(f"operators.{_family(spec.fn.__module__)}.{key}", run)[1]

    def check(self, ctx: Ctx) -> None:
        """Outputs were hash-checked in ``warm``; the timed passes write to
        the noop sink."""

    def details(self) -> dict:
        meds = [statistics.median(v) for v in self.per_key.values() if v]
        return {
            "analytics_pass_s": statistics.median(self.pass_s),
            "analytics_geomean_s": math.exp(sum(map(math.log, meds)) / len(meds)),
        }

    def layer_details(self, records) -> dict:
        out = {"tables.load_s": summarize([r for r in records if r["name"] == "tables.load"]).get("s_p50")}
        for fam in sorted({_family(sp.fn.__module__) for sp in self.specs.values()}):
            sm = summarize([r for r in records if r["name"].startswith(f"operators.{fam}.")])
            for k in ("construct", "optimize", "plan", "execute"):
                out[f"operators.{fam}.{k}_s"] = sm.get(f"{k}_s_p50")
            for k in ("task_s", "shuffle_bytes", "spill_bytes", "scan_rows"):
                out[f"operators.{fam}.{k}"] = sm.get(f"{k}_per_call")
        return out


WORKLOADS = {w.name: w for w in (CatenaApi, AnalyticsMix)}
