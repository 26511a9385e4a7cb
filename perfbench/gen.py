"""Seeded input generators and the pure-Python reference models.

Everything a workload feeds to catena_spark comes from here, built from
``numpy.random.default_rng(seed)`` only, so one seed always yields the
same batches, lookups, tables and landing files. The reference models
(the late-window rule, the series index) are what the outputs are
checked against; they never call Spark.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
#: first day of every generated point store (UTC, naive).
BASE_DAY = dt.datetime(2026, 1, 1)
DAY_US = 86_400_000_000
METRICS = ("cpu", "mem", "disk", "net", "temp")

# ------------------------------------------------------------------ points


def points_frame(source, metric, ts_us, cents) -> pd.DataFrame:
    """catena Row frame (source, metric, ts, value); ts_us may hold -1 for
    a NULL timestamp. Values are whole cents so sums are exact."""
    ts = pd.to_datetime(np.asarray(ts_us, dtype=np.int64), unit="us")
    ts = ts.where(np.asarray(ts_us) >= 0)
    return pd.DataFrame(
        {
            "source": np.asarray(source, dtype=object),
            "metric": np.asarray(metric, dtype=object),
            "ts": ts,
            "value": np.asarray(cents, dtype=np.int64) / 100.0,
        }
    )


def day_of(ts_us: int) -> str:
    """The dt window of a point, as catena_spark.sources.ingest.with_dt
    names it under a UTC session."""
    return (EPOCH + dt.timedelta(microseconds=int(ts_us))).strftime("%Y-%m-%d")


def ingest_batches(seed: int, n_batches: int, batch_points: int, n_series: int):
    """Batches for one ingest cycle on a fresh store.

    Batch ``i`` writes mostly into days ``i`` and ``i + 1``. From batch 1 on,
    ~3% of its rows fall on a day before every writable window (late under
    ``writable_partitions=2``) and ~1% have a NULL ts (invalid)."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n_batches):
        n = batch_points
        sid = rng.integers(0, n_series, n)
        day = i + rng.integers(0, 2, n)
        if i >= 1:
            late = rng.random(n) < 0.03
            day = np.where(late, i - 2 - rng.integers(0, i, n), day)
        ts = day * DAY_US + rng.integers(0, DAY_US, n) + _base_us()
        if i >= 1:
            ts = np.where(rng.random(n) < 0.01, -1, ts)
        out.append(
            points_frame(
                [f"host{s // len(METRICS):03d}" for s in sid],
                [METRICS[s % len(METRICS)] for s in sid],
                ts,
                rng.integers(-50_000, 50_000, n),
            )
        )
    return out


def _base_us() -> int:
    return int((BASE_DAY - EPOCH) / dt.timedelta(microseconds=1))


def frame_keys(pdf: pd.DataFrame) -> list[tuple]:
    """(source, metric, ts_us or None, cents) per row of a points frame."""
    ts = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    null = pdf["ts"].isna().to_numpy()
    cents = np.rint(pdf["value"].to_numpy() * 100).astype(np.int64)
    return [
        (s, m, None if z else int(t), int(c))
        for s, m, t, z, c in zip(pdf["source"], pdf["metric"], ts, null, cents)
    ]


@dataclass
class LateWindowModel:
    """Pure-Python model of ``CatenaDB.insert_rows`` and
    ``enforce_retention``: the newest ``writable`` existing dt windows
    accept rows, older rows are late, NULL-ts rows are invalid, and a
    window exists once a row landed in it."""

    writable: int
    rows: list[tuple] = field(default_factory=list)

    def windows(self) -> list[str]:
        return sorted({day_of(r[2]) for r in self.rows})

    def insert(self, keys: list[tuple]) -> tuple[int, int, int]:
        """Returns (inserted, rejected_late, rejected_invalid)."""
        parts = self.windows()
        horizon = parts[-self.writable] if len(parts) >= self.writable else None
        ok, late, invalid = [], 0, 0
        for k in keys:
            if k[2] is None:
                invalid += 1
            elif horizon is not None and day_of(k[2]) < horizon:
                late += 1
            else:
                ok.append(k)
        self.rows.extend(ok)
        return len(ok), late, invalid

    def retain(self, max_partitions: int) -> list[str]:
        parts = self.windows()
        drop = set(parts[: max(0, len(parts) - max_partitions)])
        self.rows = [r for r in self.rows if day_of(r[2]) not in drop]
        return sorted(f"dt={d}" for d in drop)


def rows_digest(rows) -> str:
    """Order-free digest of (source, metric, ts_us, cents) tuples."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


# ------------------------------------------------------------------ series reads


@dataclass
class SeriesIndex:
    """In-memory index of a point store: per series, points sorted by
    (ts_us, cents) — the order ``SeriesIterator.first`` uses."""

    series: dict[tuple[str, str], tuple[list[int], list[int]]]
    t0_us: int
    t1_us: int

    def first_at_or_after(self, key, t_us):
        ts, cents = self.series[key]
        i = bisect.bisect_left(ts, t_us)
        return (ts[i], cents[i]) if i < len(ts) else None

    def latest(self, key):
        ts, cents = self.series[key]
        return (ts[-1], cents[-1])

    def range_agg(self, key, lo_us, hi_us):
        """(count, min cents, max cents, sum cents) over lo <= ts < hi."""
        ts, cents = self.series[key]
        i, j = bisect.bisect_left(ts, lo_us), bisect.bisect_left(ts, hi_us)
        part = cents[i:j]
        if not part:
            return (0, None, None, None)
        return (len(part), min(part), max(part), sum(part))


def read_store(seed: int, n_series: int, days: int, points_per_day: int):
    """Points for the read store (every series, every day) plus its index."""
    rng = np.random.default_rng(seed)
    n = n_series * days * points_per_day
    sid = np.repeat(np.arange(n_series), days * points_per_day)
    day = np.tile(np.repeat(np.arange(days), points_per_day), n_series)
    ts = _base_us() + day * DAY_US + rng.integers(0, DAY_US, n)
    cents = rng.integers(-50_000, 50_000, n)
    src = np.array([f"host{s // len(METRICS):03d}" for s in range(n_series)], dtype=object)
    met = np.array([METRICS[s % len(METRICS)] for s in range(n_series)], dtype=object)
    pdf = points_frame(src[sid], met[sid], ts, cents)
    order = np.lexsort((cents, ts, sid))
    series = {}
    bounds = np.searchsorted(sid[order], np.arange(n_series + 1))
    for s in range(n_series):
        sel = order[bounds[s] : bounds[s + 1]]
        series[(src[s], met[s])] = (ts[sel].tolist(), cents[sel].tolist())
    t1 = _base_us() + days * DAY_US
    return pdf, SeriesIndex(series, _base_us(), t1)


#: Series popularity: Zipf with YCSB's default constant (0.99; Cooper et
#: al., "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010).
ZIPF_S = 0.99
#: Seek recency: 85% of queries ask for the newest 26 hours ("at least
#: 85% of our queries ... are for data collected in the past 26 hours",
#: Pelkonen et al., "Gorilla", VLDB 2015). Ages are exponential with the
#: mean that puts that share inside that window (13.7 hours).
RECENT_SHARE, RECENT_HOURS = 0.85, 26
HOUR_US = 3_600_000_000
#: Share of lookups that are a full ``list_series()`` scan: the occasional
#: discovery call; the others split seek 2 : latest 1 : range 1.
LIST_SHARE = 0.05
KIND_P = {"seek": 0.5 * (1 - LIST_SHARE), "latest": 0.25 * (1 - LIST_SHARE),
          "range": 0.25 * (1 - LIST_SHARE), "list": LIST_SHARE}


def lookup_kinds(seed, n: int) -> list[str]:
    """``n`` lookup kinds drawn independently with the ``KIND_P`` shares."""
    rng = np.random.default_rng(seed)
    return [str(k) for k in rng.choice(list(KIND_P), size=n, p=list(KIND_P.values()))]


def lookups(seed, index: SeriesIndex, kinds) -> list[tuple]:
    """One seeded lookup per entry of ``kinds`` ("seek" = seek+first,
    "latest", "range" = 1-2 day aggregate, "list" = list_series), in a
    seeded order. Series are Zipf-skewed (``ZIPF_S``) and times favour
    recent data (exponential back from the end of the newest day, see
    ``RECENT_SHARE``)."""
    rng = np.random.default_rng(seed)
    keys = sorted(index.series)
    w = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_S
    p = w[rng.permutation(len(keys))] / w.sum()
    mean_age = RECENT_HOURS * HOUR_US / -np.log(1 - RECENT_SHARE)
    span = index.t1_us - index.t0_us
    out = []
    for kind in rng.permutation(np.array(kinds, dtype=object)):
        key = keys[rng.choice(len(keys), p=p)]
        t = index.t1_us - min(int(rng.exponential(mean_age)), span - 1)
        if kind == "range":
            width = int(rng.integers(1, 3)) * DAY_US
            lo = max(index.t0_us, t - width)
            out.append(("range", key, lo, lo + width))
        elif kind == "seek":
            out.append(("seek", key, t, None))
        else:
            out.append((kind, key, None, None))
    return out


# ------------------------------------------------------------------ analytics tables

_WORDS = (
    "spark join filter window scan sort merge hash agg key value table row "
    "column batch stream query order group part line customer data fast slow "
    "big small the a vector index plan shuffle cache spill task stage job"
).split()


def write_tables(seed: int, out_dir: str, scale: float) -> None:
    """Write the FIXTURES.md-shaped tables the analytics keys read (lineitem,
    events, documents) as one parquet file each, with the column types
    and value domains of FIXTURES.md. ``scale`` = 1.0 gives sf0.01 row
    counts."""
    rng = np.random.default_rng(seed)
    n_li, n_ev, n_doc = int(60000 * scale), int(10000 * scale), int(500 * scale)

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    ship = np.datetime64("1995-01-02", "us") + rng.integers(0, 2500, n_li).astype("timedelta64[D]")
    write(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, n_li // 4, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_000_000, n_li) / 100.0,
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        },
    )
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 29 * DAY_US, n_ev)
    ).astype("timedelta64[us]")
    write("events", _events_cols(rng, 0, n_ev, ev_ts, n_users=max(15, n_ev // 200)))
    words = np.array(_WORDS, dtype=object)
    texts = []
    for i in range(n_doc):
        if i and rng.random() < 0.1:  # exact duplicates, as FIXTURES.md's documents have
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(20, 80)))]))
    write(
        "documents",
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )


def _events_cols(rng, first_id: int, n: int, ts, n_users: int) -> dict:
    types = np.array(["click", "error", "purchase", "signup", "view"])
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": types[rng.integers(0, 5, n)],
        "value": rng.integers(0, 100_000, n) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


# ------------------------------------------------------------------ stream landing


def land_events(seed: int, round_no: int, n: int, path: str) -> None:
    """Write one landing file of ``n`` events for streaming round
    ``round_no``; event ids are ``[round_no * n, (round_no + 1) * n)`` and
    timestamps are UTC-adjusted so the stream's declared TIMESTAMP reads
    them."""
    rng = np.random.default_rng([seed, round_no])
    ts = np.datetime64("2024-01-01", "us") + (
        round_no * DAY_US // 4 + np.sort(rng.integers(0, 2 * DAY_US, n))
    ).astype("timedelta64[us]")
    cols = _events_cols(rng, round_no * n, n, ts, n_users=500)
    cols["ts"] = pa.array(ts, pa.timestamp("us", tz="UTC"))
    pq.write_table(pa.table(cols), path)
