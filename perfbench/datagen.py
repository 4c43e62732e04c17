"""Seeded input generators for the benchmark.

Two kinds of input, both pure functions of their seed:

- :func:`write_corpus` writes the ten parquet tables the registry queries
  read (TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``),
  with the column types and value ranges the query literals and the DuckDB
  oracles expect.
- :class:`WeatherFeed` produces FMI-shaped raw JSON micro-batches with the
  dirty variants of FIXTURES.md, and keeps the warehouse table those batches
  must produce under the engine's insert-if-absent contract, computed in
  plain Python.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- corpus

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "hot", "new", "red", "small")
PART_NOUN = ("anvil", "bolt", "plate", "ring", "rod", "widget", "gear",
             "nut", "pipe", "spring", "valve", "hinge", "clamp")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
EMB_DIM = 64
EMB_LABELS = 10


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(int(50_000 * sf), 500),
        "embeddings": max(int(20_000 * sf), 500),
    }


def corpus_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten corpus tables at scale factor ``sf`` (lineitem ≈ 6M·sf rows)."""
    rng = np.random.default_rng(seed)
    n = _table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    })
    p = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), p)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), p)],
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, o), 2),
        "o_orderdate": pa.array(
            _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), pa.timestamp("us")
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
    })
    lines = rng.integers(1, 8, o)
    m = int(lines.sum())
    orderkey = np.repeat(np.arange(o, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, p, m).astype(np.int64),
        "l_suppkey": rng.integers(0, s, m).astype(np.int64),
        "l_linenumber": (np.arange(m) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": pa.array(
            _days(rng, m, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), pa.timestamp("us")
        ),
    })
    e = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(e // 66, 10), e).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 10 and rng.random() < 0.05:  # near-dup of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    v = n["embeddings"]
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, v)
    vecs = 0.07 * centers[labels] + rng.normal(size=(v, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_corpus(out_dir: str, sf: float, seed: int) -> tuple[int, int]:
    """Write ``<name>.parquet`` per table; return (total rows, total bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = size = 0
    for name, table in corpus_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        rows += table.num_rows
        size += os.path.getsize(path)
    return rows, size


# ---------------------------------------------------------------- weather

FEED_START = dt.datetime(2024, 3, 1)
HOURS_PER_BATCH = 3
READING_MINUTES = (0, 10, 20, 30, 40, 50)
UNPARSEABLE = ("n/a", "--", "error")
NUMERIC = ("latitude", "longitude", "temperature", "humidity", "wind_speed")


def _ts_text(ts: dt.datetime, style: int) -> str:
    iso = ts.strftime("%Y-%m-%dT%H:%M:%S")
    return (iso + "Z", iso + "+00:00", iso, ts.strftime("%Y-%m-%d %H:%M:%S"))[style]


class WeatherFeed:
    """Raw micro-batches plus the table they must produce.

    Batch ``k`` covers hours ``[3k, 3k+3)`` after :data:`FEED_START` with one
    reading per station every 10 minutes, and carries the FIXTURES.md dirt:
    an extra ``elevation`` field, numbers sent as strings, integer station
    ids, unparseable values, NULL keys, exact duplicate rows, station
    outages, and late rows for earlier days. Batch ``replay_at`` re-delivers
    the previous batch unchanged. :meth:`commit` applies a batch to the
    expected table under keep-last-within-batch, first-batch-wins-across.
    """

    def __init__(self, seed: int, stations: int, replay_at: int = 4) -> None:
        self.seed = seed
        self.stations = stations
        self.replay_at = replay_at
        self.expected: dict[tuple[str, dt.datetime], tuple] = {}
        self._rows: dict[int, list[dict]] = {}

    def rows(self, k: int) -> list[dict]:
        """Raw rows of batch ``k`` (kept until the batch is committed)."""
        if k == self.replay_at:
            return self.rows(k - 1)
        if k not in self._rows:
            self._rows[k] = self._generate(k)
        return self._rows[k]

    def _generate(self, k: int) -> list[dict]:
        rng = np.random.default_rng([self.seed, k])
        hour0 = FEED_START + dt.timedelta(hours=HOURS_PER_BATCH * k)
        keys: list[tuple[int, dt.datetime]] = []
        for h in range(HOURS_PER_BATCH):
            hour = hour0 + dt.timedelta(hours=h)
            out_of_service = rng.random(self.stations) < 0.03
            for st in range(self.stations):
                if not out_of_service[st]:
                    keys += [(st, hour + dt.timedelta(minutes=m)) for m in READING_MINUTES]
        # late rows: earlier days, distinct (station, ts) within the batch
        seen = set(keys)
        for _ in range(len(keys) // 50):
            back = dt.timedelta(days=int(rng.integers(1, 4)),
                                minutes=int(rng.integers(0, 24 * 60)))
            st = int(rng.integers(0, self.stations))
            ts = (hour0 - back).replace(second=0)
            if ts < FEED_START or (st, ts) in seen:
                continue
            seen.add((st, ts))
            keys.append((st, ts))

        # one draw per row and column, vectorised: the batch is ~7k rows
        n = len(keys)
        style = rng.integers(0, 4, n)
        values = np.stack([
            np.zeros(n), np.zeros(n),  # latitude, longitude: per station
            rng.normal(2.0, 8.0, n), rng.uniform(30, 100, n), rng.uniform(0, 20, n),
        ], axis=1).round(1)
        dirt = rng.random((n, len(NUMERIC)))
        unparseable = rng.integers(0, len(UNPARSEABLE), (n, len(NUMERIC)))
        int_id = rng.random(n) < 0.2
        texts = {ts: [_ts_text(ts, i) for i in range(4)] for ts in {ts for _, ts in keys}}
        coords = [(round(60.0 + st * 0.0125, 4), round(20.0 + st * 0.025, 4))
                  for st in range(self.stations)]
        out: list[dict] = []
        for i, (st, ts) in enumerate(keys):
            row_values = [*coords[st], *values[i, 2:].tolist()]
            r = {
                "station_id": 1000 + st if int_id[i] else str(1000 + st),
                "station_name": f"Station {1000 + st}",
                "elevation": float(st % 300),
                "timestamp": texts[ts][style[i]],
            }
            for j, col in enumerate(NUMERIC):
                u = dirt[i, j]
                if u < 0.01:
                    r[col] = UNPARSEABLE[unparseable[i, j]]
                elif u < 0.05:
                    r[col] = None
                elif u < 0.35:
                    r[col] = str(row_values[j])
                else:
                    r[col] = row_values[j]
            out.append(r)

        for i in rng.choice(len(out), len(out) // 100, replace=False):
            out.append(dict(out[int(i)]))  # exact duplicate
        for i in rng.choice(len(out), len(out) // 200, replace=False):
            key = ("station_id", "timestamp")[int(rng.integers(0, 2))]
            out[int(i)] = dict(out[int(i)], **{key: None})
        for i in rng.choice(len(out), len(out) // 500, replace=False):
            out[int(i)] = dict(out[int(i)], timestamp="not-a-time")
        order = rng.permutation(len(out))
        return [out[int(i)] for i in order]

    def write(self, k: int, path: str) -> int:
        rows = self.rows(k)
        with open(path, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        return len(rows)

    # --------------------------------------------------- expected table

    @staticmethod
    def _num(v) -> float | None:
        if v is None:
            return None
        try:
            return float(v)
        except ValueError:
            return None

    @staticmethod
    def _ts(v) -> dt.datetime | None:
        if v is None:
            return None
        text = str(v).replace("Z", "").replace("+00:00", "").replace(" ", "T")
        try:
            return dt.datetime.fromisoformat(text)
        except ValueError:
            return None

    def clean(self, rows: list[dict]) -> dict[tuple[str, dt.datetime], tuple]:
        """Keep-last per (station, hour) by original timestamp."""
        best: dict[tuple[str, dt.datetime], tuple[dt.datetime, tuple]] = {}
        for r in rows:
            ts = self._ts(r["timestamp"])
            if r["station_id"] is None or ts is None:
                continue
            sid = str(r["station_id"])
            key = (sid, ts.replace(minute=0, second=0))
            value = (
                r["station_name"],
                *(self._num(r[c]) for c in ("latitude", "longitude")),
                *(self._num(r[c]) for c in ("temperature", "humidity", "wind_speed")),
            )
            if key not in best or ts > best[key][0]:
                best[key] = (ts, value)
        return {k: v for k, (_, v) in best.items()}

    def commit(self, k: int) -> tuple[int, int, int]:
        """Apply batch ``k``; return (raw rows, clean rows, rows the merge
        must insert)."""
        rows = self.rows(k)
        if k != self.replay_at - 1:
            self._rows.pop(k, None)
        cleaned = self.clean(rows)
        added = 0
        for key, value in cleaned.items():
            if key not in self.expected:
                self.expected[key] = value
                added += 1
        return len(rows), len(cleaned), added

    def day_window(self, start: dt.datetime, end: dt.datetime) -> set[tuple]:
        """(station, hour, temperature, humidity) rows in [start, end]."""
        return {
            (sid, ts, v[3], v[4])
            for (sid, ts), v in self.expected.items()
            if start <= ts <= end
        }

    def watermarks(self) -> dict[str, dt.datetime]:
        out: dict[str, dt.datetime] = {}
        for sid, ts in self.expected:
            if ts > out.get(sid, dt.datetime.min):
                out[sid] = ts
        return out

    @staticmethod
    def latest_day(k: int) -> dt.date:
        last = FEED_START + dt.timedelta(hours=HOURS_PER_BATCH * (k + 1) - 1)
        return last.date()
