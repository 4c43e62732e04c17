"""The benchmark's workloads: closed loop, one client, one Spark session.

Each workload takes the runner's :class:`Context`, prepares its inputs from
the seed, warms up, measures for ``ctx.seconds`` and checks every output it
produced. It returns an :class:`Outcome`: operations attempted and failed,
end-to-end metrics (untraced run) or per-layer metrics (traced run).

In a traced run the measured operations alternate untraced and traced, so
the tracing overhead is a same-session difference of the two.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import time
from contextlib import nullcontext
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_datawarehousingandetlpipeline_spark.plans import all_queries
from data_engineering_datawarehousingandetlpipeline_spark.plans.reference_queries import (
    day_bounds_utc,
)
from data_engineering_datawarehousingandetlpipeline_spark.schema import (
    OBSERVATION_SCHEMA,
)
from data_engineering_datawarehousingandetlpipeline_spark.streaming import (
    pipeline as sp,
)
from data_engineering_datawarehousingandetlpipeline_spark.warehouse.store import (
    WarehouseTable,
    is_visible_data_file,
)
from perfbench import datagen
from perfbench.trace import COUNTERS, SPANS, Tracer

#: raw micro-batch schema: every field a string, as the stream source reads it
RAW_SCHEMA = T.StructType(
    [T.StructField(f.name, T.StringType(), True) for f in OBSERVATION_SCHEMA.fields]
)
STATIONS = 400  # × 6 readings × 3 hours ≈ 7,200 raw rows per batch
#: batches drained into one fresh table; a cycle always includes the
#: replayed batch, and every cycle does the same work, so a run's figures
#: do not depend on how many batches it managed
CYCLE_BATCHES = 6
#: the JIT warms over the first ~3 cycles: measured after one warm-up cycle,
#: the next two ran 15-40% slower than the fourth and later ones
WARMUP_CYCLES = 3
MIN_CYCLES = 2
HEADLINE_SF = 0.01
CORPUS_SEED = 42


@dataclasses.dataclass
class Context:
    spark: object
    work: Path
    seed: int
    seconds: float
    session_s: float
    cache: Path  # survives runs: derived data keyed by its own inputs


@dataclasses.dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    metrics: dict = dataclasses.field(default_factory=dict)
    info: dict = dataclasses.field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.info.setdefault("failures", []).append(what)


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile), but never below the median: with 20 samples or
    fewer no percentile above the median has 10 samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n - 10 <= n / 2:
        return statistics.median(xs), 50.0
    return xs[n - 11], round(100.0 * (n - 10) / n, 1)


def layer_metrics(out: Outcome, tracer: Tracer, spark, windows, ops: int) -> tuple[dict, dict]:
    """Per-layer means per traced operation, zero for layers not exercised,
    plus the raw Spark counters per span.

    ``windows`` are the traced operations' wall-clock intervals. The layer
    spans must cover at least 90% of that time; the rest is reported as
    unattributed, never folded into a layer.
    """
    counters = tracer.spark_counters(spark, windows)
    wall = sum(b - a for a, b in windows)
    covered = sum(tracer.covered_s(a, b) for a, b in windows)
    out.check(covered >= 0.9 * wall, f"layer spans cover {covered:.2f} s of {wall:.2f} s")
    totals = tracer.totals()
    layers: dict[str, float] = {}
    for name in SPANS[1:]:
        layers[f"{name}_s"] = totals.get(name, {}).get("total_s", 0.0) / ops
        own = counters.get(name, {})
        layers[f"{name}_jobs"] = own.get("jobs", 0.0) / ops
        for key in dict.fromkeys(k for k, _, _ in COUNTERS):
            layers[f"{name}_{key}"] = own.get(key, 0.0) / ops
    layers["streaming.self_s"] = totals.get("streaming.drain", {}).get("self_s", 0.0) / ops
    layers["trace.unattributed_s"] = (wall - covered) / ops
    layers["trace.coverage"] = covered / wall
    return layers, counters


# ------------------------------------------------------------ live_ingest


class Ingest:
    """One warehouse table fed by a file-stream drain per landed batch."""

    def __init__(self, spark, root: Path, feed: datagen.WeatherFeed) -> None:
        self.spark = spark
        self.feed = feed
        self.staging = root / "staging"
        self.incoming = root / "incoming"
        self.checkpoint = str(root / "checkpoint")
        for d in (self.staging, self.incoming):
            d.mkdir(parents=True)
        self.table = WarehouseTable(spark, str(root / "table"))

    def stage(self, k: int) -> tuple[Path, int, int]:
        """Write batch ``k`` outside the incoming dir: (path, rows, bytes)."""
        path = self.staging / f"batch-{k:05d}.json"
        rows = self.feed.write(k, str(path))
        return path, rows, path.stat().st_size

    def drain(self, staged: Path) -> tuple[Path, int]:
        """Land the batch and drain it into the table: (landed path, batches)."""
        landed = self.incoming / staged.name
        os.replace(staged, landed)
        source = sp.read_json_file_stream(self.spark, str(self.incoming))
        return landed, sp.run_available(source, self.table, self.checkpoint)

    def refresh(self, day: dt.date):
        """The dashboard: latest-day window plus per-station watermarks."""
        start, end = day_bounds_utc(day)
        window = (
            self.table.read()
            .select("station_id", "station_name", "timestamp", "temperature", "humidity")
            .filter(F.col("timestamp").between(str(start), str(end)))
            .orderBy("timestamp", "station_id")
            .collect()
        )
        marks = self.table.max_ts_per_key().collect()
        return (start, end), window, marks

    def refresh_ok(self, bounds, window, marks) -> bool:
        got = [(r[0], r[2], r[3], r[4]) for r in window]
        want = self.feed.day_window(*bounds)
        return (
            len(got) == len(want)
            and set(got) == want
            and {r[0]: r[1] for r in marks} == self.feed.watermarks()
        )

    def table_ok(self) -> bool:
        rows = self.table.read().select(
            "station_id", "timestamp", "station_name", "latitude", "longitude",
            "temperature", "humidity", "wind_speed",
        ).collect()
        got = {(r[0], r[1]): tuple(r[2:]) for r in rows}
        return len(rows) == len(got) and got == self.feed.expected

    def duplicate_rows(self) -> int:
        return (
            self.table.read().groupBy("station_id", "timestamp").count()
            .filter(F.col("count") > 1).count()
        )

    def file_stats(self) -> tuple[int, int]:
        files = size = 0
        for dirpath, _, names in os.walk(self.table.root):
            for name in names:
                if is_visible_data_file(name) and "_maintenance" not in dirpath:
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, name))
        return files, size


def live_ingest(ctx: Context, tracer: Tracer | None) -> Outcome:
    spark, out = ctx.spark, Outcome()

    def ingest_for(label: str, index: int) -> Ingest:
        feed = datagen.WeatherFeed(ctx.seed * 1000 + index, STATIONS)
        return Ingest(spark, ctx.work / label, feed)

    # set-up: throwaway tables take the cold first cycles
    t0 = time.perf_counter()
    for w in range(WARMUP_CYCLES):
        warm = ingest_for(f"warmup-{w}", 900 + w)
        for k in range(CYCLE_BATCHES):
            staged, _, _ = warm.stage(k)
            _, drained = warm.drain(staged)
            warm.feed.commit(k)
            bounds, window, marks = warm.refresh(datagen.WeatherFeed.latest_day(k))
            out.check(drained == 1 and warm.refresh_ok(bounds, window, marks),
                      f"warm-up cycle {w} batch {k}")
        if w == 0:  # one audit catches a broken warm-up; more would only cost run time
            out.check(warm.table_ok() and warm.duplicate_rows() == 0, "warm-up table differs")
        shutil.rmtree(ctx.work / f"warmup-{w}")
    out.setup_s = ctx.session_s + time.perf_counter() - t0

    batch_s, read_s, raw_rows = [], [], []
    plain_ops, traced_ops = [], []  # op wall seconds, per tracing state
    windows = []  # (start, end) wall clock of traced ops
    clean_in = clean_out = 0
    traced_bytes = traced_rows = 0
    replay_rows = 0
    op = 0
    start = time.perf_counter()
    c = 0
    while c < MIN_CYCLES or time.perf_counter() - start < ctx.seconds:
        ingest = ingest_for(f"cycle-{c}", c)
        feed = ingest.feed
        for k in range(CYCLE_BATCHES):
            # odd batches in even cycles, even ones in odd cycles: batch
            # position does not bias the traced-minus-untraced overhead
            traced = tracer is not None and (k + c) % 2 == 1
            staged, n_raw, n_bytes = ingest.stage(k)
            before = ingest.table.count() if k == feed.replay_at else None
            if tracer:
                tracer.enabled = traced
            w0, t0 = time.time(), time.perf_counter()
            landed, drained = ingest.drain(staged)
            t1 = time.perf_counter()
            with tracer.span("warehouse.read") if tracer else nullcontext():
                bounds, window, marks = ingest.refresh(datagen.WeatherFeed.latest_day(k))
            t2 = time.perf_counter()
            clean_s = 0.0
            if traced:
                with tracer.span("cleaning.exec"):
                    batch = spark.read.schema(RAW_SCHEMA).json(str(landed))
                    sp.clean_batch(batch).write.mode("overwrite").format("noop").save()
                clean_s = time.perf_counter() - t2
            op_s = time.perf_counter() - t0
            if tracer:
                tracer.enabled = False
            if traced:
                windows.append((w0, time.time()))
                traced_ops.append(op_s - clean_s)
                traced_rows += n_raw
                traced_bytes += n_bytes
            else:
                plain_ops.append(op_s)
            _, n_clean, inserted = feed.commit(k)
            if c == 0:
                clean_in += n_raw
                clean_out += n_clean
            if before is not None:
                added = ingest.table.count() - before
                replay_rows += added
                out.check(added == 0 and inserted == 0, f"cycle {c}: replayed batch {k} added {added} rows")
            out.check(
                drained == 1 and ingest.refresh_ok(bounds, window, marks),
                f"cycle {c} batch {k}: drained {drained}, dashboard mismatch",
            )
            batch_s.append(t1 - t0)
            read_s.append(t2 - t1)
            raw_rows.append(n_raw)
            op += 1
        out.check(ingest.table_ok(), f"cycle {c}: final table differs from the expected table")
        out.check(ingest.duplicate_rows() == 0, f"cycle {c}: duplicate audit found rows")
        files, size = ingest.file_stats()
        rows = len(feed.expected)
        shutil.rmtree(ctx.work / f"cycle-{c}")
        c += 1

    batch_tail, batch_pct = tail(batch_s)
    read_tail, read_pct = tail(read_s)
    out.info.update(
        measured_s=round(time.perf_counter() - start, 3), cycles=c,
        cycle_p50_s=[round(statistics.median(batch_s[i:i + CYCLE_BATCHES]), 3)
                     for i in range(0, op, CYCLE_BATCHES)], batches=op, samples=op, replay_at=feed.replay_at,
        table_rows=rows, data_files=files,
        batch_tail_percentile=batch_pct, read_tail_percentile=read_pct,
    )
    if tracer is None:
        out.metrics = {
            "op_p50_s": statistics.median(batch_s),
            "op_tail_s": batch_tail,
            "read_p50_s": statistics.median(read_s),
            "read_tail_s": read_tail,
            "round_s": statistics.median(b + r for b, r in zip(batch_s, read_s)),
            "rows_per_s": statistics.median(n / b for n, b in zip(raw_rows, batch_s)),
        }
        return out

    n = len(traced_ops)
    layers, counters = layer_metrics(out, tracer, spark, windows, n)
    drain_jobs = sum(
        counters.get(s, {}).get("jobs", 0.0) for s in ("streaming.drain", "warehouse.merge")
    )
    layers.update({
        "sources.input_rows": traced_rows / n,
        "sources.input_bytes": traced_bytes / n,
        "cleaning.rows_in": clean_in,
        "cleaning.rows_out": clean_out,
        "cleaning.keep_ratio": clean_out / clean_in,
        "streaming.jobs_per_batch": drain_jobs / n,
        "warehouse.files": files,
        "warehouse.bytes_per_row": size / rows,
        "warehouse.replay_rows": replay_rows,
        "trace.overhead_s": statistics.mean(traced_ops) - statistics.mean(plain_ops),
    })
    out.metrics = layers
    return out


# ------------------------------------------------------------ headline


def _norm(v):
    """Cross-engine value normalisation (tools/driver_sweep.py)."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def result_key(columns, rows) -> tuple:
    """Order-insensitive result identity: sorted column names, sorted rows."""
    cols = [c.lower() for c in columns]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    by = lambda t: tuple((x is None, str(x)) for x in t)  # noqa: E731
    body = sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=by)
    return tuple(sorted(cols)), tuple(body)


def result_digest(columns, rows) -> str:
    return hashlib.sha256(repr(result_key(columns, rows)).encode()).hexdigest()


def oracle_digests(corpus: str, specs: dict, cache: Path) -> dict[str, str]:
    """Result digest of every query's DuckDB oracle over the corpus.

    The corpus is a fixed function of the generator, so digests are cached
    in ``cache`` under a key of the oracle SQL, the generator source, the
    corpus parameters and the DuckDB version; any change recomputes them.
    """
    import duckdb

    ident = hashlib.sha256()
    for part in (duckdb.__version__, Path(datagen.__file__).read_text(),
                 repr((HEADLINE_SF, CORPUS_SEED)),
                 *(f"{n}\0{specs[n].oracle}" for n in sorted(specs))):
        ident.update(part.encode() + b"\1")
    path = cache / f"oracle-{ident.hexdigest()[:24]}.json"
    if path.is_file():
        return json.loads(path.read_text())
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count() or 1}")
    for name in datagen.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{corpus}/{name}.parquet'")
    digests = {}
    for name, spec in specs.items():
        res = con.execute(spec.oracle)
        digests[name] = result_digest([d[0] for d in res.description], res.fetchall())
    con.close()
    cache.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps(digests))
    os.replace(tmp, path)
    return digests


def _phases(df) -> dict[str, float]:
    """Catalyst phase seconds from the plan's tracker (planning forced)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = got.get().durationMs() / 1000.0 if got.isDefined() else 0.0
    return out


def headline(ctx: Context, tracer: Tracer | None) -> Outcome:
    spark, out = ctx.spark, Outcome()
    specs = {n: s for n, s in all_queries().items() if s.bench}
    names = sorted(specs)

    t0 = time.perf_counter()
    corpus = str(ctx.work / "corpus")
    input_rows, input_bytes = datagen.write_corpus(corpus, HEADLINE_SF, CORPUS_SEED)
    setup_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    oracle = oracle_digests(corpus, specs, ctx.cache)
    out.info["oracle_s"] = round(time.perf_counter() - t0, 3)

    # warm-up pass (cold compile + JIT) doubles as the correctness gate
    for name in names:
        t0 = time.perf_counter()
        try:
            df = specs[name].fn(spark, corpus)
            rows = df.collect()
        except Exception as exc:  # a failed query is a counted failure
            setup_s += time.perf_counter() - t0
            out.check(False, f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        setup_s += time.perf_counter() - t0
        out.check(result_digest(df.columns, rows) == oracle[name], f"{name}: differs from its oracle")
    out.setup_s = ctx.session_s + setup_s

    # A traced run traces each query in every other pass, half of the
    # queries in even passes and the other half in odd ones, so pass order
    # does not bias the traced-minus-untraced overhead.
    # An untraced run stops at the deadline even inside a pass: every query
    # keeps its own samples and the figures are per-query medians, so a
    # partial pass adds samples without weighting the queries it reached.
    rng = random.Random(ctx.seed)
    plain_q = {name: [] for name in names}
    plain_exec = {name: [] for name in names}
    traced_s = untraced_s = 0.0  # query seconds in a traced run
    windows, planned = [], []
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    start = time.perf_counter()
    p = 0
    while p < 2 or (tracer and p % 2) or time.perf_counter() - start < ctx.seconds:
        order = names[:]
        rng.shuffle(order)
        for name in order:
            if tracer is None and p >= 1 and time.perf_counter() - start >= ctx.seconds:
                break
            traced = tracer is not None and (names.index(name) + p) % 2 == 1
            if tracer:
                tracer.enabled = traced
            w0, t0 = time.time(), time.perf_counter()
            try:
                with tracer.span("plans.construct") if tracer else nullcontext():
                    df = specs[name].fn(spark, corpus)
                t1 = time.perf_counter()
                with tracer.span("plans.exec") if tracer else nullcontext():
                    df.write.mode("overwrite").format("noop").save()
                ok = True
            except Exception as exc:
                ok = False
                out.info.setdefault("errors", []).append(f"{name}: {type(exc).__name__}")
            q_s = time.perf_counter() - t0
            if tracer:
                tracer.enabled = False
            out.check(ok, f"{name} failed in pass {p}")
            if traced:
                traced_s += q_s
                windows.append((w0, time.time()))
                if ok:
                    planned.append(df)
            elif tracer:
                untraced_s += q_s
            elif ok:
                plain_q[name].append(q_s)
                plain_exec[name].append(t0 + q_s - t1)
        p += 1
        for df in planned:  # after the pass: no pause between timed queries
            for key, value in _phases(df).items():
                phases[key] += value
        planned.clear()

    out.info.update(measured_s=round(time.perf_counter() - start, 3), passes=p,
                    queries=len(names))
    if tracer is None:
        q_med = [statistics.median(xs) for xs in plain_q.values()]
        exec_med = [statistics.median(xs) for xs in plain_exec.values()]
        q_tail, q_pct = tail([x for xs in plain_q.values() for x in xs])
        exec_tail, exec_pct = tail([x for xs in plain_exec.values() for x in xs])
        out.info["query_p50_s"] = {n: round(m, 3) for n, m in zip(plain_q, q_med)}
        out.info.update(samples=sum(map(len, plain_q.values())),
                        query_tail_percentile=q_pct, exec_tail_percentile=exec_pct)
        out.metrics = {
            "op_p50_s": statistics.median(q_med),
            "op_tail_s": q_tail,
            "read_p50_s": statistics.median(exec_med),
            "read_tail_s": exec_tail,
            "round_s": sum(q_med),
            "rows_per_s": input_rows / sum(q_med),
        }
        return out

    n = p // 2  # traced pass-equivalents
    layers, _ = layer_metrics(out, tracer, spark, windows, n)
    layers.update({
        "sources.input_rows": input_rows,
        "sources.input_bytes": input_bytes,
        "plans.analysis_s": phases["analysis"] / n,
        "plans.optimization_s": phases["optimization"] / n,
        "plans.planning_s": phases["planning"] / n,
        "trace.overhead_s": (traced_s - untraced_s) / n,
    })
    out.metrics = layers
    return out


WORKLOADS = {"live_ingest": live_ingest, "headline": headline}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on every workload."""
    names = ["session.start_s", "session.error_log_lines"]
    for span in SPANS[1:]:
        names += [f"{span}_s", f"{span}_jobs"]
        names += [f"{span}_{key}" for key in dict.fromkeys(k for k, _, _ in COUNTERS)]
    names += [
        "sources.input_rows", "sources.input_bytes",
        "cleaning.rows_in", "cleaning.rows_out", "cleaning.keep_ratio",
        "streaming.jobs_per_batch", "streaming.self_s",
        "warehouse.files", "warehouse.bytes_per_row", "warehouse.replay_rows",
        "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
        "trace.overhead_s", "trace.unattributed_s", "trace.coverage",
    ]
    return names
