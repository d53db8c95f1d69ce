"""The workloads. Each takes a :class:`Ctx`, sets up, measures for
``ctx.seconds`` and verifies its outputs outside the timed region.

End-to-end slots every workload fills (README.md maps them onto the
mart/stream names):

- ``op_p50_s``: median wall time of the workload's repeated operation;
- ``bulk_s``: its bulk step;
- ``setup_s``, which run.py completes with the session start.

Both workloads repeat a fixed unit of work a minimum number of times and
until ``ctx.seconds`` have passed, so a faster engine may run more
samples, never bigger ones. Traced
runs alternate traced and untraced samples, so ``trace.overhead_share``
is measured inside one run. The Spark event log is on for the whole
traced session.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import streamlog
from spans import Tracer, median, tail

MART_LOOKBACK_DAYS = 90
MART_UPDATE_DAYS = 7
MART_MIN_RELOADS = 4

STREAM_WARM_FILES = 2  # per topic, drained in set-up
STREAM_BACKLOG_FILES = 2  # per topic, released together
COMPACT_ROUNDS = 3  # at least, one after every COMPACT_EVERY rounds
COMPACT_EVERY = 2
STREAM_POOL_FILES = 4  # per topic; the timed loop cycles through them
STREAM_MIN_ROUNDS = 6


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    tmp: str
    seed: int
    seconds: float
    trace: bool
    cpu: object  # () -> (jvm_cpu_s, python_worker_cpu_s)
    marks: dict = field(default_factory=dict)

    def begin(self) -> float:
        self.marks["cpu0"] = self.cpu()
        self.marks["t0"] = time.time()
        return self.marks["t0"]

    def finish(self) -> float:
        self.marks["t1"] = time.time()
        self.marks["cpu1"] = self.cpu()
        return self.marks["t1"]


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0  # inputs and warm-up, on top of session start
    notes: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)  # raw per-operation timings

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)


def _overhead(ops: list[tuple[bool, float]]) -> float:
    """Traced median over untraced median, minus one, over samples in run
    order. The first sample is left out: it is never traced and still
    pays warm-up."""
    on = [d for traced, d in ops[1:] if traced]
    off = [d for traced, d in ops[1:] if not traced]
    return median(on) / median(off) - 1.0 if on and off else 0.0


# ---------------------------------------------------------------------------
# mart_reload
# ---------------------------------------------------------------------------


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _check_window(res: Result, label: str, files: list[str], expected: int) -> int:
    """The overwritten partitions' rows must be unique on (id, dt) and
    number exactly what the generator put in the window. Counted from
    the files the reload wrote, not from the pipeline's report (which
    counts the whole mart)."""
    if not files:
        res.fail(f"{label}: nothing written")
        return 0
    df = pq.ParquetDataset(files).read(columns=["id", "dt"]).to_pandas()
    if df.duplicated().any():
        res.fail(f"{label}: duplicate (id, dt) in the written window")
    if len(df) != expected:
        res.fail(f"{label}: wrote {len(df)} rows, generator implies {expected}")
    return len(df)


def run_mart(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from crypto_prediction_etl_spark.plans import indicators_q, pipeline

    res = Result()
    spark, tr = ctx.spark, ctx.tracer
    if ctx.trace:
        for mod, name, layer in (
            (indicators_q, "table", "readers"),
            (pipeline, "indicator_frame", "operators"),
            (pipeline, "reload_window", "writers"),
            (pipeline, "check_unique", "quality"),
            (pipeline, "check_not_null", "quality"),
        ):
            setattr(mod, name, tr.wrap(getattr(mod, name), name, layer))

    t0 = time.time()
    raw_dir = os.path.join(ctx.tmp, "raw")
    os.makedirs(raw_dir)
    orders = gen.mart_orders(ctx.seed)
    pq.write_table(orders, os.path.join(raw_dir, "orders.parquet"))
    # one entry per (symbol, day): the generator writes each day's orders together
    days = orders.column("o_orderdate").to_numpy()[:: gen.MART_ORDERS_PER_DAY].astype(
        "datetime64[D]")
    # No warm pass: a scheduled ELT job starts a fresh session every week,
    # so the backfill is timed as its users meet it, cold.
    res.setup_s = time.time() - t0

    def candles():
        """Raw orders -> daily candles through the catalog's builder (the
        ``plans`` and ``sources.readers`` layers)."""
        with tr.span("candles", "plans"):
            c = indicators_q.candles(spark, raw_dir)
        return c.withColumn("volume", F.col("volume_cents").cast("double") / 100.0)

    mart = os.path.join(ctx.tmp, "mart")
    acc = {"files": 0, "bytes": 0, "parts": 0, "rows": 0}

    def load(label: str, update_days: int | None) -> float:
        lo = days.max() - np.timedelta64(update_days, "D") if update_days else days.min()
        lookback = MART_LOOKBACK_DAYS if update_days else None
        before = _snapshot(mart)
        res.attempted += 1
        a = time.perf_counter()
        source = candles()
        with tr.span("run_indicator_mart", "pipeline"):
            report = pipeline.run_indicator_mart(
                spark, source, mart,
                lookback_days=lookback, update_days=update_days,
                small_ids=gen.MART_SMALL_IDS,
            )
        took = time.perf_counter() - a
        after = _snapshot(mart)
        files = [p for p, v in after.items() if before.get(p) != v]
        rows = _check_window(res, label, files, int((days >= lo).sum()))
        if not report.passed:
            res.fail(f"{label}: pipeline checks failed {report.checks}")
        if tr.enabled:
            acc["files"] += len(files)
            acc["bytes"] += sum(after[p][0] for p in files)
            acc["parts"] += len({os.path.dirname(p) for p in files})
            acc["rows"] += rows
        return took

    # The backfill writes the whole history. Every reload then rewrites the
    # same latest week: reload_window is idempotent, so each timed reload
    # reads and writes the same amount whatever the host's speed.
    tr.enabled = ctx.trace
    ctx.begin()
    backfill_s = load("backfill", None)
    reloads: list[tuple[bool, float]] = []
    start = time.time()
    while len(reloads) < MART_MIN_RELOADS or time.time() - start < ctx.seconds:
        tr.enabled = ctx.trace and len(reloads) % 2 == 1
        reloads.append((tr.enabled, load(f"reload {len(reloads)}", MART_UPDATE_DAYS)))
    tr.enabled = False
    ctx.finish()

    res.samples = {"backfill_s": backfill_s, "reload_s": [t for _, t in reloads]}
    res.e2e = {
        "op_p50_s": median([t for _, t in reloads]),
        "bulk_s": backfill_s,
    }
    if ctx.trace:
        n_runs, run_s = tr.total("pipeline")
        n_calls, table_s = tr.total("readers")
        res.layer.update({
            "plans.build_s": tr.total("plans")[1],
            "plans.build_share": tr.total("plans")[1] / (tr.total("plans")[1] + run_s),
            "readers.table_calls": n_calls,
            "readers.table_s": table_s,
            "pipeline.run_indicator_mart_s": run_s / max(n_runs, 1),
            "writers.reload_window_s": tr.total("writers")[1],
            "writers.files_written": acc["files"],
            "writers.bytes_written": acc["bytes"],
            "writers.partitions_written": acc["parts"],
            "mart.rows_written": acc["rows"],
            "quality.check_s": tr.total("quality")[1],
            "trace.overhead_share": _overhead(reloads),
        })
    return res


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def run_stream(ctx: Ctx) -> Result:
    from crypto_prediction_etl_spark.quality.checks import check_offset_lag
    from crypto_prediction_etl_spark.streaming import pipelines as p
    from crypto_prediction_etl_spark.streaming.sinks import (
        compact_hot_table,
        start_file_stream_pipeline,
    )

    topics = {
        "candles": (p.candles_pipeline, p.CANDLES_PK),
        "market_trade": (p.market_trade_pipeline, p.MARKET_TRADE_PK),
        "order_book": (p.order_book_pipeline, p.ORDER_BOOK_PK),
    }
    res = Result()
    spark, tr = ctx.spark, ctx.tracer
    root = os.path.join(ctx.tmp, "stream")
    dirs = {t: {k: os.path.join(root, t, k) for k in ("src", "out", "ckpt", "stage")}
            for t in topics}

    t0 = time.time()
    plan, expected = gen.stream_plan(
        ctx.seed, STREAM_WARM_FILES, STREAM_BACKLOG_FILES, STREAM_POOL_FILES)
    staged: dict[str, list[tuple[str, str]]] = {}
    for d in dirs.values():
        os.makedirs(d["src"])
        os.makedirs(d["stage"])
    for phase, files in plan.items():
        staged[phase] = []
        for i, (topic, text) in enumerate(files):
            name = f"{phase}-{i:05d}.jsonl"
            with open(os.path.join(dirs[topic]["stage"], name), "w") as fh:
                fh.write(text)
            staged[phase].append((topic, name))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    queries = {}
    tr.enabled = ctx.trace
    for t, (fn, _) in topics.items():
        with tr.span(f"start:{t}", "streaming"):
            queries[t] = start_file_stream_pipeline(
                spark, dirs[t]["src"], fn, dirs[t]["out"], dirs[t]["ckpt"],
                max_files_per_trigger=1,
            )
    tr.enabled = False

    def release(topic: str, name: str) -> None:
        os.replace(os.path.join(dirs[topic]["stage"], name),
                   os.path.join(dirs[topic]["src"], name))

    def drain(span: str) -> None:
        for t, q in queries.items():
            with tr.span(f"{span}:{t}", "streaming"):
                q.processAllAvailable()

    for topic, name in staged["warm"]:
        release(topic, name)
    drain("warm")

    # Compaction is timed on a snapshot of the warm-up rows, so it rewrites
    # the same table on every run whatever the timed loop gets through.
    snap = {t: os.path.join(root, t, "snapshot") for t in topics}
    for t in topics:
        os.makedirs(snap[t])
        for f in _parquet_files(dirs[t]["out"]):
            os.link(f, os.path.join(snap[t], os.path.basename(f)))
    snap_rows = sum(pq.ParquetFile(f).metadata.num_rows
                    for t in topics for f in _parquet_files(snap[t]))

    def compact(label: str, tables: dict[str, str]) -> dict[str, int]:
        rows = {}
        for t, (_, pk) in topics.items():
            with tr.span(f"compact:{t}", "sinks"):
                rows[t] = compact_hot_table(
                    spark, tables[t], pk, ["ts_insert_utc", "_epoch"],
                    os.path.join(root, t, f"compacted-{label}"))
        return rows

    def verify(rows: dict[str, int], phase: str) -> None:
        for t, n in rows.items():
            res.attempted += 1
            if n != expected[phase][t]:
                res.fail(f"{t}: merge-on-read kept {n} rows after the {phase} files, "
                         f"generator sent {expected[phase][t]} distinct keys")

    res.setup_s = time.time() - t0

    # Closed loop: each round drops the next pool file of every topic under
    # a new name and waits until all three queries have consumed it, so a
    # slow moment of the host delays one round and builds no queue. Every
    # few rounds the snapshot is compacted, so both kinds of sample spread
    # over the whole timed region rather than one moment of a shared host.
    due: dict[str, dict[str, float]] = {t: {} for t in topics}
    traced: dict[str, bool] = {}
    compacts: list[float] = []
    alarms, n_pool = 0, len(staged["pool"]) // len(topics)
    start = ctx.begin()
    r = 0
    while (r < STREAM_MIN_ROUNDS or len(compacts) < COMPACT_ROUNDS
           or time.time() - start < ctx.seconds):
        name = f"timed-{r:05d}.jsonl"
        tr.enabled = traced[name] = ctx.trace and r % 2 == 1
        for t in topics:
            src = staged["pool"][(r % n_pool) * len(topics) + list(topics).index(t)][1]
            shutil.copyfile(os.path.join(dirs[t]["stage"], src),
                            os.path.join(dirs[t]["stage"], name))
        for t in topics:
            due[t][name] = time.time()
            release(t, name)
        drain("batch")
        if tr.enabled:
            with tr.span("offset_lag", "quality"):
                for q in queries.values():
                    if q.lastProgress:
                        alarms += not check_offset_lag(q.lastProgress, max_lag=1).passed
        r += 1
        if r % COMPACT_EVERY == 0:
            a = time.perf_counter()
            rows_out = compact(str(r), snap)
            compacts.append(time.perf_counter() - a)
            verify(rows_out, "warm")
    tr.enabled = False
    t1 = ctx.finish()

    # The backlog is released at once. One file is one trigger, so the
    # drain is a rate-limited catch-up over several triggers.
    tr.enabled = ctx.trace
    d0 = time.perf_counter()
    for topic, name in staged["backlog"]:
        release(topic, name)
    drain("drain")
    drain_rate = sum(text.count("\n") for _, text in plan["backlog"]) / (
        time.perf_counter() - d0)
    tr.enabled = False
    progress = {t: q.recentProgress for t, q in queries.items()}
    for q in queries.values():
        q.stop()
    # the whole hot table, every phase: its distinct keys, counted by pyarrow
    verify({t: _distinct_keys(_parquet_files(dirs[t]["out"]), pk)
            for t, (_, pk) in topics.items()}, "pool")

    lat: list[tuple[str, float]] = []
    by_topic: dict[str, float] = {}
    for t in topics:
        got = streamlog.file_latencies(
            os.path.join(dirs[t]["ckpt"], "sources", "0"), progress[t], due[t])
        lat += got.items()
        by_topic[t] = median(list(got.values()))
    res.attempted += r * len(topics)
    if len(lat) < r * len(topics):
        res.fail(f"{r * len(topics) - len(lat)} timed files never reached a batch")

    lat_all = [v for _, v in lat]
    rounds: dict[str, float] = {}  # the slowest of each round's three files
    for n, v in lat:
        rounds[n] = max(v, rounds.get(n, 0.0))
    res.samples = {"compact_s": compacts, "drain_msgs_per_s": drain_rate, "rounds": r,
                   "latency_p50_by_topic": by_topic,
                   "round_latency_s": list(rounds.values())}
    res.e2e = {
        "op_p50_s": median(lat_all),
        "bulk_s": median(compacts),
    }
    if ctx.trace:
        batches = [b for ps in progress.values() for b in ps if b.get("numInputRows")
                   and start <= streamlog.epoch(b["timestamp"]) <= t1]

        def dur(key: str) -> float:
            return median([b["durationMs"].get(key, 0) / 1e3 for b in batches])

        out_files = [f for t in topics for f in _parquet_files(dirs[t]["out"])]
        tail_pct, tail_s = tail(lat_all)
        res.layer.update({
            "stream.drain_msgs_per_s": drain_rate,
            "stream.batches": len(batches),
            "stream.rows_per_batch": float(np.mean([b["numInputRows"] for b in batches])),
            "stream.trigger_s": dur("triggerExecution"),
            "stream.add_batch_s": dur("addBatch"),
            "stream.add_batch_share": median([b["durationMs"].get("addBatch", 0)
                                              / b["durationMs"]["triggerExecution"]
                                              for b in batches]),
            "stream.latest_offset_s": dur("latestOffset"),
            "stream.query_planning_s": dur("queryPlanning"),
            "stream.commit_s": dur("commitOffsets"),
            "stream.latency_tail_s": tail_s,
            "stream.latency_tail_pct": tail_pct,
            "sinks.files_written": len(out_files),
            "sinks.bytes_written": sum(os.path.getsize(f) for f in out_files),
            "compact.rows_in": snap_rows,
            "compact.rows_out": sum(rows_out.values()),
            "quality.offset_lag_alarms": alarms,
            "trace.overhead_share": _overhead([(traced[n], v) for n, v in rounds.items()]),
        })
    return res


def _distinct_keys(files, pk: list[str]) -> int:
    return pq.ParquetDataset(sorted(files)).read(columns=pk).group_by(pk).aggregate([]).num_rows


def _parquet_files(root: str) -> set[str]:
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if f.endswith(".parquet")}


WORKLOADS = {"mart_reload": run_mart, "stream_ingest": run_stream}
