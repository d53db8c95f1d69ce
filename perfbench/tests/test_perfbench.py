"""The benchmark's own tests: seeded inputs, the percentile rule, the
file-to-batch latency mapping and the metric list in BENCHMARK.json.
No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import streamlog  # noqa: E402
from spans import Tracer, supported_percentile  # noqa: E402


def _parquet_bytes(table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def test_mart_inputs_repeat_byte_for_byte():
    a, b = gen.mart_orders(7), gen.mart_orders(7)
    assert _parquet_bytes(a) == _parquet_bytes(b)
    assert _parquet_bytes(a) != _parquet_bytes(gen.mart_orders(8))


def test_mart_inputs_keep_their_size_across_seeds():
    a, b = gen.mart_orders(7), gen.mart_orders(8)
    assert a.num_rows == b.num_rows
    # each (symbol, day) holds exactly MART_ORDERS_PER_DAY consecutive orders
    k = gen.MART_ORDERS_PER_DAY
    sym = a.column("o_orderpriority").to_pylist()
    day = a.column("o_orderdate").to_pylist()
    pairs = list(zip(sym, day))
    assert len(set(pairs)) == a.num_rows // k
    assert all(pairs[i] == pairs[i - i % k] for i in range(a.num_rows))


def test_stream_inputs_repeat_byte_for_byte():
    (p1, e1), (p2, e2) = gen.stream_plan(7, 1, 2, 1), gen.stream_plan(7, 1, 2, 1)
    assert p1 == p2
    assert e1 == e2
    assert gen.stream_plan(8, 1, 2, 1)[0] != p1


def test_stream_expected_rows_count_distinct_valid_keys():
    plan, expected = gen.stream_plan(3, 1, 1, 2)
    keys, lines = {}, 0
    for phase in ("warm", "backlog", "pool"):
        for topic, text in plan[phase]:
            if topic != "market_trade":
                continue
            for ln in text.splitlines():
                lines += 1
                try:
                    rec = json.loads(ln)["data"]
                except ValueError:
                    continue  # malformed line
                if rec:
                    keys.setdefault(rec[0]["trade_id"], phase)
        # expected rows are cumulative over the phases so far
        assert len(keys) == expected[phase]["market_trade"]
    assert lines > len(keys)  # re-sends, junk and empty envelopes ride along


def test_order_book_rows_are_two_ladders_per_key():
    plan, expected = gen.stream_plan(5, 1, 0, 0)
    books = [json.loads(ln)["data"][0] for topic, text in plan["warm"]
             if topic == "order_book" for ln in text.splitlines()
             if ln.startswith('{"data":[{"id":"S')]
    seqids = {b["seqid"] for b in books}
    assert all(len(b["asks"]) == len(b["bids"]) == gen.BOOK_LEVELS for b in books)
    assert expected["warm"]["order_book"] == len(seqids) * 2 * gen.BOOK_LEVELS


@pytest.mark.parametrize(
    "n,pct,supported",
    [(20, 50, True), (19, 50, False), (200, 95, True), (199, 95, False),
     (100, 90, True), (99, 90, False), (1000, 99, True), (0, 50, False)],
)
def test_percentile_needs_ten_samples_beyond(n, pct, supported):
    values = list(range(n))
    got = supported_percentile(values, pct)
    assert (got is not None) == supported
    if supported:
        assert sum(v > got for v in values) >= 10


def test_percentile_is_nearest_rank():
    assert supported_percentile(list(range(1, 101)), 90) == 90.0


def _write_log(path: str, name: str, entries: list[tuple[str, int]]) -> None:
    with open(os.path.join(path, name), "w") as fh:
        fh.write("v1\n")
        for f, b in entries:
            fh.write(json.dumps({"path": f"file:///in/{f}", "timestamp": 1, "batchId": b}) + "\n")


def test_file_latency_mapping_on_hand_built_log(tmp_path):
    log = str(tmp_path)
    _write_log(log, "0", [("a.jsonl", 0), ("b.jsonl", 0)])
    _write_log(log, "1", [("c.jsonl", 1)])
    # a compaction file repeats earlier batches' entries
    _write_log(log, "2.compact", [("a.jsonl", 0), ("b.jsonl", 0), ("c.jsonl", 1),
                                  ("d.jsonl", 2)])
    progress = [
        {"batchId": 0, "timestamp": "2024-01-01T00:00:10.000Z", "numInputRows": 5,
         "durationMs": {"triggerExecution": 500}},
        {"batchId": 1, "timestamp": "2024-01-01T00:00:11.000Z", "numInputRows": 3,
         "durationMs": {"triggerExecution": 250}},
        # an idle report repeating batch 1 must not move its end
        {"batchId": 1, "timestamp": "2024-01-01T00:00:30.000Z", "numInputRows": 0,
         "durationMs": {"triggerExecution": 1}},
    ]
    t0 = 1704067200.0  # 2024-01-01T00:00:00Z
    due = {"a.jsonl": t0 + 9.0, "b.jsonl": t0 + 9.5, "c.jsonl": t0 + 10.75,
           "d.jsonl": t0 + 12.0, "e.jsonl": t0 + 13.0}
    lat = streamlog.file_latencies(log, progress, due)
    assert lat == pytest.approx({"a.jsonl": 1.5, "b.jsonl": 1.0, "c.jsonl": 0.5})
    assert streamlog.file_batches(log)["d.jsonl"] == 2  # no finished batch: no latency


def test_self_time_subtracts_children():
    tr = Tracer("t")
    tr.enabled = True
    with tr.span("outer", "pipeline") as outer:
        with tr.span("inner", "writers") as inner:
            pass
    outer.start, outer.end, inner.start, inner.end = 0.0, 10.0, 2.0, 9.0
    assert tr.self_times() == pytest.approx({"pipeline": 3.0, "writers": 7.0})
    assert inner.parent == outer.span_id


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"mart_reload", "stream_ingest"}


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mart_reload", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode == 2
    assert p.stdout == ""
