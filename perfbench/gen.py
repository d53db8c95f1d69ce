"""Seeded input generators for the benchmark workloads.

Everything here is pure numpy/pyarrow/json: the same seed gives
byte-identical inputs, and nothing touches Spark, so the engine only
ever sees the generated files.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------------------
# mart_reload: daily candles, many symbols, skewed listing dates
# ---------------------------------------------------------------------------

MART_SYMBOLS = 60
MART_DAYS = 107  # 100 days of history, then the week every reload rewrites
MART_START = dt.date(2023, 1, 1)
MART_SMALL_IDS = ["SHIB_USDT", "PEPE_USDT"]
MART_ORDERS_PER_DAY = 3


def mart_orders(seed: int) -> pa.Table:
    """Raw orders for the engine's orders-to-candles builder: one symbol
    per ``o_orderpriority``, ``MART_ORDERS_PER_DAY`` orders per listed day.

    Listing dates are skewed: a third of the symbols trade from day 0 and
    the rest list on exponentially spread later days, so history lengths
    range from a few weeks to the full span. 2% of each symbol's days
    have no orders, as exchange candles sometimes go missing. The seed
    deals a fixed set of listing days and gaps to the symbols, so every
    seed has the same row count and history-length profile."""
    rng = np.random.default_rng(seed)
    ids = MART_SMALL_IDS + [f"SYM{i:03d}_USDT" for i in range(MART_SYMBOLS - 2)]
    q = (np.arange(len(ids)) + 0.5) / len(ids)
    first_days = np.where(q < 1 / 3, 0, np.minimum(
        -60.0 * np.log1p(-(q - 1 / 3) * 1.5 * 0.95), MART_DAYS - 27)).astype(int)
    k = MART_ORDERS_PER_DAY
    sym_col, day_col, price_col = [], [], []
    for sym, first in zip(ids, rng.permutation(first_days)):
        days = np.arange(first, MART_DAYS)
        days = np.delete(days, rng.choice(days.size, size=days.size // 50, replace=False))
        scale = 1e-5 if sym in MART_SMALL_IDS else float(rng.uniform(0.5, 500.0))
        close = scale * np.exp(np.cumsum(rng.normal(0.0, 0.03, days.size)))
        prices = close[:, None] * (1.0 + rng.normal(0.0, 0.01, (days.size, k)))
        sym_col += [sym] * (days.size * k)
        day_col.append(np.repeat(days, k))
        price_col.append(prices.ravel())
    day = np.concatenate(day_col)
    start = np.datetime64(MART_START, "us")
    return pa.table({
        "o_orderkey": pa.array(np.arange(day.size), pa.int64()),
        "o_orderpriority": sym_col,
        "o_orderdate": pa.array(start + (day * 86_400_000_000).astype("timedelta64[us]")),
        "o_totalprice": np.round(np.concatenate(price_col), 8),
    })




# ---------------------------------------------------------------------------
# stream_ingest: JSON-lines files for the three topic pipelines
# ---------------------------------------------------------------------------

TOPICS = ("candles", "market_trade", "order_book")
STREAM_SYMBOLS = 64
BOOK_LEVELS = 20
# One file is one micro-batch. An order-book message is two 20-level
# ladders (40 rows after the explode); 500 of them is a batch in which
# addBatch took 422 of a 588 ms trigger on a 4-core host. Candle and trade
# files carry half of the reference's maxOffsetsPerTrigger = 10 000
# messages: at the full cap a run overran its time budget.
MSGS_PER_FILE = {"candles": 5_000, "market_trade": 5_000, "order_book": 500}
BASE_EPOCH = 1_700_000_000  # 2023-11-14 UTC


class StreamGen:
    """Deterministic message factory for the three topics.

    Symbols are Zipf-skewed. Each file carries a small share of malformed
    lines, empty envelopes and exact re-sends of an earlier message (same
    PK, so merge-on-read collapses them). ``valid_pks`` accumulates the
    distinct primary keys a correct pipeline must keep, per topic; an
    order-book key stands for the 2 x 20 ladder rows the pipeline emits.
    Message fields mirror the wire format: every value is a string."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        w = 1.0 / np.arange(1, STREAM_SYMBOLS + 1) ** 1.1
        self.sym_p = w / w.sum()
        self.symbols = [f"S{i:02d}_USDT" for i in range(STREAM_SYMBOLS)]
        self.seq = 0
        self.clock = BASE_EPOCH
        self.sent: dict[str, list[str]] = {t: [] for t in TOPICS}
        self.valid_pks: dict[str, set] = {t: set() for t in TOPICS}

    def _message(self, topic: str, sym: str, px: float, n: int) -> tuple[str, tuple]:
        t, seq = self.clock, self.seq
        if topic == "candles":
            s = t - t % 60
            rec = (f'"id":"{sym}","low":"{px * 0.99}","high":"{px * 1.01}","open":"{px}",'
                   f'"close":"{round(px * 1.002, 4)}","amount":"{px * 10}","quantity":"10.0",'
                   f'"tradeCount":"{n}","ts_send":"{t}","startTime":"{s}",'
                   f'"closeTime":"{s + 59}"')
            pk = (sym, t)  # (id, dt_create_utc, ts_send, startTime) all follow from t
        elif topic == "market_trade":
            side = "buy" if seq % 2 else "sell"
            rec = (f'"id":"{sym}","trade_id":"{seq}","takerSide":"{side}",'
                   f'"amount":"{px * 0.5}","quantity":"0.5","price":"{px}",'
                   f'"createTime":"{t}","ts_send":"{t + 1}"')
            pk = (sym, seq)
        else:
            asks = ",".join(f'["{round(px + 0.01 * i, 4)}","{1.0 + i}"]'
                            for i in range(BOOK_LEVELS))
            bids = ",".join(f'["{round(px - 0.01 * i, 4)}","{2.0 + i}"]'
                            for i in range(BOOK_LEVELS))
            rec = (f'"id":"{sym}","seqid":"{seq}","createTime":"{t}","ts_send":"{t + 1}",'
                   f'"asks":[{asks}],"bids":[{bids}]')
            pk = (sym, seq)
        return '{"data":[{' + rec + '}]}', pk

    def file_lines(self, topic: str) -> list[str]:
        """One file's worth of lines for ``topic``."""
        n = MSGS_PER_FILE[topic]
        rng, sent = self.rng, self.sent[topic]
        kind = rng.random(n)
        pick = rng.random(n)
        sym = rng.choice(STREAM_SYMBOLS, size=n, p=self.sym_p)
        step = rng.integers(0, 40, n)
        px = np.round(rng.uniform(1.0, 1000.0, n), 4)
        count = rng.integers(1, 500, n)
        lines = []
        for i in range(n):
            if kind[i] < 0.02:
                lines.append('{"data":[{"id":"BROKEN",')
            elif kind[i] < 0.03:
                lines.append('{"data":[]}')
            elif kind[i] < 0.06 and sent:
                lines.append(sent[int(pick[i] * len(sent))])
            else:
                self.seq += 1
                self.clock += int(step[i])
                line, pk = self._message(topic, self.symbols[sym[i]], float(px[i]),
                                         int(count[i]))
                sent.append(line)
                self.valid_pks[topic].add(pk)
                lines.append(line)
        return lines

    def expected_rows(self, topic: str) -> int:
        n = len(self.valid_pks[topic])
        return n * 2 * BOOK_LEVELS if topic == "order_book" else n


def stream_plan(seed: int, n_warm: int, n_backlog: int, n_pool: int) -> tuple[dict, dict]:
    """All file contents of a run, generated up front: ``n_warm`` warm-up
    files, ``n_backlog`` backlog files and ``n_pool`` files the timed
    loop cycles through, per topic. Returns ``({phase: [(topic, text), ...]},
    {phase: {topic: rows}})``, where rows are the distinct valid keys
    sent up to the end of that phase, as rows a correct pipeline keeps."""
    g = StreamGen(seed)
    plan: dict[str, list[tuple[str, str]]] = {}
    expected: dict[str, dict[str, int]] = {}
    for phase, count in (("warm", n_warm), ("backlog", n_backlog), ("pool", n_pool)):
        plan[phase] = [(topic, "\n".join(g.file_lines(topic)) + "\n")
                       for _ in range(count) for topic in TOPICS]
        expected[phase] = {t: g.expected_rows(t) for t in TOPICS}
    return plan, expected
