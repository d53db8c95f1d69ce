"""Stream transform pipelines (SURVEY §3.1): the three topic flows,
as pure DataFrame->DataFrame functions.

Structured Streaming's unified model means these run identically over
``spark.read.json`` (tests, backfills) and ``spark.readStream`` (live):
stateless enrich-only transforms — JSON decode, first-element
extraction, string->float casts, epoch->timestamp derivations —
exactly the reference's chain (candles.py:82-105, market_trade.py:78-99,
order_book.py:76-123), minus the Cassandra sink.

At scale: no shuffle anywhere in these pipelines — every operator is
per-row, so throughput scales with source partitions (Kafka partitions
-> tasks); ``maxOffsetsPerTrigger`` bounds micro-batch size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import CANDLES_SCHEMA, MARKET_TRADE_SCHEMA, ORDER_BOOK_SCHEMA


def _first(field: str) -> Column:
    """try_element_at(data.<field>, 1) — the producer wraps one record
    per message (reference: candles.py:86-96). The try_ variant returns
    NULL for malformed/empty envelopes (ANSI element_at throws on an
    empty array); the pipelines' PK-id filter then drops those rows."""
    return F.try_element_at(F.col(f"value.data.{field}"), F.lit(1))


def _time_cols(epoch_col: Column) -> list[Column]:
    """ts/dt derivations from an epoch-seconds column (reference:
    candles.py:97-103)."""
    return [
        F.from_unixtime(epoch_col, "yyyy-MM-dd HH:mm:ss")
        .cast("timestamp")
        .alias("ts_create_utc"),
        F.from_unixtime(epoch_col, "yyyy-MM-dd").cast("date").alias("dt_create_utc"),
        F.current_timestamp().alias("ts_insert_utc"),
    ]


def parse_envelope(raw: DataFrame, schema) -> DataFrame:
    """CAST(value AS STRING) -> from_json (P1/P2).

    Deliberately does NOT filter on the parsed struct: a filter here
    gets pushed below the projection and re-embeds the whole from_json
    lineage once per conjunct (and from_json is CodegenFallback, so
    those copies evaluate interpreted AND bloat the generated stage —
    measured 2.5x on the order-book wire path). Malformed lines and
    empty envelopes surface as null extracted fields; each pipeline
    drops them with one cheap scalar filter on its PK id AFTER
    extraction instead (same surviving row set: the wire contract has
    id on every record, and an id-less record is junk for every
    downstream PK anyway)."""
    return raw.selectExpr("CAST(value AS STRING) AS value_str").select(
        F.from_json("value_str", schema).alias("value")
    )


def candles_pipeline(raw: DataFrame) -> DataFrame:
    """crypto.candles_minute topic -> typed candle rows
    (reference: streaming/candles.py:82-105)."""
    parsed = parse_envelope(raw, CANDLES_SCHEMA)
    f = _first
    return parsed.select(
        f("id").alias("id"),
        f("low").cast("float").alias("low"),
        f("high").cast("float").alias("high"),
        f("open").cast("float").alias("open"),
        f("close").cast("float").alias("close"),
        f("amount").cast("float").alias("amount"),
        f("quantity").cast("float").alias("quantity"),
        f("tradeCount").cast("int").alias("tradeCount"),
        f("ts_send").cast("bigint").alias("ts_send"),
        f("startTime").cast("bigint").alias("startTime"),
        f("closeTime").cast("bigint").alias("closeTime"),
        # ts/dt_create_utc derive from ts_send — the SEND time, not the
        # candle's closeTime — matching candles.py:97-100; the partition
        # date therefore tracks arrival, and re-sends of the same candle
        # get distinct ts_send values (distinct PK rows, per the
        # reference table contract below).
        *_time_cols(f("ts_send").cast("bigint")),
    ).filter(F.col("id").isNotNull())


# Mirrors the reference PK ((id, dt_create_utc), ts_send, startTime)
# (ddl/cassandra/crypto/candles_realtime.ddl:19): partition key +
# clustering columns, flattened. A re-send carries a new ts_send and so
# UPSERTS AS A NEW ROW rather than collapsing — downstream marts pick
# the freshest per (id, startTime) themselves, exactly like the
# reference's consumers.
CANDLES_PK = ["id", "dt_create_utc", "ts_send", "startTime"]


def market_trade_pipeline(raw: DataFrame) -> DataFrame:
    """crypto.market_trade topic -> typed trade rows
    (reference: streaming/market_trade.py:78-99)."""
    parsed = parse_envelope(raw, MARKET_TRADE_SCHEMA)
    f = _first
    return parsed.select(
        f("id").alias("id"),
        f("trade_id").cast("bigint").alias("trade_id"),
        f("takerSide").alias("takerSide"),
        f("amount").cast("float").alias("amount"),
        f("quantity").cast("float").alias("quantity"),
        f("price").cast("float").alias("price"),
        f("createTime").cast("bigint").alias("createTime"),
        f("ts_send").cast("bigint").alias("ts_send"),
        *_time_cols(f("createTime").cast("bigint")),
    ).filter(F.col("id").isNotNull())


MARKET_TRADE_PK = ["id", "dt_create_utc", "trade_id"]


def order_book_pipeline(raw: DataFrame) -> DataFrame:
    """crypto.order_book topic -> flattened ladder: fork asks/bids,
    posexplode each 20-level ladder, stamp order_rank = pos+1 and
    order_type (reference: streaming/order_book.py:76-123).

    The ask/bid fork is a per-row explode of a 2-struct array, NOT a
    union of two selects over ``parsed`` — r9 (plan_dup_audit): the
    union shape re-planned the from_json decode once per leg (2x the
    most expensive per-byte operator on the stream's hot path; no
    exchange exists below it for AQE to reuse, and a streaming frame
    cannot be checkpoint-pinned).  Row set is identical: a malformed
    envelope still yields one null-entry row per side (the struct
    array is never null, posexplode_outer keeps null ladders) and the
    PK-id filter drops it, exactly as the union did."""
    parsed = parse_envelope(raw, ORDER_BOOK_SCHEMA)
    f = _first

    def side_struct(side: str) -> Column:
        return F.struct(
            F.lit("ask" if side == "asks" else "bid").alias("order_type"),
            F.try_element_at(F.col(f"value.data.{side}"), F.lit(1)).alias(
                "ladder"
            ),
        )

    legs = parsed.select(
        f("id").alias("id"),
        f("seqid").cast("bigint").alias("seqid"),
        f("createTime").cast("bigint").alias("createTime"),
        f("ts_send").cast("bigint").alias("ts_send"),
        F.explode(F.array(side_struct("asks"), side_struct("bids"))).alias(
            "leg"
        ),
    )
    rows = legs.select(
        "id",
        "seqid",
        F.col("leg.order_type").alias("order_type"),
        "createTime",
        "ts_send",
        F.posexplode_outer("leg.ladder").alias("pos", "entry"),
    )
    return rows.select(
        "id",
        "seqid",
        "order_type",
        F.try_element_at("entry", F.lit(1)).cast("float").alias("quote_price"),
        F.try_element_at("entry", F.lit(2)).cast("float").alias("base_amount"),
        (F.col("pos") + 1).alias("order_rank"),
        "createTime",
        "ts_send",
        *_time_cols(F.col("createTime")),
    ).filter(F.col("id").isNotNull())


ORDER_BOOK_PK = ["id", "dt_create_utc", "seqid", "order_type", "order_rank"]


def running_ohlc_stateful(grouped_stream):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-symbol running OHLC + volume over an unbounded stream.

    The reference keeps no stream state at all (SURVEY §2.9 — PK upsert
    absorbs re-sends); this is the engine extension for true stateful
    aggregation: state = (open, high, low, close, volume, n) per id,
    updated per micro-batch, emitted on every update.

    ``grouped_stream``: result of ``df.groupBy("id")`` over a stream
    with columns (id, price, qty, seq). ``seq`` is the
    event-time / trade-sequence column (the reference's trade_id /
    createTime, market_trade.py:78-99): open/close are defined by TRADE
    ORDER, so each micro-batch folds in ``seq`` order — Spark gives
    no intra-batch ordering guarantee, and a batch holding >1 trade per
    symbol would otherwise produce arrival-order (wrong) open/close.
    Ties on ``seq`` break deterministically by (price, qty).
    Returns the streaming DataFrame.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        "id string, open double, high double, low double, close double, "
        "volume double, n_trades long"
    )
    state_schema = (
        "open double, high double, low double, close double, "
        "volume double, n_trades long"
    )

    def update(key, pdfs, state):
        kid = key[0]
        if state.exists:
            o, h, l, c, v, n = state.get
        else:
            o = h = l = c = None
            v, n = 0.0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["seq", "price", "qty"], kind="stable")
            for price, qty in zip(pdf["price"], pdf["qty"]):
                price, qty = float(price), float(qty)
                if o is None:
                    o = h = l = price
                h = max(h, price)
                l = min(l, price)
                c = price
                v += qty
                n += 1
        state.update((o, h, l, c, v, n))
        yield pd.DataFrame(
            [{"id": kid, "open": o, "high": h, "low": l, "close": c,
              "volume": v, "n_trades": n}]
        )

    return grouped_stream.applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_exact_dedup(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: drop re-ingested duplicate documents by
    content fingerprint, with state bounded by the watermark.

    The streaming face of :func:`..operators.dedup.exact_dedup` for a
    live training-data ingest: fingerprint = md5 of the normalized
    text (same canon form as the batch op, so batch and stream agree
    on what "identical" means), then ``dropDuplicatesWithinWatermark``
    keeps ONE state entry per fingerprint only until the watermark
    passes 10 minutes beyond its event time ``ts``. Unbounded-key streams stay
    bounded: state is O(distinct fingerprints per watermark window),
    not O(all history) — the difference between a dedup that survives
    a week of 100 TB ingest and one that OOMs on day one. Emission is
    append-mode immediate (first sighting flows through the same
    micro-batch; later sightings within the window are dropped).
    """
    from ..operators.text import fingerprint_md5

    fp = stream.withColumn("fingerprint", fingerprint_md5("text"))
    return fp.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )


def trade_candle_stream_join(
    trades: DataFrame,
    candles: DataFrame,
    watermark: str = "2 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: stamp each trade with
    the same-symbol candle whose [startTime, startTime+60 s)
    window contains the trade's createTime — the enrich step that fuses
    the reference's two independent topic pipelines (market_trade +
    candles_minute) into one stream.

    Both inputs take event-time watermarks and the join condition
    bounds the two event times' distance, which is exactly what lets
    Spark evict join state: each side buffers only rows newer than
    the other side's watermark minus the 60 s candle — state is
    O(in-flight window x symbols), not O(stream history), at any
    scale. Inner join in append mode emits a row as soon as both sides
    of a match have arrived; ``how="left_outer"`` additionally emits
    candle-less trades with nulls — but only once the candle-side
    watermark has passed the trade's window (the row is provably
    unmatchable), so late candles can never be wrongly skipped.

    Input frames are the outputs of :func:`market_trade_pipeline` and
    :func:`candles_pipeline` (batch or streaming — the same plan runs
    both ways; the e2e test drives real micro-batches).
    """
    t = trades.withColumn(
        "trade_ts", F.timestamp_seconds(F.col("createTime"))
    ).withWatermark("trade_ts", watermark)
    c = (
        candles.select(
            F.col("id").alias("c_id"),
            F.col("open").alias("c_open"),
            F.col("high").alias("c_high"),
            F.col("low").alias("c_low"),
            F.col("close").alias("c_close"),
            F.col("startTime").alias("candle_startTime"),
            F.timestamp_seconds(F.col("startTime")).alias("candle_start_ts"),
        )
    ).withWatermark("candle_start_ts", watermark)
    cond = (
        (t["id"] == c["c_id"])
        & (t["trade_ts"] >= c["candle_start_ts"])
        & (
            t["trade_ts"]
            < c["candle_start_ts"] + F.expr("INTERVAL 60 SECONDS")
        )
    )
    return t.join(c, cond, how).select(
        "id",
        "trade_id",
        "takerSide",
        "price",
        "createTime",
        "candle_startTime",
        F.col("c_open").alias("candle_open"),
        F.col("c_high").alias("candle_high"),
        F.col("c_low").alias("candle_low"),
        F.col("c_close").alias("candle_close"),
    )


def running_zscore_tws(grouped_stream):
    """Stateful streaming via the Spark 4 ``transformWithStateInPandas``
    API (the arbitrary-state successor to applyInPandasWithState):
    per-symbol running mean/variance (Welford) held in a ValueState,
    each micro-batch emitting every trade's z-score against the state
    BEFORE that batch — the online price-anomaly screen.

    Complements ``running_ohlc_stateful``: same one-shuffle-per-batch
    execution (state lives in the state store, partitioned by key;
    batches fold in ``seq`` order for determinism), but on the new
    StatefulProcessor handle API with typed ValueState, timers
    available, and state schema evolution — where new stateful
    operators should land.

    Runtime note: the TWS state protocol imports ``google.protobuf``
    (pyspark's StateMessage_pb2); in containers without protobuf the
    query fails at pre-init — the plumbing here is complete and the
    e2e test (tests/test_streaming.py::test_transform_with_state_zscore)
    runs wherever protobuf is installed and skips elsewhere.
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("seq", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("zscore", T.DoubleType()),
            T.StructField("n_seen", T.LongType()),
        ]
    )

    class ZScoreProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "welford", "n long, mean double, m2 double"
            )

        def handleInputRows(self, key, rows, timerValues):
            import math

            if self._state.exists():
                n, mean, m2 = self._state.get()
            else:
                n, mean, m2 = 0, 0.0, 0.0
            out = []
            for pdf in rows:
                pdf = pdf.sort_values(["seq", "price"], kind="stable")
                for seq, price in zip(pdf["seq"], pdf["price"]):
                    price = float(price)
                    if n >= 2 and m2 > 0.0:
                        z = (price - mean) / math.sqrt(m2 / (n - 1))
                    else:
                        z = 0.0
                    n += 1
                    d = price - mean
                    mean += d / n
                    m2 += d * (price - mean)
                    out.append((key[0], int(seq), price, z, n))
            self._state.update((n, mean, m2))
            yield pd.DataFrame(
                out, columns=["id", "seq", "price", "zscore", "n_seen"]
            )

        def close(self) -> None:
            pass

    return grouped_stream.transformWithStateInPandas(
        ZScoreProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="none",
    )
