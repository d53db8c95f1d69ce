"""Streaming sinks: foreachBatch writer with PK-upsert semantics.

The reference sinks to Cassandra where the composite PK makes re-sends
overwrite in place (ddl/cassandra/crypto/candles_realtime.ddl:19,
write_stream.py:1-16). Without a key-value store, the scalable
equivalent is merge-on-read: append micro-batches (cheap, no
read-modify-write in the hot path), dedup by PK at read time keeping
the newest ``ts_insert_utc``/``ts_send``. Compaction == rewriting the
table through :func:`read_hot_table` periodically; its row count is
observed on the frame it writes, so the output is never read back.

Exactly-once: Spark checkpoints offsets per micro-batch; a replayed
batch appends duplicate PK rows, which merge-on-read collapses — same
end state as Cassandra upsert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..quality.checks import progress_dict
from ..sources.writers import latest_per_key


def upsert_append_writer(out_dir: str):
    """foreachBatch function: append the micro-batch as parquet.

    reference shape: write_stream.py:4-16 (foreachBatch -> batch sink).
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("_epoch", F.lit(epoch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return write


def read_hot_table(
    spark: SparkSession, path: str, pk_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Merge-on-read view: latest row per PK (upsert semantics).

    ``order_cols`` break ties among duplicate PKs (newest wins) —
    e.g. ["ts_insert_utc", "_epoch"].
    """
    return latest_per_key(spark.read.parquet(path), pk_cols, order_cols)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int = 10000,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """The reference's Kafka reader option surface, verbatim
    (read_stream.py:6-19: subscribe, startingOffsets=earliest,
    maxOffsetsPerTrigger=10000 via streaming/candles.py:19-23,
    failOnDataLoss=false)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }


def start_stream_pipeline(
    spark: SparkSession,
    pipeline,
    out_dir: str,
    checkpoint_dir: str,
    source_format: str = "text",
    source_options: dict[str, str] | None = None,
    source_path: str | None = None,
):
    """Wire ANY streaming source through a transform pipeline into the
    upsert sink with checkpointing (reference: read_stream.py:6-19 +
    candles.py:111-124).

    The source is a (format, options[, path]) seam so the SAME pipeline
    runs against Kafka in production and a file source in tests: every
    topic pipeline starts from ``CAST(value AS STRING)``, which both the
    Kafka source's binary ``value`` column and the text source's string
    ``value`` column satisfy. For Kafka pass
    ``source_format="kafka", source_options=kafka_source_options(...)``
    and no path.
    """
    reader = spark.readStream.format(source_format)
    for k, v in (source_options or {}).items():
        reader = reader.option(k, str(v))
    raw = reader.load(source_path) if source_path is not None else reader.load()
    out = pipeline(raw)
    return (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert_append_writer(out_dir))
        .start()
    )


def start_file_stream_pipeline(
    spark: SparkSession,
    source_dir: str,
    pipeline,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """File-source binding of :func:`start_stream_pipeline` (the test/
    backfill path). ``max_files_per_trigger`` is the file-source analog
    of the reference's ``maxOffsetsPerTrigger: 10000`` micro-batch rate
    limit (reference: streaming/candles.py:21)."""
    opts = {}
    if max_files_per_trigger is not None:
        opts["maxFilesPerTrigger"] = str(max_files_per_trigger)
    return start_stream_pipeline(
        spark,
        pipeline,
        out_dir,
        checkpoint_dir,
        source_format="text",
        source_options=opts,
        source_path=source_dir,
    )


def progress_summary(query) -> dict:
    """Offset/rate introspection from lastProgress (reference lag
    monitoring: check_offset_diff.py:39-69, session.py:130-132).
    Offsets come back parsed by ``progress_dict`` (a file source's
    ``{"logOffset": 0}``, None before the first batch)."""
    p = query.lastProgress
    if not p:
        return {}
    p = progress_dict(p)
    return {
        "batchId": p.get("batchId"),
        "numInputRows": p.get("numInputRows"),
        "inputRowsPerSecond": p.get("inputRowsPerSecond"),
        "sources": [
            {k: s.get(k) for k in ("description", "startOffset", "endOffset", "numInputRows")}
            for s in p.get("sources", [])
        ],
    }


def neardup_screen_writer(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
):
    """foreachBatch function: screen each document micro-batch against
    the PERSISTED near-dup band index, emit a keep/drop decision per
    doc, and index only the novel docs — streaming corpus curation.

    State layout (the "band table IS the dedup index" form):
    ``{index_dir}/arrays`` holds (doc_id, shingles, _epoch) and
    ``{index_dir}/bands`` holds (doc_id, band, bk, _epoch); decisions
    land in ``out_dir`` as (doc_id, matched_id, jaccard, is_dup,
    _epoch). Batches only ever APPEND new epoch partitions to the
    index — the corpus-side state grows by novel docs and is never
    rewritten, and each batch's band keys broadcast into the bucket
    join against it (see operators.dedup.screen_against_index).

    Exactly-once: every output is partitioned by ``_epoch`` and written
    with dynamic partition overwrite, so a replayed micro-batch (Spark
    re-invokes foreachBatch with the same epoch_id after a failure)
    rewrites its own partitions byte-identically instead of appending
    duplicates — decisions AND index stay idempotent with no
    read-modify-write in the hot path.
    """
    from ..operators.dedup import (
        _band_keys,
        _minhash_sigs_from_arrays,
        doc_shingle_arrays,
        screen_against_index,
    )

    arrays_dir = f"{index_dir}/arrays"
    bands_dir = f"{index_dir}/bands"

    def _write_epoch(df: DataFrame, path: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(path)
        )

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        new_arrays = doc_shingle_arrays(batch_df).persist()
        new_arrays.count()
        new_bands = _band_keys(_minhash_sigs_from_arrays(new_arrays))
        try:
            idx_arrays = spark.read.parquet(arrays_dir)
            idx_bands = spark.read.parquet(bands_dir)
            # a replayed epoch must not match against its own failed
            # write's partition
            idx_arrays = idx_arrays.filter(F.col("_epoch") != epoch_id)
            idx_bands = idx_bands.filter(F.col("_epoch") != epoch_id)
        except Exception:
            idx_arrays = idx_bands = None
        if idx_arrays is None:
            decisions = batch_df.select("doc_id").select(
                "doc_id",
                F.lit(None).cast("long").alias("matched_id"),
                F.lit(None).cast("double").alias("jaccard"),
                F.lit(0).alias("is_dup"),
            )
        else:
            decisions = screen_against_index(
                idx_arrays,
                idx_bands,
                new_arrays,
                new_bands,
                batch_df.select("doc_id"),
            )
        decisions = decisions.withColumn("_epoch", F.lit(epoch_id)).persist()
        decisions.count()
        _write_epoch(decisions, out_dir)
        novel = decisions.filter(F.col("is_dup") == 0).select("doc_id")
        _write_epoch(
            new_arrays.join(F.broadcast(novel), "doc_id", "left_semi").withColumn(
                "_epoch", F.lit(epoch_id)
            ),
            arrays_dir,
        )
        _write_epoch(
            new_bands.join(F.broadcast(novel), "doc_id", "left_semi").withColumn(
                "_epoch", F.lit(epoch_id)
            ),
            bands_dir,
        )
        decisions.unpersist()
        new_arrays.unpersist()

    return write


def compact_hot_table(
    spark: SparkSession,
    path: str,
    pk_cols: list[str],
    order_cols: list[str],
    compacted_path: str,
    ttl_seconds: int | None = None,
    now=None,
) -> int:
    """Rewrite the append log as its merge-on-read view (one row per
    PK) — the maintenance job that bounds read amplification; on a
    cluster this runs on a schedule exactly like Cassandra compaction.

    ``ttl_seconds`` additionally enforces the hot table's retention —
    Cassandra's ``default_time_to_live = 2592000``
    (ddl/cassandra/crypto/candles_realtime.ddl:20) — by dropping rows
    whose ``ts_insert_utc`` is older than ``now - ttl_seconds`` during the same
    rewrite (no extra pass). ``now`` defaults to the current timestamp;
    pass a fixed value for deterministic runs. Idempotent: re-running
    with the same ``now`` rewrites the identical survivor set.

    Returns the compacted row count, observed during the rewrite rather
    than by reading the output back: the count sits after the TTL filter,
    directly above the write, so every row it sees is a row written."""
    hot = read_hot_table(spark, path, pk_cols, order_cols)
    if ttl_seconds is not None:
        now_expr = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
        cutoff = now_expr - F.make_dt_interval(secs=F.lit(float(ttl_seconds)))
        hot = hot.filter(F.col("ts_insert_utc").cast("timestamp") >= cutoff)
    seen = Observation()
    hot = hot.observe(seen, F.count(F.lit(1)).alias("rows"))
    hot.write.mode("overwrite").parquet(compacted_path)
    return seen.get["rows"]
