"""Pipeline driver: the reference's orchestrated flows without Airflow
(SURVEY M5 / §2.11 L1-L5).

The reference sequences [delete window -> verify deletion -> federated
insert -> compute indicators per symbol via driver loop -> write wrk ->
delete prod -> promote wrk -> truncate wrk] across Airflow/Trino/Spark
(D_Load_crypto_candles_day.py:128-138, D_Create_indicator_day.py:374-382).

Here the whole flow is one Spark lineage + one dynamic-partition
overwrite: compute the indicator frame over the lookback window, filter
to the update window, overwrite exactly those partitions. The wrk
staging twin disappears (SURVEY L4: "wrk layer collapses"); idempotence
comes from partition overwrite, not delete sweeps.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.indicators import (
    indicator_frame,
    n_multiple_rescale,
)
from ..quality.checks import CheckResult, check_not_null, check_unique
from ..sources.writers import add_partition_cols, reload_window


@dataclass
class PipelineReport:
    rows_written: int  # rows this run wrote, observed during the write
    checks: list[CheckResult] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(c.passed for c in self.checks)


def run_indicator_mart(
    spark: SparkSession,
    candles: DataFrame,
    mart_path: str,
    *,
    lookback_days: int | None = None,
    update_days: int | None = None,
    small_ids: list[str] | None = None,
) -> PipelineReport:
    """Candles -> full indicator mart, idempotent window reload.

    - ``lookback_days``: indicator computation window (reference: 3
      months, D_Create_indicator_day.py:87) — indicators near the window
      start warm up exactly as the reference's bounded scan does.
    - ``update_days``: trailing window actually (re)written (reference:
      1 month, :90).
    - ``small_ids``: W13 N_multiple rescale targets.

    Both windows end at the input's ``max(dt)``, aggregated once and
    carried through the indicator stages as ``_mx``.

    The write itself observes its row count and dt bounds; the checks
    then read back only the partitions inside those bounds, so a
    reload never re-scans the mart's history.
    """
    if lookback_days is not None or update_days is not None:
        candles = candles.join(F.broadcast(candles.agg(F.max("dt").alias("_mx"))))
    if lookback_days is not None:
        candles = candles.filter(F.col("dt") >= F.date_sub("_mx", lookback_days))
    ind = indicator_frame(n_multiple_rescale(candles, small_ids or []))
    if update_days is not None:
        ind = ind.filter(F.col("dt") >= F.date_sub("_mx", update_days))

    out = add_partition_cols(
        ind.drop("_mx").withColumn("ts_create_utc", F.col("dt").cast("timestamp"))
    )
    seen = Observation()
    reload_window(
        out.observe(
            seen, F.count(F.lit(1)).alias("rows"),
            F.min("dt").alias("lo"), F.max("dt").alias("hi"),
        ),
        mart_path,
    )
    m = seen.get
    # year/month/day derive from dt, so an (id, dt) duplicate can only
    # sit inside one partition: checking the rewritten ones is complete.
    # The written schema is known, so the read infers none (no job).
    written = spark.read.schema(out.schema).parquet(mart_path).filter(
        F.make_date("year", "month", "day").between(m["lo"], m["hi"])
    )
    checks = [
        check_unique(written, ["id", "dt"]),
        check_not_null(written, ["id", "dt", "close"]),
    ]
    return PipelineReport(rows_written=m["rows"], checks=checks)
