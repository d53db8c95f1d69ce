"""Data-quality assertion utilities (SURVEY §5 — the reference enforces
correctness operationally; these are its checks as engine primitives).

Each check returns a small result record instead of raising, so a
pipeline driver can decide warn-vs-fail (the reference does exactly
that around market calendars: cassandra_operation.py:23-69).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    passed: bool
    detail: str
    # warn-vs-fail is policy, not mechanism (reference routes the same
    # probe to WARNING or ERROR notifications: cassandra_operation.py:52-69)
    severity: str = field(default="error")


def check_unique(df: DataFrame, cols: list[str]) -> CheckResult:
    """Uniqueness of a key combination (reference: dbt
    unique_combination_of_columns, models.yml:4-10)."""
    dup = (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    return CheckResult(
        "unique:" + ",".join(cols),
        not dup,
        f"first duplicate key: {dup[0].asDict() if dup else None}",
    )


def check_freshness(
    df: DataFrame, dt_col: str, sentinel_filter: Column, expected_dt
) -> CheckResult:
    """Sentinel-row freshness probe (reference:
    cassandra_operation.py:46-50 — previous-day row must exist for
    BTC_USDT/^NDX)."""
    n = df.filter(sentinel_filter & (F.col(dt_col) == F.lit(expected_dt))).count()
    return CheckResult("freshness", n > 0, f"rows at {expected_dt}: {n}")


def check_freshness_policy(
    df: DataFrame,
    dt_col: str,
    sentinel_filter: Column,
    expected_dt,
    market_open: bool | None = None,
) -> CheckResult:
    """Calendar-gated freshness: the probe of :func:`check_freshness`
    routed to warn-vs-fail severity by whether the market traded that
    day (reference: cassandra_operation.py:52-69 + utils.is_market_open,
    utils.py:74-88).

    Reference policy, mirrored exactly: a missing sentinel on a day the
    market WAS open is a WARNING (late publication is routine); missing
    on a closed-market day — when the carry-forward job should have
    copied the prior row — or with no calendar at all is an ERROR.
    The market calendar itself is out-of-engine (SURVEY §1.1): callers
    pass ``market_open`` computed from their calendar source.
    """
    base = check_freshness(df, dt_col, sentinel_filter, expected_dt)
    if base.passed:
        return CheckResult("freshness_policy", True, base.detail, "none")
    severity = "warning" if market_open else "error"
    return CheckResult("freshness_policy", False, base.detail, severity)


def check_deletion(df: DataFrame, predicate: Column) -> CheckResult:
    """Post-delete emptiness (reference:
    trino/D_Load_crypto_candles_day_002.sql:1-6)."""
    n = df.filter(predicate).count()
    return CheckResult("deletion", n == 0, f"matching rows: {n}")


def check_row_count_parity(a: DataFrame, b: DataFrame) -> CheckResult:
    """Exact row-count parity between two tables (reference:
    cross_use_test.sql count model)."""
    na, nb = a.count(), b.count()
    return CheckResult("row_count_parity", na == nb, f"{na} vs {nb}")


def check_not_null(df: DataFrame, cols: list[str]) -> CheckResult:
    """No-null guard on required columns (reference drops None rows on
    ingest: yahoofinancials_operation.py:57)."""
    conds = [F.col(c).isNull() for c in cols]
    pred = conds[0]
    for c in conds[1:]:
        pred = pred | c
    n = df.filter(pred).count()
    return CheckResult("not_null:" + ",".join(cols), n == 0, f"null rows: {n}")


def _parse_offset(off) -> dict[str, int] | None:
    """Normalize one Structured Streaming offset to {unit: position}.

    Real progress reports carry offsets as JSON, not bare ints:
    Kafka    -> {"topic": {"0": 123, "1": 456}}   (per-partition)
    File     -> {"logOffset": 3}
    Rate     -> 7  (plain number)
    Accepts any of those as a dict, a JSON string, or a number; returns
    None for anything unparseable (callers must treat that as a FAILED
    check — a monitor that can't read its input must not report lag 0).
    """
    if off is None:
        return None
    if isinstance(off, str):
        try:
            off = json.loads(off)
        except (ValueError, TypeError):
            return None
    if isinstance(off, bool):
        return None
    if isinstance(off, (int, float)):
        return {"_offset": int(off)}
    if isinstance(off, dict):
        flat: dict[str, int] = {}
        for k, v in off.items():
            if isinstance(v, dict):  # Kafka: topic -> {partition: offset}
                for part, pos in v.items():
                    if not isinstance(pos, (int, float)) or isinstance(pos, bool):
                        return None
                    flat[f"{k}-{part}"] = int(pos)
            elif isinstance(v, (int, float)) and not isinstance(v, bool):
                flat[k] = int(v)
            else:
                return None
        return flat or None
    return None


def progress_dict(progress) -> dict:
    """A query progress as a plain dict.  A live PySpark 4
    ``StreamingQueryProgress`` stores each source offset as ``str()`` of
    the JVM value (a Python repr, not JSON), so its compact ``.json``
    form is read instead when it has one; offsets then come back parsed."""
    if isinstance(getattr(progress, "json", None), str):
        return json.loads(progress.json)
    return progress


def offset_lags(progress: dict) -> dict[str, int] | None:
    """Per-partition offset deltas (endOffset - startOffset) from one
    query progress (see ``progress_dict``), mirroring the reference's
    per-partition offset_diff map (check_offset_diff.py:39-45).
    None = unparseable."""
    progress = progress_dict(progress)
    lags: dict[str, int] = {}
    sources = progress.get("sources")
    if not sources:
        return None
    for i, s in enumerate(sources):
        start = _parse_offset(s.get("startOffset"))
        end = _parse_offset(s.get("endOffset"))
        if start is None or end is None:
            return None
        for unit, pos in end.items():
            lags[f"src{i}:{unit}"] = pos - start.get(unit, 0)
    return lags


def check_offset_lag(progress: dict, max_lag: int = 1000) -> CheckResult:
    """Streaming offset-lag alarm from a progress summary (reference:
    check_offset_diff.py:20,48-69 — ALLOWED_OFFSET_DIFF=1000).

    Offsets arrive as JSON objects (Kafka: topic->partition->offset;
    file source: {"logOffset": N}); lag is the max per-partition delta.
    Unparseable offsets FAIL the check rather than passing with lag 0.
    """
    lags = offset_lags(progress)
    if lags is None:
        return CheckResult("offset_lag", False, "unparseable offsets in progress")
    lag = max(lags.values(), default=0)
    return CheckResult("offset_lag", lag <= max_lag, f"max lag: {lag} ({lags})")


def check_offset_lag_trend(
    current: dict[str, int] | None,
    previous: dict[str, int] | None,
) -> CheckResult:
    """Lag-GROWTH alarm: fail only where a partition's lag exceeds
    1000 AND grew since the previous snapshot — a big-but-
    draining backlog is healthy catch-up, a big-and-growing one is a
    stuck consumer (reference: check_offset_diff.py:56-69,
    ``curr > pre and ALLOWED < curr``). First run (no previous) passes.
    """
    if current is None:
        return CheckResult("offset_lag_trend", False, "unparseable current offsets")
    if previous is None:
        return CheckResult("offset_lag_trend", True, "no previous snapshot (first run)")
    bad = {
        p: (previous.get(p, 0), lag)
        for p, lag in current.items()
        if lag > 1000 and lag > previous.get(p, 0)
    }
    return CheckResult(
        "offset_lag_trend", not bad, f"growing over threshold: {bad or None}"
    )
