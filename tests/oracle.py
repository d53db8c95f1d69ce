"""The one oracle comparator: run a registered Spark query and its DuckDB
oracle on the same parquet tables and judge them the way the round
driver does.  Tier-1 parity, ``tools/driver_replay.py`` and
``tools/hostile_replay.py`` all compare through ``compare_query``.

The driver round-trips BOTH results through pandas
(``DataFrame.toPandas()`` / duckdb ``.df()``), sorts the frame, and
hashes ``repr(round(v, 9))`` per value.  Round 4 proved a raw-row
comparison is blind to hazards that only appear after the pandas hop:

- DuckDB HUGEINT (e.g. un-cast windowed ``sum(BIGINT)``) becomes
  float64 in pandas, so the driver hashes ``5248.0`` against Spark's
  ``5248`` and every row mismatches (q154, r4).
- list/array output columns make ``pandas.sort_values`` throw
  ``TypeError: unhashable type`` and the driver records ERR (q157, r4).

Both are reproduced here: results are fetched as pandas frames, a sort
probe raises exactly where the driver would ERR, and ``norm`` works on
pandas-level values (numpy scalars, ``datetime.date`` vs midnight
``Timestamp``) rather than raw rows.

Date columns arrive as ``datetime.date`` from Spark (Arrow) but as
midnight ``datetime64`` from DuckDB; driver-green history (every
indicator query emits a ``dt`` date) shows the driver treats these as
equal, so ``norm`` folds a midnight timestamp onto the date string.
"""

from __future__ import annotations

import json
import math
import time
from collections import Counter

import duckdb
import numpy as np

from crypto_prediction_etl_spark.sources.readers import TESTDATA_TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def norm(v) -> str:
    """Canonical string for one pandas-level value."""
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "True" if v else "False"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(round(f, 9))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if hasattr(v, "isoformat"):
        # Spark NULL date -> None (handled above); DuckDB NULL date ->
        # NaT inside a datetime64 column.  q25 is driver-green with
        # null dates on both sides, so the driver unifies them.
        if v != v or str(v) == "NaT":
            return "NULL"
        s = v.isoformat()
        # Spark DATE -> datetime.date('2024-01-05'); DuckDB DATE ->
        # Timestamp('2024-01-05 00:00:00').  Fold midnight onto date.
        if s.endswith("T00:00:00"):
            return s[: -len("T00:00:00")]
        return s
    if isinstance(v, (list, np.ndarray)):
        # Unreachable when the sort probe ran first (it raises), but be
        # explicit: containers are a driver hazard, never canonical.
        raise TypeError(f"unsortable container value in result: {type(v)}")
    return str(v)


def frame_lines(pdf) -> list[str]:
    """Sorted normalized row strings over the frame's sorted columns.

    Equal lists are what the driver's order-insensitive md5 stands for.
    The frame sort runs first so it raises exactly where the driver's
    would ERR."""
    cols = sorted(pdf.columns)
    sub = pdf[cols]
    sub.sort_values(by=cols)
    return sorted(
        "|".join(norm(v) for v in row)
        for row in sub.itertuples(index=False, name=None)
    )


def compare_frames(spark_pdf, duck_pdf) -> tuple[str, str]:
    """(verdict, detail): verdict in PASS/FAIL/ERR, driver-faithful.

    Order of checks mirrors the driver: schema (column names), row
    count, sortability (ERR), then values.
    """
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        return "FAIL", f"cols spark={scols} duck={dcols}"
    if len(spark_pdf) != len(duck_pdf):
        return "FAIL", f"rows spark={len(spark_pdf)} duck={len(duck_pdf)}"
    try:
        sl, dl = frame_lines(spark_pdf), frame_lines(duck_pdf)
    except Exception as exc:  # the driver records this as ERR
        return "ERR", f"{type(exc).__name__}: {exc}"
    if sl != dl:
        s, d = Counter(sl), Counter(dl)
        return "FAIL", (
            f"hash mismatch; spark-only: {sorted(s - d)[:3]}; "
            f"duck-only: {sorted(d - s)[:3]}"
        )
    return "PASS", ""


def compare_query(df, con, name: str) -> tuple[str, str, int]:
    """(verdict, detail, Spark row count) for `df`, the built frame of
    registered query `name`; `con` is a ``duckdb_conn`` on the same
    sf_dir."""
    from crypto_prediction_etl_spark.plans.registry import ORACLES

    spdf = df.toPandas()
    dpdf = con.execute(ORACLES[name]).df()
    return (*compare_frames(spdf, dpdf), len(spdf))


def replay(spark, sf_dir: str, names, **tags) -> int:
    """Compare every query in `names`, print one verdict line each and a
    closing JSON line that leads with `tags` (``metric``, the hostile
    axes); returns the process exit code."""
    from crypto_prediction_etl_spark.plans.registry import QUERIES

    con = duckdb_conn(sf_dir)
    failed: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            df = QUERIES[name](spark, sf_dir)
            verdict, detail, rows = compare_query(df, con, name)
        except Exception as exc:  # noqa: BLE001 - the driver records ERR
            verdict, detail, rows = "ERR", f"{type(exc).__name__}: {exc}", -1
        if verdict != "PASS":
            failed.append(name)
        extra = f"  [{detail}]" if detail else ""
        print(f"{verdict} {name}: {rows} rows ({time.time() - t0:.1f}s){extra}", flush=True)
    con.close()
    n_fail = len(failed)
    print(f"\n{len(names) - n_fail} pass, {n_fail} fail, {len(names)} queries")
    # Machine-parsable close-claim line (VERDICT r7 item 8): rounds diff
    # this mechanically instead of grepping prose logs.
    print(json.dumps({
        **tags,
        "pass": len(names) - n_fail,
        "fail": n_fail,
        "total": len(names),
        "failed": failed,
        "sf_dir": sf_dir,
    }))
    return 1 if failed else 0
