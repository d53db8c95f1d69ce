"""Cross-engine-portable scalar expressions.

The correctness gate hashes query output values, so every float column
must be bit-identical between the Spark plan and the DuckDB oracle.
Native ``round`` differs between engines on exact decimal-boundary
doubles (Spark rounds the shortest decimal representation HALF_UP;
DuckDB rounds the raw binary double), so both sides use the same
explicit expression instead:

    floor(x * 10^d + 0.5001) / 10^d

IEEE multiply/add/floor/divide are exactly specified, so identical
input doubles give identical output doubles in any engine. The 1e-4
epsilon shifts the decision point off the exact .5 decimal boundary:
decimal-structured data (prices with 2 decimals, their sums and small
averages) lands exactly ON .5 grid boundaries systematically, where
each engine's accumulation-order noise would flip the floor at random.
The shifted boundary (frac = 0.4999) is not structurally favored by
decimal data, so only ~1e-4 of the grid remains at risk, and only for
values the engines actually compute differently (~1e-10 relative).

Same trick for hashes: both engines have md5 over UTF-8 bytes, so a
64-bit portable hash is "take 15 hex digits of md5, parse base-16"
(15 hex digits = 60 bits, fits signed int64 exactly).
"""

from __future__ import annotations

import hashlib
import sys

from pyspark import cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F

# The mapInPandas kernels call py_hash64 on the Python workers, which
# need not be able to import this package: ship this module's functions
# to them by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def prnd(col: Column | str, digits: int) -> Column:
    """Portable round-half-up(ish): floor(x*10^d + 0.5001)/10^d."""
    if isinstance(col, str):
        col = F.col(col)
    scale = F.lit(float(10**digits))
    return F.floor(col * scale + F.lit(0.5001)) / scale


def o_rnd(expr: str, digits: int) -> str:
    """DuckDB SQL text equivalent of :func:`prnd`."""
    scale = float(10**digits)
    return f"floor(({expr}) * {scale} + 0.5001) / {scale}"


def hash64(col: Column | str) -> Column:
    """Portable 60-bit hash of a string column via md5 hex digits."""
    if isinstance(col, str):
        col = F.col(col)
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def o_hash64(expr: str) -> str:
    """DuckDB SQL text equivalent of :func:`hash64`."""
    return f"CAST(('0x' || substr(md5(CAST(({expr}) AS VARCHAR)), 1, 15)) AS BIGINT)"


def py_hash64(s: str) -> int:
    """Python equivalent of :func:`hash64`, for the mapInPandas kernels."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
