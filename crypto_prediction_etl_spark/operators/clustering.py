"""Iterative clustering over embedding columns (k-means).

The iterative-algorithm pattern for this engine: per-iteration work is
fully declarative (distance expressions + one groupBy), and only the
k x dim centroid matrix crosses the driver boundary between iterations
— the canonical structure for EM-style algorithms on Spark at any
scale (assignment is a map-only pass; the update is one shuffle of
partial per-cluster sums).

Deterministic by construction: centroids initialize from the k
smallest ids, distance ties break toward the lower cluster index, and
elementwise centroid means are (grid-rounded sums) / counts.

The per-(cluster, dim) sums are snapped to the portable 1e-6 rounding
grid before the divide: a float sum over a shuffle is order-dependent
at ~1e-13 relative, which would make centroids — and therefore every
downstream distance — differ bit-wise between runs/engines. On the
grid the drift vanishes, so a DuckDB replay of the same unrolled
iterations (q55's oracle) reproduces the centroids EXACTLY and the
whole iterative algorithm becomes hash-checkable cross-engine.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sq_dist(vec_col: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid — JVM-side fold."""
    lit_c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec_col, lit_c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_clusters(vecs: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(id, cluster, sq_dist): nearest centroid, ties to lowest index."""
    dists = F.array(*[_sq_dist(F.col("v"), c) for c in centroids])
    # array_position returns the FIRST index of the minimum -> low-index ties
    cluster = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return vecs.select(
        F.col("vec_id"),
        F.col("v"),
        cluster.alias("cluster"),
        F.array_min(dists).alias("sq_dist"),
    )


def kmeans(
    vecs: DataFrame,
    k: int = 4,
    iters: int = 5,
) -> tuple[DataFrame, list[float]]:
    """Lloyd's k-means: returns (assignments, inertia_per_iteration).

    Init: the k vectors with smallest ids (deterministic, no RNG).
    Empty clusters keep their previous centroid.
    """
    dim = len(vecs.select("v").first()[0])
    seed_rows = vecs.orderBy("vec_id").limit(k).collect()
    centroids = [[float(x) for x in r["v"]] for r in seed_rows]

    inertia_history: list[float] = []
    for _ in range(iters):
        assigned = assign_clusters(vecs, centroids)
        # elementwise mean per cluster AND inertia in ONE action: explode
        # to (cluster, pos, val) rows that carry sq_dist, one groupBy —
        # the only shuffle AND only distance pass of the iteration
        # (sq_dist contributes at pos 0 only, so its per-cluster sum is
        # counted once, not dim times).
        stats = (
            assigned.select(
                "cluster", "sq_dist", F.posexplode("v").alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum("val").alias("s"),
                F.count("*").alias("n"),
                F.sum(F.when(F.col("pos") == 0, F.col("sq_dist"))).alias("in0"),
            )
            .collect()
        )
        inertia_history.append(float(sum(r.in0 or 0.0 for r in stats)))
        new_centroids = [list(c) for c in centroids]
        acc: dict[int, list[float]] = {}
        cnt: dict[int, int] = {}
        for r in stats:
            # portable-grid snap (same IEEE ops as functions.portable.prnd)
            acc.setdefault(r.cluster, [0.0] * dim)[r.pos] = (
                math.floor(r.s * 1e6 + 0.5001) / 1e6
            )
            cnt[r.cluster] = r.n
        for c, sums in acc.items():
            new_centroids[c] = [s / cnt[c] for s in sums]
        centroids = new_centroids

    return assign_clusters(vecs, centroids), inertia_history
