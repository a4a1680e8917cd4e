"""Mergeable frequency sketches. Count-min here; the HLL cardinality
tier lives in queries/advanced.py (approx_count_distinct).

The hash family is md5-derived (the repo's portable-RNG contract), so
unlike typical sketch implementations the ENTIRE data structure is
bit-reproducible in any engine with md5 — the DuckDB driver oracle
replays sketch construction and estimation exactly, turning the usual
"behavioral, error-bound" sketch check into an exact hash match. Only
the error ANALYSIS (ε = e/width, δ = e^-depth) stays probabilistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gpu_bdb_spark.functions import md5_long


def _bucket(key, d: int, width: int):
    """Row d's bucket for a string key: `md5_long('d:key')` mod width."""
    return F.pmod(md5_long(F.concat_ws(":", F.lit(str(d)), key)),
                  F.lit(int(width)))


def cms_build(
    df: DataFrame,
    key,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a count-min sketch of the (string) key expression: a
    (d, b, c) frame of depth×width counters.

    Scale: the input expands ×depth (a handful of rows), then ONE hash
    aggregate with map-side partials collapses everything to ≤
    depth·width rows — constant size regardless of input cardinality.
    That bound is the point of the sketch: a heavy-hitter estimate over
    a key of unbounded cardinality (URLs, n-grams) with fixed memory,
    mergeable across shards/streams by counter addition.
    """
    rows = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).cast("int").alias("d"),
                    _bucket(key, d, width).alias("b"),
                )
                for d in range(int(depth))
            ])
        ).alias("cell")
    )
    return rows.select("cell.d", "cell.b").groupBy("d", "b").agg(
        F.count(F.lit(1)).alias("c"))


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate counts for candidate keys from a built sketch:
    est(k) = min over rows d of counter[d][h_d(k)] (never an
    underestimate). The sketch is ≤ depth·width rows, so it broadcasts;
    candidates stream."""
    ch = candidates.select(F.col(key_col).alias("key")).select(
        "key",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).cast("int").alias("d"),
                    _bucket(F.col("key"), d, width).alias("b"),
                )
                for d in range(int(depth))
            ])
        ).alias("cell"),
    ).select("key", "cell.d", "cell.b")
    return (
        ch.join(F.broadcast(sketch), ["d", "b"])
        .groupBy("key")
        .agg(F.min("c").alias("est_cnt"))
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    key,
    k: int = 256,
) -> DataFrame:
    """Per-group distinct-count estimate from a K-Minimum-Values sketch
    (Bar-Yossef et al., RANDOM'02) over an md5-portable hash — like
    `cms_build`, the whole sketch is deterministic and engine-portable,
    so the DuckDB oracle replays construction AND estimation exactly
    and the usual error-bound check becomes an exact hash match.

    Estimator: hash keys uniformly into [0, 16^12); if h_(k) is the
    k-th smallest DISTINCT hash in a group, est = (k-1)·16^12 / h_(k)
    (the classical unbiased KMV form); groups with fewer than k
    distinct hashes report their exact distinct count. Relative error
    ~ 1/sqrt(k-2).

    Layout: one narrow (group, hash) projection, a per-group dense_rank
    (duplicate hashes collapse — no distinct pre-pass, ONE exchange),
    filter to rank ≤ k, tiny per-group aggregate. The rank window sorts
    each group's hashes, so this is a PORTABILITY tier, not a memory
    saver — when only the estimate matters and cross-engine replay
    doesn't, approx_count_distinct (HLL, constant memory) is the
    native path; KMV's value is that the sketch itself is a verifiable,
    mergeable artifact (union of two groups' sketches = k smallest of
    the concatenation).

    Returns (group_col, approx_distinct DOUBLE round-6).
    """
    from pyspark.sql import Window

    k = int(k)
    h = md5_long(F.concat_ws(":", F.lit("kmv"), key.cast("string")), 1, 12)
    ranked = df.select(F.col(group_col), h.alias("_h")).withColumn(
        "_dr",
        F.dense_rank().over(
            Window.partitionBy(group_col).orderBy("_h")))
    est = F.when(
        F.col("_cnt") < k, F.col("_cnt").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(16 ** 12))
        / F.col("_hk").cast("double"))
    return (
        ranked.filter(F.col("_dr") <= k)
        .groupBy(group_col)
        .agg(F.max("_dr").cast("long").alias("_cnt"),
             F.max("_h").alias("_hk"))
        .select(F.col(group_col),
                F.round(est, 6).alias("approx_distinct"))
    )
