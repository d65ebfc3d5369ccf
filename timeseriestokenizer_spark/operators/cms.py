"""Count-min sketch tier — mergeable point-frequency state per bucket
(Cormode & Muthukrishnan, "An improved data stream summary: the count-min
sketch and its applications", J. Algorithms 2005; merge rule from Agarwal
et al., "Mergeable Summaries", PODS 2012).

The third sketch tier alongside HLL (distinct), KLL (quantiles) and
Misra-Gries (heavy hitters): CMS answers "how often did THIS key occur"
with a one-sided guarantee — the estimate never underestimates, and
overestimates by more than ε·n with probability at most δ (depth=4,
width=256 → ε≈0.011, δ≈e⁻⁴). MG underestimates, CMS overestimates: the
pair brackets the true count from both sides for any key.

Unlike the Python-merged MG state, CMS is PURE CATALYST end to end:

* build   — each input row explodes into ``depth`` (row, col) cells
            (col = md5-derived hash of the key, salted by the row index),
            then one groupBy sum. The sketch per bucket is at most
            depth·width cells NO MATTER how many distinct keys the bucket
            saw — after the map-side partial aggregate, raw keys never
            cross the shuffle.
* merge   — cells are counters: union + groupBy sum. Commutative and
            associative, so day→month→total cascades and incremental
            refreshes are plain aggregations with no order sensitivity.
* query   — per key, the estimate is min over depth rows of its cell
            (broadcast the key list against the cell table).

Hash contract: col_j(key) = CAST(hex prefix of md5(j ':' key) AS BIGINT)
% width — the repo's cross-engine-deterministic hash (CLAUDE.md): Spark
`conv(substr(md5(x),1,8),16,10)` equals DuckDB
`CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)` digit for digit, so a
SQL oracle replays the whole sketch exactly, collisions included.

At 100 TB: the build is one exchange of fixed-width (bucket, row, col,
cnt) rows — at depth 4 × width 256 a bucket's sketch is ≤ 1024 cells ≈
16 KB; a year of hourly buckets is ~140 MB of state total. Point lookups
against a day of data become a broadcast join against kilobytes instead
of a scan. No reference counterpart (graft-new scale machinery).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 256


def _col_hash(key_col: str, j: int, width: int):
    """Row-j column index for a key — md5-prefix hash, identical digit
    sequence in Spark and DuckDB (both positive: 8 hex chars < 2^32)."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"{j}:"), F.col(key_col).cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        % int(width)
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    bucket_cols: list[str] | None = None,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Sketch cell table (bucket..., row, col, cnt) — one explode(depth)
    + one groupBy sum, all JVM-side."""
    bucket_cols = list(bucket_cols or [])
    rc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).cast("int").alias("row"),
                    _col_hash(key_col, j, width).cast("int").alias("col"),
                )
                for j in range(int(depth))
            ]
        )
    ).alias("rc")
    return (
        df.select(*bucket_cols, rc)
        .groupBy(*bucket_cols, F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(cells: DataFrame, bucket_cols: list[str] | None = None) -> DataFrame:
    """Merge sketches to a coarser bucketing (or to one global sketch when
    ``bucket_cols`` is empty): counters sum, nothing else."""
    bucket_cols = list(bucket_cols or [])
    return cells.groupBy(*bucket_cols, "row", "col").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_point_estimate(
    cells: DataFrame,
    keys: DataFrame,
    key_col: str = "k",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Point-frequency estimates for a global (bucketless) sketch:
    (key, est) with est = min over rows of the key's cell. ``keys`` should
    be distinct; the join against the ≤ depth·width-cell table broadcasts."""
    krc = keys.select(
        F.col(key_col).alias("k"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("row"),
                        _col_hash(key_col, j, width).cast("int").alias("col"),
                    )
                    for j in range(int(depth))
                ]
            )
        ).alias("rc"),
    ).select("k", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    joined = krc.join(cells, ["row", "col"], "left").select(
        "k", F.coalesce(F.col("cnt"), F.lit(0)).alias("cell_cnt")
    )
    return joined.groupBy("k").agg(
        F.min("cell_cnt").cast("long").alias("est")
    )


def cms_rollup_tier(
    signals: DataFrame,
    tier: str,
    key: str = "conv_id",
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Finest CMS tier over the rollup bucketing: per-bucket key-frequency
    sketch (bucket_ts, row, col, cnt) — the point-query companion to the
    heavy_{tier} top-k state (MG tells you WHO is hot; CMS answers "how
    often did THIS key occur" for any key, hot or not)."""
    from .rollup import bucket_ts

    return cms_build(
        signals.select(bucket_ts(tier).alias("bucket_ts"), F.col(key)),
        key,
        ["bucket_ts"],
        depth,
        width,
    )


def count_bracket(
    mg_df: DataFrame,
    cms_cells: DataFrame,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Two-sided per-key count bounds by combining the two frequency
    tiers: Misra-Gries NEVER overestimates (reported count ≥ true − err,
    and ≤ true), count-min NEVER underestimates — so for every key the MG
    tier surfaces,

        mg_count ≤ true ≤ cms_est,   gap = cms_est − mg_count

    brackets the truth from tier STATE alone (no raw re-scan), and
    gap == 0 certifies the count exactly. Reads heavy_{tier} summaries
    (bucket_ts, keys, counts, err arrays) and cms_{tier} cells sharing the
    same bucketing; pure Catalyst (posexplode + the CMS min-over-rows
    join)."""
    pairs = mg_df.select(
        "bucket_ts",
        "err",
        F.posexplode(F.arrays_zip("keys", "counts")).alias("pos", "kc"),
    ).select(
        "bucket_ts",
        F.col("kc.keys").alias("key"),
        F.col("kc.counts").cast("long").alias("mg_count"),
        F.col("err").cast("long").alias("mg_err"),
    )
    krc = pairs.select(
        "bucket_ts", "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("row"),
                        _col_hash("key", j, width).cast("int").alias("col"),
                    )
                    for j in range(int(depth))
                ]
            )
        ).alias("rc"),
    ).select(
        "bucket_ts", "key",
        F.col("rc.row").alias("row"), F.col("rc.col").alias("col"),
    )
    est = (
        krc.join(cms_cells, ["bucket_ts", "row", "col"], "left")
        .select(
            "bucket_ts", "key",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cell_cnt"),
        )
        .groupBy("bucket_ts", "key")
        .agg(F.min("cell_cnt").cast("long").alias("cms_est"))
    )
    return pairs.join(est, ["bucket_ts", "key"]).select(
        "bucket_ts", "key", "mg_count", "mg_err", "cms_est",
        (F.col("cms_est") - F.col("mg_count")).cast("long").alias("gap"),
    )
