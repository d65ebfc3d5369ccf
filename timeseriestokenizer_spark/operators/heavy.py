"""Mergeable heavy-hitter (frequent-items) tiers — Misra-Gries summaries
as per-bucket state, the skew-monitoring companion to the HLL distinct
and KLL quantile tiers.

"Which conversations dominated this hour?" does not cascade from counts
(top-k per day is not a function of top-k per hour alone), and an exact
per-key count at every tier re-shuffles raw keys per tier. The
Misra-Gries summary (Misra & Gries 1982; merge rule from Agarwal et al.,
"Mergeable Summaries", PODS 2012) keeps at most k counters per bucket
with a deterministic guarantee: every reported count UNDERESTIMATES the
true count by at most err (tracked explicitly in the state), and every
key with true frequency > n/(k+1) is guaranteed present. Coarser tiers —
and incremental day refreshes — merge summaries, never raw keys.

EXACT SMALL REGIME (the contract-provable one, same shape as
distinct_rollup / kll_p95_cascade): while a bucket sees <= k distinct
keys, no counter is ever evicted, err stays 0, and the summary IS the
exact per-key count — merges of exact summaries stay exact. The sf0.01
contract row lives here; the eviction-regime bound is pytest-pinned.

Determinism: a pairwise MG merge-then-shrink is order-dependent; the
tier merge instead SUMS all collected summaries first (pure commutative
addition) and shrinks ONCE, so the output state is a pure function of
the multiset of inputs — shuffle arrival order cannot leak in.

This tier FEEDS THE SALTING DECISION (operators/salting.py): hot_keys()
turns a bucket's summary into the set of keys whose lower-bound
frequency crosses a threshold — exactly the keys whose groups need a
salt to keep post-shuffle state bounded.

Spark shape (mirrors kll.py): mapInPandas partial summaries per Arrow
batch -> groupBy(bucket) + collect_list + mapInPandas merge. Only
(<= k)-entry summaries shuffle; raw keys never cross the wire after the
map side. Reference parity: the reference has no frequent-items state at
all — graft-new scale machinery.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
import pyspark.sql.types as T

from .rollup import bucket_ts

DEFAULT_MG_K = 256


def _shrink(counts: dict, k: int) -> tuple[dict, int]:
    """Misra-Gries shrink: if more than k counters survive, subtract the
    (k+1)-th largest count from ALL and drop the non-positive. Returns
    (shrunk counts, subtracted offset d). Pure function of the counts
    mapping — iteration order never matters."""
    if len(counts) <= k:
        return counts, 0
    d = sorted(counts.values(), reverse=True)[k]
    return {key: c - d for key, c in counts.items() if c > d}, d


MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("bucket_ts", T.TimestampType()),
        T.StructField("n", T.LongType()),
        T.StructField("err", T.LongType()),
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def _emit(out, b, n, err, counts):
    # canonical storage order: count desc, key asc — deterministic and
    # the natural read order for top-k
    items = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    out["bucket_ts"].append(b)
    out["n"].append(n)
    out["err"].append(err)
    out["keys"].append([k for k, _ in items])
    out["counts"].append([c for _, c in items])


def heavy_rollup_tier(
    df: DataFrame,
    tier: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    k: int = DEFAULT_MG_K,
) -> DataFrame:
    """Finest heavy-hitter tier: (bucket_ts, n, err, keys, counts).
    Phase 1 folds each Arrow batch into one partial summary per bucket
    (exact value_counts per batch, shrunk to k); phase 2 merges partials
    per bucket. A hot minute with 10^8 rows crosses the shuffle as
    (#map-tasks) rows of <= k counters."""
    kk = int(k)

    def _partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {"bucket_ts": [], "n": [], "err": [], "keys": [], "counts": []}
            for b, grp in pdf.groupby("bucket_ts", sort=True):
                vc = grp["k"].value_counts()
                counts, d = _shrink({str(i): int(c) for i, c in vc.items()}, kk)
                _emit(out, b, int(len(grp)), d, counts)
            yield pd.DataFrame(out)

    partials = (
        df.filter(F.col(key_col).isNotNull())
        .select(
            bucket_ts(tier, ts_col).alias("bucket_ts"),
            F.col(key_col).cast("string").alias("k"),
        )
        .mapInPandas(_partials, MG_STATE_SCHEMA)
    )
    return heavy_merge(partials, kk)


def heavy_merge(state: DataFrame, k: int = DEFAULT_MG_K) -> DataFrame:
    """Merge summary rows per bucket_ts (the cascade, refresh and stream
    path alike): SUM all collected summaries (commutative — arrival
    order cannot matter), then shrink once; err accumulates the parts'
    errs plus the new subtraction, preserving the invariant
    true_count in [est, est + err]."""

    def _merge(batches):
        for pdf in batches:
            out = {"bucket_ts": [], "n": [], "err": [], "keys": [], "counts": []}
            for b, parts in zip(pdf["bucket_ts"], pdf["parts"]):
                total: dict[str, int] = {}
                n = 0
                err = 0
                for part in parts:
                    n += int(part["n"])
                    err += int(part["err"])
                    for key, c in zip(part["keys"], part["counts"]):
                        total[key] = total.get(key, 0) + int(c)
                counts, d = _shrink(total, k)
                _emit(out, b, n, err + d, counts)
            yield pd.DataFrame(out)

    return (
        state.groupBy("bucket_ts")
        .agg(F.collect_list(F.struct("n", "err", "keys", "counts")).alias("parts"))
        .mapInPandas(_merge, MG_STATE_SCHEMA)
    )


def heavy_topk(mg_df: DataFrame, topn: int = 10) -> DataFrame:
    """Read-time top-N per bucket from the summary state — PURE CATALYST:
    arrays_zip + posexplode the stored counters, rank with a
    deterministic (count desc, key asc) window, keep rank <= topn. In the
    exact regime (err = 0) this is the true top-N."""
    from pyspark.sql import Window as W

    pairs = mg_df.select(
        "bucket_ts",
        "n",
        "err",
        F.posexplode(F.arrays_zip("keys", "counts")).alias("pos", "kc"),
    ).select(
        "bucket_ts",
        "n",
        "err",
        F.col("kc.keys").alias("key"),
        F.col("kc.counts").alias("est_count"),
    )
    w = W.partitionBy("bucket_ts").orderBy(F.desc("est_count"), F.asc("key"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(topn))
        .select("bucket_ts", "key", "est_count", "rank", "n", "err")
    )


def hot_keys(mg_df: DataFrame, min_frac: float = 0.05) -> DataFrame:
    """Keys whose LOWER-BOUND frequency (est / n — the summary count
    never overestimates... it underestimates by <= err) reaches
    ``min_frac`` of the bucket's rows: the candidates that need a salt
    (operators/salting.with_salt) before a grouped-map UDF or a join.
    Guaranteed-complete in the MG sense: any key with true frequency
    > min_frac + err/n is certainly reported."""
    pairs = mg_df.select(
        "bucket_ts",
        "n",
        F.explode(F.arrays_zip("keys", "counts")).alias("kc"),
    ).select(
        "bucket_ts",
        "n",
        F.col("kc.keys").alias("key"),
        F.col("kc.counts").alias("est_count"),
    )
    return pairs.filter(
        F.col("est_count") >= F.lit(float(min_frac)) * F.col("n")
    ).select("bucket_ts", "key", "est_count", "n")
