"""Product quantization (PQ) for embedding columns — the storage/compute
compression path for ANN at corpus scale.

A float32 embedding column costs 4*d bytes per row (256 B at d=64); PQ
splits each vector into ``m`` contiguous subvectors and replaces each with
the id of its nearest subspace centroid — ``m`` small ints (m bytes at
k<=256), a 32x shrink at d=64/m=8. Search runs over the CODES via
asymmetric distance computation (ADC): per query, one (m x k) lookup table
of exact query-subvector-to-centroid squared distances, then every
candidate's approximate distance is m table lookups — no candidate vector
is ever decoded. At 100 TB this is the difference between shuffling
kilobytes and shuffling bytes per row, and the codebook (m*k*d_sub floats)
stays driver/broadcast-sized at any corpus size.

Scale shape mirrors operators/similarity.py: codebooks train driver-side on
a hash-canonical bounded sample (partition-order-insensitive), encoding is
one Arrow batch matrix multiply per partition, and ADC top-k reduces
per-partition (each Arrow batch emits only its local top-k per query) before
one global window — the shuffle carries n_queries * k rows per batch, never
the corpus.

Everything is deterministic: sampling by xxhash64 order, k-means init by a
seeded RandomState, first-min argmin tie semantics — a re-run (or a numpy
oracle) reproduces codes bit-for-bit. No reference-repo counterpart (the
reference has no vector search); cited design: Jegou et al., "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011), public knowledge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
    sample_n: int = 2000,
    seed: int = 42,
) -> np.ndarray:
    """Train ``m`` subspace codebooks of ``k`` centroids each; returns an
    (m, k, d/m) float64 array. Same bounded driver-side protocol as
    similarity.train_centroids: the sample is the ``sample_n`` lowest
    xxhash64(vector) rows (pseudo-random AND partition-order-insensitive;
    a bare limit() would be a biased prefix), Lloyd iterations use squared
    EUCLIDEAN distance (the PQ metric — subvectors are not unit-norm), an
    emptied cluster keeps its previous center, ties keep the first
    minimum. Raises if ``m`` does not divide the dimension."""
    rows = (
        df.select(F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64("_v"), "_v")
        .limit(sample_n)
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"m={m} must divide dim={d}")
    d_sub = d // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, k, d_sub), dtype=np.float64)
    for j in range(m):
        S = np.ascontiguousarray(X[:, j * d_sub : (j + 1) * d_sub])
        cent = S[rng.choice(len(S), k, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                members = S[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def _codes_schema(id_field):
    return f"{id_field} long, codes array<int>"


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to its ``m`` nearest-subspace-centroid ids.
    One Arrow matrix multiply per subspace per batch (argmin over
    ||x||² - 2x·c + ||c||²; the ||x||² term is rank-constant and dropped),
    np.argmin first-min tie semantics. Output (id_col, codes array<int>)."""
    spark = df.sparkSession
    B = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    bc = spark.sparkContext.broadcast(B)
    m, k, d_sub = B.shape

    def _enc(it):
        books = bc.value
        cnorm = (books**2).sum(axis=2)  # (m, k)
        for pdf in it:
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(X) == 0:
                yield pd.DataFrame({id_col: [], "codes": []})
                continue
            Xs = X.reshape(len(X), m, d_sub)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                scores = -2.0 * (Xs[:, j, :] @ books[j].T) + cnorm[j]
                codes[:, j] = np.argmin(scores, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].values, "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        _enc, schema=_codes_schema(id_col)
    )


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k by asymmetric distance: exact query subvectors
    against candidates' PQ codes. Per Arrow batch, one (n_q, m, n_cent)
    lookup table serves every candidate row with m gathers + a sum, and
    only the batch-local top-k per query crosses the shuffle (the same
    partial-then-global reduction as TakeOrderedAndProject); one window
    picks the global top-k. Candidate==query ids are excluded (parity with
    brute_force_topk). Ties break on candidate id via the final window's
    (adc, cand_id) order."""
    spark = codes_df.sparkSession
    B = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    m, n_cent, d_sub = B.shape
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    Qs = Q.reshape(len(Q), m, d_sub)
    # exact squared distance from each query subvector to each centroid
    lut = ((Qs[:, :, None, :] - B[None, :, :, :]) ** 2).sum(axis=3)
    bc = spark.sparkContext.broadcast((qids, lut))

    def _adc(it):
        ids, tbl = bc.value  # (n_q,), (n_q, m, n_cent)
        n_q = len(ids)
        for pdf in it:
            codes = np.array(list(pdf["codes"]), dtype=np.int64)
            if len(codes) == 0:
                continue
            cand = pdf[id_col].values.astype(np.int64)
            # dist[q, row] = sum_j tbl[q, j, codes[row, j]]
            dist = np.zeros((n_q, len(codes)), dtype=np.float64)
            for j in range(m):
                dist += tbl[:, j, :][:, codes[:, j]]
            out_q, out_c, out_d = [], [], []
            kk = min(k, len(codes))
            for qi in range(n_q):
                drow = dist[qi].copy()
                drow[cand == ids[qi]] = np.inf  # exclude self
                # batch-local top-k (argpartition) — the partial reduce
                part = np.argpartition(drow, kk - 1)[:kk]
                part = part[np.isfinite(drow[part])]  # drop the self row
                out_q.extend([ids[qi]] * len(part))
                out_c.extend(cand[part])
                out_d.extend(drow[part])
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "adc": out_d}
            )

    partial = codes_df.mapInPandas(
        _adc, schema="query_id long, cand_id long, adc double"
    )
    w = W.partitionBy("query_id").orderBy("adc", "cand_id")
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("adc", 6).alias("adc"), "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells + PQ over residuals — the standard billion-scale ANN
# index (Jegou et al. 2011 §IV). The coarse quantizer prunes the corpus to
# n_probe cells per query; PQ codes of the RESIDUAL (vector minus its cell
# centroid) carry the fine geometry in m bytes. Residuals are much smaller
# in magnitude than raw vectors, so the same k centroids quantize them far
# more tightly — that is the whole reason the composition beats flat PQ.
# Euclidean metric throughout (coarse assign AND ADC), self-consistent.
# ---------------------------------------------------------------------------


def ivfpq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
    sample_n: int = 2000,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray]:
    """Train the coarse quantizer (euclidean k-means, (n_cells, d)) and the
    residual PQ codebooks ((m, k, d/m)) on one hash-canonical bounded
    sample — both stay driver/broadcast-sized at any corpus size."""
    rows = (
        df.select(F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64("_v"), "_v")
        .limit(sample_n)
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"m={m} must divide dim={d}")
    rng = np.random.RandomState(seed)
    cent = X[rng.choice(len(X), n_cells, replace=False)].copy()
    for _ in range(n_iter):
        d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    d2 = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    resid = X - cent[np.argmin(d2, axis=1)]
    # PQ codebooks on the sample's residuals: same Lloyd loop as pq_train,
    # seeded independently so the two stages can't alias
    d_sub = d // m
    rng2 = np.random.RandomState(seed + 1)
    books = np.empty((m, k, d_sub), dtype=np.float64)
    for j in range(m):
        S = np.ascontiguousarray(resid[:, j * d_sub : (j + 1) * d_sub])
        bk = S[rng2.choice(len(S), k, replace=False)].copy()
        for _ in range(n_iter):
            dd = ((S[:, None, :] - bk[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(dd, axis=1)
            for c in range(k):
                members = S[a == c]
                if len(members):
                    bk[c] = members.mean(axis=0)
        books[j] = bk
    return cent, books


def ivfpq_encode(
    df: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, codes): euclidean-nearest coarse cell, then PQ codes of
    the residual. One Arrow pass, two matrix multiplies per batch; output
    rows are (long, int, m ints) — the only table search ever touches."""
    spark = df.sparkSession
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    B = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    bc = spark.sparkContext.broadcast((C, B))
    m, k, d_sub = B.shape

    def _enc(it):
        cents, books = bc.value
        cn = (cents**2).sum(axis=1)
        bn = (books**2).sum(axis=2)  # (m, k)
        for pdf in it:
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if len(X) == 0:
                yield pd.DataFrame({id_col: [], "cell": [], "codes": []})
                continue
            cell = np.argmin(-2.0 * (X @ cents.T) + cn, axis=1)
            R = (X - cents[cell]).reshape(len(X), m, d_sub)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                codes[:, j] = np.argmin(
                    -2.0 * (R[:, j, :] @ books[j].T) + bn[j], axis=1
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "cell": cell.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        _enc, schema=f"{id_col} long, cell int, codes array<int>"
    )


def ivfpq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k: each query probes its ``n_probe``
    euclidean-nearest cells and ranks ONLY those cells' rows by residual
    ADC — dist²(q, x) ≈ Σ_j ||(q - c_cell)_j − books[j][code_j]||², the
    exact expansion of ||q − (c_cell + recon)||². The cell filter is a
    broadcast isin (partition-prunable when the codes table is written
    partitioned by cell); per batch each probed (query, cell) pair costs
    one (m, k) LUT and candidates cost m gathers; batch-local top-k per
    query crosses the shuffle, one window ranks globally."""
    spark = encoded.sparkSession
    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64))
    B = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    m, n_cent, d_sub = B.shape
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).collect()
    qids = np.array([r["query_id"] for r in qrows], dtype=np.int64)
    Q = np.array([np.asarray(r["qv"], dtype=np.float64) for r in qrows])
    d2c = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)  # (n_q, n_cells)
    probes = np.argsort(d2c, axis=1, kind="stable")[:, : int(n_probe)]
    # cell -> [(query index, (m, k) residual LUT)]
    by_cell: dict[int, list] = {}
    for qi in range(len(qids)):
        for cell in probes[qi]:
            rq = (Q[qi] - C[cell]).reshape(m, d_sub)
            lut = ((rq[:, None, :] - B) ** 2).sum(axis=2)
            by_cell.setdefault(int(cell), []).append((qi, lut))
    bc = spark.sparkContext.broadcast((qids, by_cell))
    probed_cells = sorted(by_cell)

    def _adc(it):
        ids, cellmap = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            out_q, out_c, out_d = [], [], []
            for cell, grp in pdf.groupby("cell"):
                plist = cellmap.get(int(cell))
                if not plist:
                    continue
                codes = np.array(list(grp["codes"]), dtype=np.int64)
                cand = grp[id_col].values.astype(np.int64)
                for qi, lut in plist:
                    dist = np.zeros(len(codes), dtype=np.float64)
                    for j in range(m):
                        dist += lut[j, codes[:, j]]
                    dist[cand == ids[qi]] = np.inf
                    kk = min(k, len(codes))
                    part = np.argpartition(dist, kk - 1)[:kk]
                    part = part[np.isfinite(dist[part])]
                    out_q.extend([ids[qi]] * len(part))
                    out_c.extend(cand[part])
                    out_d.extend(dist[part])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "cand_id": out_c, "adc": out_d}
                )

    partial = (
        encoded.filter(F.col("cell").isin(probed_cells))
        .mapInPandas(_adc, schema="query_id long, cand_id long, adc double")
    )
    w = W.partitionBy("query_id").orderBy("adc", "cand_id")
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("adc", 6).alias("adc"), "rank")
    )


def exact_rerank(
    shortlist: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """The ADC+R refine step (Jegou et al. 2011 §V): re-score an ADC
    SHORTLIST (query_id, cand_id) with exact euclidean distance and keep
    the top-k. Only shortlist-sized data moves — the candidate vectors
    join by id (shortlist rows ≪ corpus rows; Spark broadcasts the
    shortlist side), queries broadcast, and the distance is a JVM
    zip_with/aggregate fold — no Python, no full-corpus scan. Output
    (query_id, cand_id, d2 r6, rank) with (d2, cand_id) tie order."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    cv = vectors.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        shortlist.select("query_id", "cand_id")
        .join(cv, "cand_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "cand_id",
            F.expr(
                "aggregate(zip_with(_cv, _qv, (a, b) ->"
                " (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
                " * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))),"
                " 0D, (acc, x) -> acc + x)"
            ).alias("d2"),
        )
    )
    w = W.partitionBy("query_id").orderBy("d2", "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "cand_id", F.round("d2", 6).alias("d2"), "rank")
    )
