"""Quantize / dequantize: scaled floats <-> token bins.

Exact reference semantics (utils/discretisize.py:8-32, 246-279):

* edges   = linspace(min, max, n_bins)            (n_bins EDGES)
* symbol  = np.digitize(x, edges[1:], right=True) + 1   (in-range → 1..n_bins-1)
* decode  = bin centers, with the reference's extrapolation rules for s == 0
            and s >= len(edges), NaN otherwise.

The fitted artifact is one table, ``fit_edges_df`` (series_id, edges), and
`quantize_with_edges` / `dequantize_with_edges` join it back in and compute
in Catalyst — no driver collect, no Python in the plan. A series with no
fitted row drops out of both (inner join).

`fit_edges` collects that table into a dict for the broadcast-edges pandas
UDFs (`make_quantize_udf` / `make_dequantize_udf`), which raise ``KeyError``
for a series the dict lacks. The `quantize_tokens` / `dequantize_recon`
registry rows still run that twin.

A pure-SQL expression twin (`quantize_sql_expr`) exists for oracle
cross-checks: symbol = 1 + count of edges[1:] strictly below x, which is
bit-identical to np.digitize(..., right=True) + 1 when the edges are built
with the same IEEE ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..oracle import numpy_oracle as O


def fit_edges(
    df: DataFrame, key: str, value_col: str, n_bins: int, kind: str = "equal_width",
    accuracy: int = 100000,
) -> dict[str, np.ndarray]:
    """``fit_edges_df`` collected to ``{series_id: edges}`` for the
    broadcast-edges UDFs (one driver collect; the table is the artifact)."""
    return {
        r["series_id"]: np.asarray(r["edges"], dtype=np.float64)
        for r in fit_edges_df(df, key, value_col, n_bins, kind, accuracy)
        .select("series_id", "edges")
        .collect()
    }


_EQUAL_WIDTH_BINS = "equal_width_bins"


def _equal_width_bins(edges_df: DataFrame) -> int | None:
    """n_bins of an equal-width ``fit_edges_df`` table when its closed form
    applies, else None (the consumer falls back to the generic array fold).
    Equal-width edges are a pure function of (lo, hi, n_bins), so a
    consumer that knows n_bins at plan time evaluates single edges inline —
    same IEEE ops, no array through the join. The count is metadata of the
    ``edges`` column, which survives filter, cache, select and parquet; the
    ``lo``/``hi`` extents must still be there."""
    fields = {f.name: f for f in edges_df.schema.fields}
    if "edges" not in fields or not {"lo", "hi"} <= fields.keys():
        return None
    return fields["edges"].metadata.get(_EQUAL_WIDTH_BINS)


def fit_edges_df(
    df: DataFrame, key: str, value_col: str, n_bins: int, kind: str = "equal_width",
    accuracy: int = 100000,
) -> DataFrame:
    """Per-series bin edges as a TABLE ``(series_id, edges array<double>)``:
    no driver collect, so per-conversation series counts (10^6+) never
    concentrate on the driver. equal_width edges use the Catalyst linspace
    twin (bit-identical to np.linspace — the same
    ``start + k*((stop-start)/div)`` with the last edge pinned to stop);
    quantile uses percentile_approx; adaptive runs the allocation loop
    distributed inside applyInPandas (one task per series, never collected).

    ``accuracy``: percentile_approx's rank-error knob — each returned edge
    sits within n/accuracy RANKS of the exact quantile (Greenwald-Khanna
    style guarantee; memory grows with the knob). The VALUE error this
    implies grows with tail skew — on a heavy tail, one rank step can move
    the value a lot — so skewed corpora wanting tight tail edges should
    raise it (A/B measured in tests/test_quantile_accuracy.py and
    summarized in BENCH/BASELINE.md)."""
    n1 = n_bins - 1
    if kind == "equal_width":
        ext = df.groupBy(F.col(key).alias("series_id")).agg(
            F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
        )
        # the bin count rides in the edges column's metadata for the
        # closed-form quantize/dequantize fast path (see _equal_width_bins)
        return ext.select(
            "series_id",
            "lo",
            "hi",
            F.expr(
                f"""
                transform(sequence(0, {n1}),
                          k -> CASE WHEN k = 0 THEN lo
                                    WHEN k = {n1} THEN hi
                                    ELSE lo + k * ((hi - lo) / {n1}) END)
                """
            ).alias("edges", metadata={_EQUAL_WIDTH_BINS: n_bins}),
        )
    if kind == "quantile":
        probs = "array(" + ",".join(str(p) for p in np.linspace(0.0, 1.0, n_bins + 1)) + ")"
        return df.groupBy(F.col(key).alias("series_id")).agg(
            F.expr(f"percentile_approx({value_col}, {probs}, {int(accuracy)})").alias("edges")
        )
    if kind == "adaptive":
        import pyspark.sql.types as T

        out_schema = T.StructType(
            [
                T.StructField("series_id", T.StringType()),
                T.StructField("edges", T.ArrayType(T.DoubleType())),
            ]
        )

        def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
            edges, _, _ = O.adaptive_bins_discretize(
                pdf[value_col].to_numpy(dtype=np.float64), N=n_bins
            )
            return pd.DataFrame({"series_id": [pdf[key].iloc[0]], "edges": [list(edges)]})

        return df.select(key, value_col).groupBy(key).applyInPandas(_fit, out_schema)
    raise ValueError(kind)


def _ew_edge_sql(k: int, n1: int) -> str:
    """Edge k (0-based, Python int) of the equal-width linspace as SQL text
    over the joined _qlo/_qhi/_qs columns — bit-identical to the array
    element: endpoints pinned, the interior the same
    ``lo + k * ((hi - lo) / n1)`` IEEE sequence (``_qs`` carries the
    once-rounded quotient; hoisting it changes nothing, k*(q) == k*q)."""
    if k == 0:
        return "_qlo"
    if k == n1:
        return "_qhi"
    return f"(_qlo + {float(k)!r}D * _qs)"


def _count_edges_sql(n1: int, k_lo: int, k_hi: int, cmp: str, value_sql: str) -> str:
    """#{k in [k_lo, k_hi] : edge_k <cmp> value} for the nondecreasing
    equal-width edges, as a BALANCED CASE tree: log2(n) comparisons per row
    instead of the n-step interpreted ``aggregate`` fold (HOFs never enter
    whole-stage codegen). Built as ONE parsed SQL string — the nested
    py4j-Column form spent ~0.65 s per query on driver-side construction
    and analysis. Each subtree is referenced once, so the expression stays
    linear-sized (no accumulator doubling — the CLAUDE.md WHEN-chain gotcha
    does not apply). A null/NaN value fails every comparison and counts 0,
    exactly like the fold's CASE."""
    if k_lo > k_hi:
        return "0"
    mid = (k_lo + k_hi) // 2
    return (
        f"(CASE WHEN {_ew_edge_sql(mid, n1)} {cmp} {value_sql} "
        f"THEN {mid - k_lo + 1} + {_count_edges_sql(n1, mid + 1, k_hi, cmp, value_sql)} "
        f"ELSE {_count_edges_sql(n1, k_lo, mid - 1, cmp, value_sql)} END)"
    )


def quantize_with_edges(
    df: DataFrame,
    edges_df: DataFrame,
    key: str,
    value_col: str,
    out_col: str = "token",
    mode: str = "reference",
) -> DataFrame:
    """Scale-path quantize: join the edges table and compute the token as a
    pure Catalyst expression.

    mode="reference" (default): token = 1 + #{internal edges < x}, the same
    function as np.digitize(x, edges[1:], right=True) + 1
    (utils/discretisize.py:26; the equal-width variant is hash-verified
    against the NumPy oracle — see quantize_sql_expr).

    mode="chronos": the OTHER binning convention, applying a pre-built
    (universal/chronos-style) vocab (transform_with_chronos_vocab.py:188-194):
    token = #{edges[1:-1] <= x} clipped to [0, n_edges-1] — np.digitize with
    right=False, no +1 (oracle twin: numpy_oracle.chronos_rebin).

    No broadcast hint: AQE broadcasts when the edges table is dimension-sized
    and falls back to a co-partitioned shuffle join when it is not (the
    per-conversation case a driver dict cannot survive). The join is inner:
    a series with no row in ``edges_df`` drops out of the result."""
    n_bins = _equal_width_bins(edges_df)
    if n_bins is not None:
        # closed-form fast path: join only (lo, hi) — Catalyst prunes the
        # edges array out of the join entirely — and count the edges below
        # the value with a binary-search WHEN tree (codegen'd, log n) over
        # inline edge expressions. Bit-identical to the array fold: same
        # pinned-endpoint linspace arithmetic, and the count of a monotone
        # edge sequence below x IS its crossover index.
        n1 = n_bins - 1
        sel = edges_df.select(
            F.col("series_id").alias(key),
            F.col("lo").alias("_qlo"),
            F.col("hi").alias("_qhi"),
        )
        j = df.join(sel, key).withColumn(
            "_qs", (F.col("_qhi") - F.col("_qlo")) / F.lit(n1).cast("double")
        )
        v = f"`{value_col}`"
        if mode == "reference":
            # edges[1:] (k = 1..n1), strictly below x, then +1
            tok = F.expr(f"CAST(1 + {_count_edges_sql(n1, 1, n1, '<', v)} AS INT)")
        elif mode == "chronos":
            # interior edges (k = 1..n1-1), <= x, clipped to n1
            tok = F.expr(
                f"CAST(LEAST({_count_edges_sql(n1, 1, n1 - 1, '<=', v)}, {n1}) AS INT)"
            )
        else:
            raise ValueError(f"unknown quantize mode {mode!r}")
        return j.withColumn(out_col, tok).drop("_qlo", "_qhi", "_qs")
    j = df.join(edges_df.withColumnRenamed("series_id", key), key)
    if mode == "reference":
        tok = F.expr(
            f"""
            1 + aggregate(slice(edges, 2, size(edges) - 1), 0,
                          (acc, e) -> acc + CASE WHEN e < {value_col} THEN 1 ELSE 0 END)
            """
        )
    elif mode == "chronos":
        tok = F.expr(
            f"""
            least(
              aggregate(slice(edges, 2, size(edges) - 2), 0,
                        (acc, e) -> acc + CASE WHEN e <= {value_col} THEN 1 ELSE 0 END),
              size(edges) - 1)
            """
        )
    else:
        raise ValueError(f"unknown quantize mode {mode!r}")
    return j.withColumn(out_col, tok.cast("int")).drop("edges")


def dequantize_with_edges(
    df: DataFrame, edges_df: DataFrame, key: str, token_col: str, out_col: str = "recon"
) -> DataFrame:
    """Scale-path dequantize: bin centers with the reference's extrapolation
    rules (utils/discretisize.py:246-279) as Catalyst expressions over the
    joined edges array (1-indexed element_at). Inner join, as in
    `quantize_with_edges`: a series with no fitted edges drops out."""
    n_bins = _equal_width_bins(edges_df)
    if n_bins is not None:
        # closed-form twin of the array path: evaluate the two needed edges
        # inline from (lo, hi) — identical IEEE ops as the array elements
        # (endpoints pinned), no 50-double array through the join. The edge
        # index here is a runtime value (the token), so the pinning is a
        # runtime CASE rather than the quantize path's plan-time constant.
        n1 = n_bins - 1
        sel = edges_df.select(
            F.col("series_id").alias(key),
            F.col("lo").alias("_qlo"),
            F.col("hi").alias("_qhi"),
        )
        j = df.join(sel, key)
        lo, hi = F.col("_qlo"), F.col("_qhi")
        step = (hi - lo) / F.lit(n1).cast("double")

        def edge_at(j_expr):
            return (
                F.when(j_expr == 0, lo)
                .when(j_expr == n1, hi)
                .otherwise(lo + j_expr.cast("double") * step)
            )

        t = F.col(token_col)
        recon = (
            F.when(t == 0, lo - (edge_at(F.lit(1)) - lo) / 2)
            .when(t >= n_bins, hi + (hi - edge_at(F.lit(n1 - 1))) / 2)
            .when(t >= 1, (edge_at(t - 1) + edge_at(t)) * 0.5)
            .otherwise(F.lit(None).cast("double"))
        )
        return j.withColumn(out_col, recon).drop("_qlo", "_qhi")
    j = df.join(edges_df.withColumnRenamed("series_id", key), key)
    recon = F.expr(
        f"""
        CASE WHEN {token_col} = 0
               THEN element_at(edges, 1) - (element_at(edges, 2) - element_at(edges, 1)) / 2
             WHEN {token_col} >= size(edges)
               THEN element_at(edges, -1) + (element_at(edges, -1) - element_at(edges, -2)) / 2
             WHEN {token_col} >= 1
               THEN 0.5 * (element_at(edges, CAST({token_col} AS INT))
                           + element_at(edges, CAST({token_col} AS INT) + 1))
             ELSE CAST(NULL AS DOUBLE) END
        """
    )
    return j.withColumn(out_col, recon).drop("edges")


def make_quantize_udf(
    spark, edges_by_series: dict[str, np.ndarray], mode: str = "reference"
):
    """(series_key, scaled_value) -> int token via broadcast edges.

    mode="reference": np.digitize(x, edges[1:], right=True) + 1
    (utils/discretisize.py:26). mode="chronos": the pre-built-vocab
    convention np.digitize(x, edges[1:-1]) clipped to [0, n_edges-1]
    (transform_with_chronos_vocab.py:188-194; numpy_oracle.chronos_rebin)."""
    if mode == "reference":
        binfn = O.digitize_tokens
    elif mode == "chronos":
        binfn = O.chronos_rebin
    else:
        raise ValueError(f"unknown quantize mode {mode!r}")
    bc = spark.sparkContext.broadcast(
        {k: np.asarray(v, dtype=np.float64) for k, v in edges_by_series.items()}
    )

    @pandas_udf("int")
    def _udf(keys: pd.Series, values: pd.Series) -> pd.Series:
        reg = bc.value
        out = np.empty(len(values), dtype=np.int64)
        vals = values.to_numpy(dtype=np.float64)
        karr = keys.to_numpy()
        # group by key within the batch so digitize runs vectorized per series
        order = np.argsort(karr, kind="stable")
        i = 0
        while i < len(order):
            j = i
            k = karr[order[i]]
            while j < len(order) and karr[order[j]] == k:
                j += 1
            idx = order[i:j]
            if k not in reg:
                raise KeyError(
                    f"series {k!r} has no fitted edges — call fit_edges on a "
                    "frame containing every series before quantizing"
                )
            out[idx] = binfn(vals[idx], reg[k])
            i = j
        return pd.Series(out.astype(np.int32))

    return _udf


def make_dequantize_udf(spark, edges_by_series: dict[str, np.ndarray]):
    """(series_key, token) -> bin-center float with reference extrapolation.

    Length-preserving variant: special tokens are the caller's concern (the
    engine keeps them as flags, never spliced into value sequences)."""
    bc = spark.sparkContext.broadcast(
        {k: np.asarray(v, dtype=np.float64) for k, v in edges_by_series.items()}
    )

    @pandas_udf("double")
    def _udf(keys: pd.Series, tokens: pd.Series) -> pd.Series:
        reg = bc.value
        toks = tokens.to_numpy(dtype=np.int64)
        karr = keys.to_numpy()
        out = np.full(len(toks), np.nan, dtype=np.float64)
        order = np.argsort(karr, kind="stable")
        i = 0
        while i < len(order):
            j = i
            k = karr[order[i]]
            while j < len(order) and karr[order[j]] == k:
                j += 1
            idx = order[i:j]
            if k not in reg:
                raise KeyError(
                    f"series {k!r} has no fitted edges — call fit_edges on a "
                    "frame containing every series before dequantizing"
                )
            edges = reg[k]
            centers = 0.5 * (edges[:-1] + edges[1:])
            t = toks[idx]
            vals = np.full(len(t), np.nan, dtype=np.float64)
            in_range = (t >= 1) & (t <= len(centers))
            vals[in_range] = centers[t[in_range] - 1]
            vals[t == 0] = edges[0] - (edges[1] - edges[0]) / 2
            vals[t >= len(edges)] = edges[-1] + (edges[-1] - edges[-2]) / 2
            out[idx] = vals
            i = j
        return pd.Series(out)

    return _udf


def quantize_sql_expr(value_col: str, lo_col: str, hi_col: str, n_bins: int):
    """Catalyst-only quantize twin: 1 + #{k in 1..n_bins-1 : edge_k < x}
    where edge_k = lo + k*((hi-lo)/(n_bins-1)), edge_{n-1} = hi exactly
    (np.linspace pins the last edge to the stop value)."""
    n1 = n_bins - 1
    return F.expr(
        f"""
        1 + aggregate(
              transform(sequence(1, {n1}),
                        k -> CASE WHEN k = {n1} THEN {hi_col}
                                  ELSE {lo_col} + k * (({hi_col} - {lo_col}) / {n1}) END),
              0,
              (acc, e) -> acc + CASE WHEN e < {value_col} THEN 1 ELSE 0 END)
        """
    )


def chronos_rebin_sql_expr(value_col: str, lo_col: str, hi_col: str, n_bins: int):
    """Catalyst-only twin of numpy_oracle.chronos_rebin over equal-width
    edges: token = #{interior edges <= x} clipped to [0, n_bins-1] —
    np.digitize(x, edges[1:-1], right=False), NO +1
    (transform_with_chronos_vocab.py:188-194). The interior edges are
    k in 1..n_bins-2 of the same linspace as quantize_sql_expr (the last
    edge, pinned to hi, is excluded by the [1:-1] slice)."""
    n1 = n_bins - 1
    return F.expr(
        f"""
        least(
          aggregate(
            transform(sequence(1, {n1 - 1}),
                      k -> {lo_col} + k * (({hi_col} - {lo_col}) / {n1})),
            0,
            (acc, e) -> acc + CASE WHEN e <= {value_col} THEN 1 ELSE 0 END),
          {n1})
        """
    )
