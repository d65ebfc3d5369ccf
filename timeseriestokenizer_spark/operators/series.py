"""Per-series numpy kernels over Arrow batches.

The sequential per-series operators (smoothing recurrences, SDT / RDP /
LTTB downsampling, DTW, sample entropy, Gorilla packing, TPE training)
share one execution shape: each series collapses JVM-side to one row of
sorted arrays (ONE exchange on the key), and a Python worker steps a
kernel over every series of an Arrow batch. Whole series per batch avoid
the grouped-map dispatch tax (~25 ms per group in a coalesced task,
CLAUDE.md), and ``mapInArrow`` avoids the pandas round trip on both
sides of the boundary.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type


def ts_micros(ts_col: str) -> Column:
    """Epoch microseconds of ``ts_col`` (parquet NTZ timestamps need the
    cast before ``unix_micros``, CLAUDE.md)."""
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def _concat(parts: list):
    if parts and all(isinstance(p, np.ndarray) for p in parts):
        return np.concatenate(parts)
    return list(itertools.chain.from_iterable(parts))


def map_series(
    df: DataFrame,
    key: Column,
    order: list[Column],
    cols: list[Column],
    kernel,
    schema: T.StructType,
) -> DataFrame:
    """Run ``kernel`` once per series of ``df`` and return the rows it emits.

    A series is the rows sharing ``key``, sorted by the ``order`` Columns
    and then by the ``cols`` Columns, so ties sort deterministically. The
    kernel is called as ``kernel(k, *arrays)``: ``k`` is the series' key
    value and ``arrays`` holds one numpy array per ``cols`` entry, in
    series order (views into the Arrow batch: do not write to them; a
    NULL in a numeric column reads as NaN, as in pandas). It returns
    ``{field: array-like}`` for every field of ``schema``, all of one
    length; a NaN it returns becomes NULL. One output batch per input
    batch."""
    names = [f"_c{i}" for i in range(len(cols))]
    struct_names = [f"_o{i}" for i in range(len(order))] + names
    seqs = (
        df.select(
            key.alias("_k"),
            *[c.alias(n) for c, n in zip(order + cols, struct_names)],
        )
        .groupBy("_k")
        .agg(
            F.expr(
                f"array_sort(collect_list(struct({', '.join(struct_names)})))"
            ).alias("_seq")
        )
        .select("_k", *[F.expr(f"transform(_seq, x -> x.{n})").alias(n) for n in names])
    )
    # the closure carries only names and Arrow types: Columns hold py4j
    # state and do not pickle
    fields = [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
    out_schema = pa.schema(fields)

    def _run(batches):
        for batch in batches:
            keys = batch.column(0).to_pylist()
            lists = batch.columns[1:]
            offs = lists[0].offsets.to_numpy()
            offs = offs - offs[0]
            flat = [a.flatten().to_numpy(zero_copy_only=False) for a in lists]
            parts = {name: [] for name, _ in fields}
            for i, k in enumerate(keys):
                lo, hi = offs[i], offs[i + 1]
                res = kernel(k, *[a[lo:hi] for a in flat])
                if len({len(res[name]) for name in parts}) != 1:
                    raise ValueError(
                        f"series {k!r}: kernel columns differ in length: "
                        f"{ {name: len(res[name]) for name in parts} }"
                    )
                for name, acc in parts.items():
                    acc.append(res[name])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(_concat(parts[name]), type=typ, from_pandas=True)
                    for name, typ in fields
                ],
                schema=out_schema,
            )

    return seqs.mapInArrow(_run, schema)
