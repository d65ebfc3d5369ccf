"""Property-based tests (hypothesis) for the oracle's core invariants —
pure NumPy, no Spark session needed."""

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from timeseriestokenizer_spark.operators.gorilla import pack_series, unpack_series
from timeseriestokenizer_spark.oracle import numpy_oracle as O


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=12), min_size=2, max_size=300),
    st.integers(min_value=13, max_value=60),
)
def test_tpe_roundtrip_property(tokens, target):
    m = O.TpeModel(12)
    m.train(list(tokens), target)
    assert m.decode(m.encode(list(tokens))) == list(tokens)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=12), min_size=2, max_size=200),
    st.integers(min_value=13, max_value=40),
)
def test_tpe_train_output_equals_encode(tokens, target):
    """The sequence left after training == encode of the original sequence
    (greedy rank order replays the merge history)."""
    m = O.TpeModel(12)
    out = m.train(list(tokens), target)
    assert m.encode(list(tokens)) == out


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=2,
        max_size=200,
    ).filter(lambda xs: max(xs) - min(xs) > 1e-3),  # non-degenerate bin width
    st.integers(min_value=3, max_value=64),
)
def test_quantize_dequantize_requantize_fixpoint(values, n_bins):
    """decode(quantize(x)) lands on bin centers; re-quantizing the centers
    reproduces the symbols (quantize ∘ decode is identity on token space)."""
    x = np.array(values)
    sym, edges = O.simple_discretize(x, n_bins)
    dec = np.array(O.decode_tokens(sym, edges))
    assert np.array_equal(O.digitize_tokens(dec, edges), sym)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200),
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=1,
        max_size=200,
    ),
)
def test_gorilla_roundtrip_property(deltas, values):
    n = min(len(deltas), len(values))
    ts = np.cumsum(np.array(deltas[:n], dtype=np.int64))
    vals = np.array(values[:n], dtype=np.float64)
    blob = pack_series(ts, vals)
    ts2, v2 = unpack_series(blob)
    assert np.array_equal(ts2, ts)
    assert np.array_equal(v2.view(np.uint64), vals.view(np.uint64))


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=2,
        max_size=300,
    ).filter(lambda xs: max(xs) > min(xs))
)
def test_scale_inverse_property(values):
    x = np.array(values)
    mean, std = O.fit_scaler(x)
    assert np.allclose(O.inverse_scale(O.scale(x, mean, std), mean, std), x, atol=1e-6)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=20,
        max_size=400,
    ).filter(lambda xs: max(xs) > min(xs)),
    st.integers(min_value=4, max_value=30),
    st.integers(min_value=2, max_value=6),
)
# the round-2 red case: a denormal span ([0, 5e-324]) starves the
# midpoint-split repair (0.5*(lo+hi) rounds back onto a bound) — the
# degenerate-extent pad in adaptive_bins_discretize must keep len == N
@example([0.0] * 19 + [5e-324], 10, 3)
def test_adaptive_bins_edge_count_property(values, n_bins, k):
    edges, sym, alloc = O.adaptive_bins_discretize(np.array(values), N=n_bins, K=k)
    # the reference guarantees the EDGE count after the repair loop; the
    # allocation itself may overshoot n_bins (the zero-bump at
    # utils/discretisize.py:99 can push rem negative — repair trims edges)
    assert len(edges) == n_bins
    assert int(alloc.sum()) >= n_bins
    assert np.all(np.diff(edges) >= 0)


def test_histogram_properties(spark):
    """Property sweep: for random value sets, (1) bin counts sum to the
    non-null row count, (2) cascaded == direct at every coarser tier,
    (3) percentile estimates are monotone in p and inside [lo_edge, hi_edge]."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.rollup import (
        histogram_percentile,
        histogram_rollup_tier,
    )
    from timeseriestokenizer_spark.plans.incremental import coarser

    rng = np.random.RandomState(11)
    edges = [0.5, 1.0, 4.0, 9.0]
    for seed in range(3):
        rng = np.random.RandomState(seed)
        n = 800
        pdf = pd.DataFrame(
            {
                "ts": pd.Timestamp("2026-04-01")
                + pd.to_timedelta(rng.randint(0, 2 * 86400, n), unit="s"),
                "latency_s": np.abs(rng.standard_normal(n)) * 3,
            }
        )
        df = spark.createDataFrame(pdf)
        h1h = histogram_rollup_tier(df, "1h", edges=edges)
        assert h1h.agg(F.sum("n")).first()[0] == n
        direct = histogram_rollup_tier(df, "1d", edges=edges)
        cascade = coarser("hist", h1h, "1d")
        assert sorted(map(tuple, cascade.collect())) == sorted(map(tuple, direct.collect()))
        prev = None
        for p in (0.25, 0.5, 0.9):
            est = {
                r["bucket_ts"]: r[f"p{int(p*100)}_est"]
                for r in histogram_percentile(cascade, p, edges=edges).collect()
            }
            for day, v in est.items():
                assert 0.0 <= v <= edges[-1]
                if prev is not None:
                    assert v >= prev[day] - 1e-12  # monotone in p
            prev = est


def test_lttb_properties(spark):
    """Property sweep: LTTB selections are strictly increasing, include
    both endpoints, and have size min(n, n_out); every selected point is a
    real input point."""
    import numpy as np

    from timeseriestokenizer_spark.operators.downsample import lttb_select

    rng = np.random.RandomState(5)
    for trial in range(30):
        n = int(rng.randint(2, 400))
        t = int(rng.randint(3, 60))
        xs = np.sort(rng.uniform(0, 1e9, n))
        ys = rng.standard_normal(n)
        sel = list(lttb_select(xs, ys, t))
        assert sel == sorted(set(sel))
        assert sel[0] == 0 and sel[-1] == n - 1
        assert len(sel) == min(n, t) or (t >= n and len(sel) == n)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e9, max_value=1e9, allow_nan=False),
        min_size=1, max_size=3000,
    ),
    st.integers(min_value=8, max_value=128),
    st.floats(min_value=0.01, max_value=0.99),
)
def test_kll_rank_bound_property(values, k, p):
    """For ARBITRARY inputs and k: total weight == n exactly, and the
    returned quantile's true rank is within 2/ sqrt... conservatively 3/k
    + 1/n of p (the KLL guarantee with a wide safety factor — the measured
    constant is far smaller)."""
    from timeseriestokenizer_spark.operators.kll import KllSketch

    sk = KllSketch(k)
    arr = np.asarray(values, dtype=np.float64)
    for chunk in np.array_split(arr, max(1, len(arr) // 97)):
        sk.update_batch(chunk)
    total_w = sum(len(lv) * (1 << i) for i, lv in enumerate(sk.levels))
    assert total_w == sk.n == len(arr)
    est = sk.quantile(p)
    srt = np.sort(arr)
    lo = np.searchsorted(srt, est, side="left") / len(srt)
    hi = np.searchsorted(srt, est, side="right") / len(srt)
    slack = 3.0 / k + 1.0 / len(arr) + 1e-9
    assert lo - slack <= p <= hi + slack, (p, lo, hi, k)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=4000),
    st.integers(min_value=4, max_value=64),
)
def test_misra_gries_bounds_property(keys, k):
    """For ARBITRARY key streams and k: every reported count is in
    [true - err, true], err <= floor(n/(k+1)) per shrink level summed, and
    every key with true count > err is present."""
    import pandas as pd

    from timeseriestokenizer_spark.operators.heavy import _shrink

    total, err = {}, 0
    arr = np.asarray(keys, dtype=object)
    for chunk in np.array_split(arr, max(1, len(arr) // 131)):
        vc = pd.Series(chunk).value_counts()
        part, d0 = _shrink({str(i): int(v) for i, v in vc.items()}, k)
        for key, c in part.items():
            total[key] = total.get(key, 0) + c
        total, d = _shrink(total, k)
        err += d0 + d
    true = pd.Series([str(x) for x in keys]).value_counts().to_dict()
    for key, est in total.items():
        assert est <= true[key] <= est + err, key
    for key, t in true.items():
        if t > err:
            assert key in total, (key, t, err)
