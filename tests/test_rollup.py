"""Rollup tiers vs a pandas-computed oracle; cascade exactness (SURVEY §5.2.4)."""

import numpy as np
import pandas as pd

from timeseriestokenizer_spark.functions.signals import derive_signals
from timeseriestokenizer_spark.operators.rollup import (
    TIER_SECONDS,
    rollup_cascade,
    rollup_tier,
    with_derived_metrics,
)


def _pandas_signals(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable").copy()
    pdf["latency_s"] = (
        pdf.groupby("conv_id")["ts"].diff().dt.total_seconds()
    )
    pdf["n_chars"] = pdf["text"].str.len()
    pdf["is_tool_call"] = pdf["tool"].notna()
    return pdf


def _pandas_rollup(pdf: pd.DataFrame, seconds: int) -> pd.DataFrame:
    pdf = pdf.copy()
    epoch = pdf["ts"].astype("int64") // 10**6
    pdf["bucket"] = (epoch // seconds) * seconds
    g = pdf.groupby(["conv_id", "bucket"])
    out = g.agg(
        n_turns=("turn_idx", "size"),
        n_lat=("latency_s", "count"),
        sum_lat=("latency_s", lambda s: s.sum(min_count=1)),  # all-null → null like SQL
        min_lat=("latency_s", "min"),
        max_lat=("latency_s", "max"),
        sum_chars=("n_chars", "sum"),
        n_tool_calls=("is_tool_call", "sum"),
    ).reset_index()
    return out


def test_signals_match_pandas(spark, transcripts, transcripts_pdf):
    got = (
        derive_signals(transcripts)
        .select("conv_id", "turn_idx", "latency_s", "n_chars", "is_tool_call")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = _pandas_signals(transcripts_pdf)[
        ["conv_id", "turn_idx", "latency_s", "n_chars", "is_tool_call"]
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, check_exact=False, atol=1e-9
    )


def test_rollup_tiers_match_pandas(spark, transcripts, transcripts_pdf):
    sig = derive_signals(transcripts)
    exp_sig = _pandas_signals(transcripts_pdf)
    for tier in ["1m", "5m", "1h", "1d"]:
        got = rollup_tier(sig, tier).toPandas()
        got["bucket"] = (
            got["bucket_ts"].astype("datetime64[us]").astype("int64") // 10**6
        )
        got = (
            got.drop(columns=["bucket_ts", "sum_tokens"])
            .sort_values(["conv_id", "bucket"])
            .reset_index(drop=True)
        )
        exp = (
            _pandas_rollup(exp_sig, TIER_SECONDS[tier])
            .sort_values(["conv_id", "bucket"])
            .reset_index(drop=True)
        )
        got = got[exp.columns]
        pd.testing.assert_frame_equal(
            got, exp, check_dtype=False, check_exact=False, atol=1e-9
        )


def test_cascade_exactly_equals_direct(spark, transcripts):
    """Coarser tiers derived from finer tiers == computed from raw (exact)."""
    sig = derive_signals(transcripts).cache()
    tiers = rollup_cascade(sig)
    for tier in ["5m", "1h", "1d"]:
        direct = rollup_tier(sig, tier).toPandas().sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
        cascaded = tiers[tier].toPandas().sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
        cascaded = cascaded[direct.columns]
        pd.testing.assert_frame_equal(cascaded, direct, check_exact=False, atol=1e-9)
    sig.unpersist()


def test_derived_metrics(spark, transcripts):
    sig = derive_signals(transcripts)
    t = with_derived_metrics(rollup_tier(sig, "1d")).toPandas()
    assert (t["tool_call_rate"].dropna() <= 1).all()
    mask = t["n_lat"] > 0
    assert np.allclose(
        t.loc[mask, "avg_lat"], t.loc[mask, "sum_lat"] / t.loc[mask, "n_lat"]
    )


def test_text_equality_invariant(spark, transcripts, transcripts_pdf):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering after
    an engine pass (BASELINE.json input_hint)."""
    out = (
        derive_signals(transcripts)
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    exp = transcripts_pdf.sort_values(["conv_id", "turn_idx"])[
        ["conv_id", "turn_idx", "text"]
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(out, exp, check_dtype=False)


def test_distinct_rollup_sketch_cascade(spark):
    """HLL distinct tiers: (a) in the estimator regime (50k distinct ids in
    one bucket) the estimate lands within the lg_k=12 error bound; (b) the
    cascaded 1d sketch estimate EQUALS a direct build from raw (register-max
    union is associative); (c) at small cardinality the estimate is exact."""
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.rollup import (
        distinct_rollup_cascade,
        distinct_rollup_tier,
        with_distinct_estimate,
    )

    # 50k distinct ids inside one hour + 100 ids in another day
    big = spark.range(50_000).select(
        F.concat(F.lit("c"), "id").alias("conv_id"),
        F.lit("2024-01-01 10:00:00").cast("timestamp").alias("ts"),
    )
    small = spark.range(100).select(
        F.concat(F.lit("s"), "id").alias("conv_id"),
        F.lit("2024-01-02 05:00:00").cast("timestamp").alias("ts"),
    )
    df = big.unionByName(small)

    tiers = distinct_rollup_cascade(df, "conv_id")
    est_1d = {
        r["bucket_ts"].day: r["n_distinct"]
        for r in with_distinct_estimate(tiers["1d"]).collect()
    }
    assert est_1d[2] == 100  # exact coupon regime
    assert abs(est_1d[1] - 50_000) / 50_000 < 0.05  # estimator regime, lg_k=12

    direct = {
        r["bucket_ts"].day: r["n_distinct"]
        for r in with_distinct_estimate(
            distinct_rollup_tier(df, "1d", "conv_id")
        ).collect()
    }
    assert est_1d == direct  # cascade == direct build


def test_m4_downsample_pixel_extremes(spark):
    """M4 keeps exactly min/max/first/last per bucket: crafted series where
    all four differ; duplicate-timestamp ties resolve by value (struct
    lexicographic order)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.rollup import m4_downsample

    base = pd.Timestamp("2024-01-01 10:00:00")
    rows = [
        ("s", base + pd.Timedelta(minutes=0), 5.0),    # first
        ("s", base + pd.Timedelta(minutes=10), 9.0),   # max
        ("s", base + pd.Timedelta(minutes=20), 1.0),   # min
        ("s", base + pd.Timedelta(minutes=30), 4.0),   # last
        ("s", base + pd.Timedelta(minutes=30), 7.0),   # tie ts: (ts,4.0)<(ts,7.0)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["conv_id", "ts", "value"]))
    r = m4_downsample(df, key="conv_id", tier="1h").collect()[0]
    assert (r["v_min"], r["v_max"]) == (1.0, 9.0)
    assert r["v_first"] == 5.0
    assert r["v_last"] == 7.0  # max struct at tied ts = larger value


def test_histogram_tiers_cascade_and_percentile(spark):
    """Histogram tier state: cascaded 1h→1d counts equal a direct 1d build
    (binning is pointwise), and the read-time percentile interpolation
    matches a numpy twin on the same bins."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.rollup import (
        histogram_percentile,
        histogram_rollup_from_finer,
        histogram_rollup_tier,
    )

    rng = np.random.RandomState(4)
    n = 5000
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2026-03-01") + pd.to_timedelta(
                rng.randint(0, 3 * 86400, n), unit="s"
            ),
            "latency_s": np.round(rng.lognormal(1.0, 1.2, n), 3),
        }
    )
    pdf.loc[:20, "latency_s"] = None  # nulls skipped
    df = spark.createDataFrame(pdf)
    edges = [1.0, 2.0, 5.0, 10.0, 30.0]

    h1h = histogram_rollup_tier(df, "1h", edges=edges)
    h1d_cascade = histogram_rollup_from_finer(h1h, "1d")
    h1d_direct = histogram_rollup_tier(df, "1d", edges=edges)
    key = lambda frame: sorted(tuple(r) for r in frame.collect())
    assert key(h1d_cascade) == key(h1d_direct)

    # total count matches non-null rows
    total = h1h.agg(F.sum("n")).first()[0]
    assert total == int(pdf["latency_s"].notna().sum())

    # percentile estimate vs numpy twin on the identical binning
    est = {
        r["bucket_ts"]: r["p95_est"]
        for r in histogram_percentile(h1d_cascade, 0.95, edges=edges).collect()
    }
    vals = pdf.dropna(subset=["latency_s"]).assign(
        day=lambda d: d["ts"].dt.floor("D")
    )
    lo = np.array([0.0] + edges)
    hi = np.array(edges + [edges[-1]])
    for day, grp in vals.groupby("day"):
        x = grp["latency_s"].to_numpy()
        bins = np.sum(x[:, None] >= np.array(edges)[None, :], axis=1)
        counts = np.bincount(bins, minlength=len(edges) + 1)
        cum = np.cumsum(counts)
        rank = 0.95 * cum[-1]
        b = int(np.searchsorted(cum, rank))
        frac = (rank - (cum[b] - counts[b])) / counts[b]
        expect = round(lo[b] + frac * (hi[b] - lo[b]), 6)
        assert abs(est[day.to_pydatetime()] - expect) < 1e-9, day


def test_lttb_downsample(spark):
    """LTTB vs the scalar oracle twin: same selections across series sizes,
    endpoints always kept, output ranks dense."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.downsample import (
        lttb_downsample,
        lttb_select,
    )
    from timeseriestokenizer_spark.oracle.numpy_oracle import lttb_reference

    rng = np.random.RandomState(2)
    for n, t in [(400, 30), (31, 7), (6, 4), (3, 3), (10, 20)]:
        xs = np.sort(rng.uniform(0, 1e12, n))
        ys = rng.standard_normal(n).cumsum()
        assert list(lttb_select(xs, ys, t)) == list(lttb_reference(xs, ys, t))

    rows = []
    for sid in range(5):
        base = pd.Timestamp("2026-06-01") + pd.Timedelta(hours=sid)
        for i in range(200):
            rows.append((
                f"s{sid}",
                (base + pd.Timedelta(seconds=37 * i + sid)).to_pydatetime(),
                float(np.sin(i / 9.0) * 10 + (i % 7)),
            ))
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")
    out = lttb_downsample(df, n_out=25).toPandas()
    assert len(out) == 5 * 25
    for sid, grp in out.groupby("series_id"):
        g = grp.sort_values("sel_idx")
        assert list(g["sel_idx"]) == list(range(25))
        assert g["ts"].is_monotonic_increasing
        src = df.filter(F.col("conv_id") == sid).orderBy("ts").collect()
        assert g.iloc[0]["ts"] == src[0]["ts"] and g.iloc[-1]["ts"] == src[-1]["ts"]


def test_paa_sax_semantics_and_plan(spark):
    """PAA+SAX (operators/downsample.paa_sax): a pure sine series maps to
    the expected coarse symbol shape (high segments 'd', low 'a', near-zero
    crossings 'b'/'c' with a=4); a constant series z-normalizes to all-'c';
    segment sizes are balanced; the whole query is JVM-only."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.downsample import paa_sax

    base = pd.Timestamp("2026-07-01")
    rows = []
    n = 160
    for i in range(n):
        rows.append(("sine", (base + pd.Timedelta(seconds=i)).to_pydatetime(),
                     float(np.sin(2 * np.pi * i / n))))
        rows.append(("flat", (base + pd.Timedelta(seconds=i)).to_pydatetime(), 7.5))
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")
    out = paa_sax(df, n_segments=16, alphabet=4)
    got = {
        (r["conv_id"], r["segment"]): (r["paa"], r["n_pts"], r["symbol"])
        for r in out.collect()
    }
    assert len(got) == 32
    assert all(got[k][1] == 10 for k in got)  # 160/16 balanced segments
    assert all(got[("flat", s)][2] == "c" and got[("flat", s)][0] == 0.0
               for s in range(16))
    # sine: one full period over 16 segments -> peak quarter 'd', trough 'a'
    sine_syms = "".join(got[("sine", s)][2] for s in range(16))
    assert sine_syms[2:4] == "dd" and sine_syms[10:12] == "aa"
    assert set(sine_syms) == {"a", "b", "c", "d"}
    # z-normalized PAA means must average ~0 across segments
    assert abs(sum(got[("sine", s)][0] for s in range(16))) < 1e-3

    plan = out._jdf.queryExecution().executedPlan().toString()
    for py_stage in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "MapInArrow", "FlatMapGroupsInPandas"):
        assert py_stage not in plan, py_stage


def test_sax_motifs_planted(spark):
    """Two series sharing the same sine shape must share every SAX word;
    a third flat series contributes only the all-'c' word; threshold
    filtering keeps the row set deterministic."""
    import numpy as np
    import pandas as pd

    from timeseriestokenizer_spark.operators.downsample import sax_motifs

    base = pd.Timestamp("2026-07-01")
    rows = []
    for kname, phase in (("s1", 0.0), ("s2", 0.0)):
        for i in range(160):
            rows.append((kname, (base + pd.Timedelta(seconds=i)).to_pydatetime(),
                         float(np.sin(2 * np.pi * i / 160 + phase))))
    for i in range(160):
        rows.append(("flat", (base + pd.Timedelta(seconds=i)).to_pydatetime(), 3.0))
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")
    out = {r["word"]: (r["n_series"], r["n_occurrences"])
           for r in sax_motifs(df, n_segments=16, alphabet=4,
                               word_len=4, min_count=2).collect()}
    # the flat series: 16 'c' segments -> 13 occurrences of 'cccc'
    assert out["cccc"][1] >= 13
    # every word of the shared sine shape appears in BOTH sine series
    sine_words = [w for w, (ns, _) in out.items() if ns >= 2 and w != "cccc"]
    # 13 sliding windows yield ~9 DISTINCT words (the symmetric sine
    # repeats some) — every one must be shared by exactly the two series
    assert len(sine_words) >= 8
    for w in sine_words:
        assert out[w][0] == 2


def test_correlation_semantics_and_one_vs_all(spark):
    """correlate_pairs: a scaled copy correlates at exactly 1.0, a negated
    copy at -1.0, an independent alternating series near 0, constant
    series yield NULL; correlate_to (the linear one-vs-all shape) agrees
    with the all-pairs output on the target's rows and compiles to a
    broadcast join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from timeseriestokenizer_spark.operators.correlate import (
        correlate_pairs,
        correlate_to,
    )

    rng = np.random.RandomState(53)
    base = pd.Timestamp("2026-07-01")
    rows = []
    vals = rng.uniform(0, 10, 40)
    for i, v in enumerate(vals):
        ts = (base + pd.Timedelta(hours=i)).to_pydatetime()
        rows.append(("a", ts, float(v)))
        rows.append(("b", ts, float(3.0 * v + 7.0)))   # corr == 1
        rows.append(("c", ts, float(-v)))              # corr == -1
        rows.append(("d", ts, float(i % 2)))           # ~independent
        rows.append(("e", ts, 5.0))                    # zero variance
    df = spark.createDataFrame(rows, "conv_id string, ts timestamp, value double")
    pairs = {
        (r["key_a"], r["key_b"]): (r["n_overlap"], r["corr"])
        for r in correlate_pairs(df, tier="1h", min_overlap=10).collect()
    }
    assert pairs[("a", "b")] == (40, 1.0)
    assert pairs[("a", "c")] == (40, -1.0)
    assert abs(pairs[("a", "d")][1]) < 0.5
    assert pairs[("a", "e")][1] is None  # constant side -> NULL
    assert len(pairs) == 10  # all 5-choose-2 pairs overlap fully

    one = correlate_to(df, "a", tier="1h", min_overlap=10)
    got = {r["key_b"]: (r["n_overlap"], r["corr"]) for r in one.collect()}
    assert got == {k2: v for (k1, k2), v in pairs.items() if k1 == "a"} | {
        k1: v for (k1, k2), v in pairs.items() if k2 == "a"
    }
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
