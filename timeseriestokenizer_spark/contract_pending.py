"""Round-6 registration queue: contract rows PROVEN this round, REGISTERED
next round.

The per-round driver records only the first 50 registry entries in
CORRECTNESS_r{N}.json, and all 50 slots currently hold round-5 rows awaiting
their first driver proof — registering more rows now would push never-proven
rows below the cap (tools/check_ledger.py fails the build on exactly that).
So new rows stage HERE with the same (query fn, oracle SQL) contract shape,
get the full Spark-vs-DuckDB value-hash proof from
`python tools/check_contract.py --pending` and tests/test_pending_contract.py,
and round 6 promotes them into contract.QUERIES / ORACLE_SQL verbatim once
CORRECTNESS_r05.json frees cap slots.

Rows staged (the authoritative list is PENDING_QUERIES below; one line
each in COVERAGE.md "round-6 queue"): kalman_level, alert_state,
alert_episodes, swinging_door_keep, cms_point_freq, cms_freq_cascade,
lm_doc_score, kmv_distinct, kmv_overlap, kmv_union_cascade, hw_forecast,
best_changepoint, bloom_membership, kmv_retention_days, count_bracket,
pq_codes, pq_adc_topk, pq_rerank_topk, ivfpq_codes, ivfpq_topk,
ccf_lead_lag, ks_drift, predict_linear, dft_dominant,
pettitt_changepoint, rank_sum_shift, rdp_keep, sample_entropy,
seasonal_mk, asof_lerp, hurst_var, pacf, ljung_box, ou_halflife,
runs_test, turning_points, variance_ratio, transition_concentration,
benford_deviation.

Fixed-codebook convention (the ann_ivf_assign pattern): centroid values are
`float(f"{x:.6f}")` — both engines parse the same 6-dp decimal string to the
same nearest double, so the codebooks are BIT-IDENTICAL across engines.
Training (pq_train / ivfpq_train, driver-side sampled k-means) stays
pytest-proven in tests/test_pq.py; encode/search are what run over 100 TB.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from . import contract

# ---------------------------------------------------------------------------
# fixed codebooks (bit-identical across engines via 6-dp decimal round-trip)
# ---------------------------------------------------------------------------

_D, _M, _DSUB, _K, _NCELLS = 64, 8, 8, 16, 8


def _fix6(a: np.ndarray) -> np.ndarray:
    return np.array(
        [float(f"{x:.6f}") for x in a.ravel()], dtype=np.float64
    ).reshape(a.shape)


def pq_fixed_codebooks() -> np.ndarray:
    """(m=8, k=16, d_sub=8) codebooks at the embeddings' N(0, 0.125) scale."""
    rng = np.random.RandomState(11)
    return _fix6(rng.standard_normal((_M, _K, _DSUB)) * 0.125)


def ivfpq_fixed() -> tuple[np.ndarray, np.ndarray]:
    """Coarse cells (8, 64) + residual codebooks (8, 16, 8), seeds disjoint
    from pq_fixed_codebooks so the two rows can't alias."""
    rng_c = np.random.RandomState(23)
    cents = _fix6(rng_c.standard_normal((_NCELLS, _D)) * 0.125)
    rng_b = np.random.RandomState(29)
    books = _fix6(rng_b.standard_normal((_M, _K, _DSUB)) * 0.125)
    return cents, books


def _dlist(vals) -> str:
    return "[" + ",".join(f"{x:.6f}" for x in vals) + "]::DOUBLE[]"


def _cb_values(books: np.ndarray) -> str:
    """VALUES rows (j, c, cent DOUBLE[]) for the PQ codebook table."""
    rows = []
    for j in range(books.shape[0]):
        for c in range(books.shape[1]):
            rows.append(f"({j}, {c}, {_dlist(books[j, c])})")
    return ",\n  ".join(rows)


def _cell_values(cents: np.ndarray) -> str:
    return ",\n  ".join(
        f"({i}, {_dlist(cents[i])})" for i in range(cents.shape[0])
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_kalman_level(spark, sf_dir):
    """Kalman local-level filter (operators/smoothing.kalman_level) at
    q=0.25, r=1.0 over events per user: gain self-tunes from 0 toward the
    Riccati fixed point. All three columns emitted UNROUNDED — the DuckDB
    recursive CTE steps the identical IEEE op order (one add, one divide,
    one multiply-add, one multiply per step), so kf_mean/kf_var/kf_gain are
    bit-identical (the holt_smoothing proof pattern; divide is
    correctly-rounded IEEE in both engines)."""
    from .operators.smoothing import kalman_level

    return kalman_level(
        contract.load(spark, sf_dir, "events"),
        key="user_id", ts_col="ts", val_col="value", id_col="event_id",
        q=0.25, r=1.0,
    )


def q_alert_state(spark, sf_dir):
    """Hysteresis alert state per event (operators/alerting.alert_state,
    hi=120 lo=60 n_consec=2): pure-Catalyst LOCF-of-marks formulation,
    integer/boolean comparisons only — nothing rounded, exact on both
    engines."""
    from .operators.alerting import alert_state

    return alert_state(contract.load(spark, sf_dir, "events")).select(
        "event_id", "alert_on", "hi_run"
    )


def q_alert_episodes(spark, sf_dir):
    """Contiguous alert episodes (operators/alerting.alert_episodes):
    gaps-and-islands over the hysteresis state — start at the firing
    point, end at the last still-on point, exact max peak."""
    from .operators.alerting import alert_episodes

    return alert_episodes(contract.load(spark, sf_dir, "events")).select(
        "user_id", "start_ts", "end_ts",
        F.col("n_points").cast("long").alias("n_points"),
        "peak_value",
    )


def q_swinging_door(spark, sf_dir):
    """SDT compression keep-set (operators/downsample.swinging_door,
    comp_dev=15): per-event kept flag, bit-exact vs a recursive CTE
    stepping the identical door-slope arithmetic (two adds + one divide
    per door, then min/max/compare only)."""
    from .operators.downsample import swinging_door

    return swinging_door(contract.load(spark, sf_dir, "events"), comp_dev=15.0)


def _events_k(spark, sf_dir):
    """events keyed by k = cents % 1000 (integer-exact, ~1000 distinct at
    sf0.01 — real CMS collisions at width 256, which the oracle replays)."""
    ev = contract.load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.withColumn("k", ((cents % 1000) + 1000) % 1000)


def q_cms_point_freq(spark, sf_dir):
    """Count-min point frequencies (operators/cms): depth 4 × width 256
    sketch over events keys, estimate vs exact count per distinct key.
    The oracle replays the sketch — md5 cells, collisions, min-over-rows —
    so est matches exactly, not just within the ε bound."""
    from .operators.cms import cms_build, cms_point_estimate

    evk = _events_k(spark, sf_dir)
    cells = cms_build(evk, "k")
    est = cms_point_estimate(cells, evk.select("k").distinct())
    true = evk.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    return est.join(true, "k").select("k", "est", "true_cnt")


def q_cms_freq_cascade(spark, sf_dir):
    """CMS mergeability: per-day sketches summed to a global sketch give
    the SAME estimates as building directly (counter addition commutes) —
    the distinct_rollup proof shape. Oracle = direct build in SQL."""
    from .operators.cms import cms_build, cms_merge, cms_point_estimate

    evk = _events_k(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts").cast("timestamp"))
    )
    daily = cms_build(evk, "k", ["day"])
    merged = cms_merge(daily, [])
    return cms_point_estimate(merged, evk.select("k").distinct())


def q_lm_doc_score(spark, sf_dir):
    """Corpus-LM quality score per document (functions/textstats.
    unigram_lm_score): add-1-smoothed unigram log-prob averaged per doc,
    r6 — the pretraining-data fluency filter, trained and applied in one
    pass with groupBy/join only."""
    from .functions.textstats import unigram_lm_score

    return unigram_lm_score(contract.load(spark, sf_dir, "documents"))


def _events_k64(spark, sf_dir):
    """_events_k restricted to k < 64: at most 64 distinct keys in any
    sketch, inside theta's exact regime at the KMV size (operators/kmv),
    so every estimate is an exact distinct count a DuckDB count(DISTINCT)
    checks."""
    return _events_k(spark, sf_dir).filter(F.col("k") < 64)


def q_kmv_distinct(spark, sf_dir):
    """Theta distinct estimates per event_type (operators/kmv) next to the
    exact countDistinct, in the exact regime (est == true_distinct)."""
    from .operators.kmv import kmv_build, kmv_estimate

    evk = _events_k64(spark, sf_dir)
    est = kmv_estimate(kmv_build(evk, "k", ["event_type"]), ["event_type"])
    true = evk.groupBy("event_type").agg(
        F.countDistinct("k").cast("long").alias("true_distinct")
    )
    return est.join(true, "event_type")


def q_kmv_overlap(spark, sf_dir):
    """Pairwise segment overlap from theta sketches (operators/kmv.
    kmv_overlap_pairs): union / intersection / Jaccard estimates for all
    event-type pairs — the set-operation capability HLL lacks; exact
    regime, so the oracle counts the exact unions and intersections."""
    from .operators.kmv import kmv_overlap_pairs

    return kmv_overlap_pairs(_events_k64(spark, sf_dir), "k", "event_type")


def q_kmv_union_cascade(spark, sf_dir):
    """KMV mergeability: per-day sketches merged with theta_union_agg give
    the global distinct count — oracle = exact count(DISTINCT) over all
    days."""
    from .operators.kmv import kmv_build, kmv_estimate, kmv_merge

    evk = _events_k64(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts").cast("timestamp"))
    )
    return kmv_estimate(kmv_merge(kmv_build(evk, "k", ["day"])))


def q_hw_forecast(spark, sf_dir):
    """h-step Holt-Winters forecasts from final state (operators/
    smoothing.holt_winters_forecast, horizon 4): yhat = l + h*b + ring
    slot, bit-exact unrounded vs the recursive-CTE oracle carrying the
    season ring to each series' last row."""
    from .operators.smoothing import holt_winters_forecast

    return holt_winters_forecast(
        contract.load(spark, sf_dir, "events"),
        key="user_id", ts_col="ts", val_col="value", id_col="event_id",
        alpha=0.5, beta=0.25, gamma=0.25, period=4, horizon=4,
    )


def q_best_changepoint(spark, sf_dir):
    """Binary-segmentation best split per series (operators/anomaly.
    best_changepoint) on integer cents: n2-scaled between-segments SS,
    BIGINT numerator base, score/means emitted unrounded (single
    correctly-rounded IEEE ops on identical operands)."""
    from .operators.anomaly import best_changepoint

    ev = contract.load(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return best_changepoint(ev)


def q_bloom_membership(spark, sf_dir):
    """Bloom prefilter (operators/bloom, m=8192 k=3): filter built over
    first-half-of-month keys, every distinct key probed; emits hit flag
    AND actual membership so false positives are visible rows. The oracle
    replays bit positions exactly — hit flags hash-match, FPs included."""
    from .operators.bloom import bloom_build, bloom_probe

    evk = _events_k(spark, sf_dir)
    train = evk.filter(
        F.dayofmonth(F.col("ts").cast("timestamp")) <= 15
    ).select("k").distinct()
    allk = evk.select("k").distinct()
    bloom = bloom_build(train, "k")
    hits = bloom_probe(allk, bloom, "k")
    actual = allk.join(
        train.withColumn("actual", F.lit(1)), "k", "left"
    ).select("k", F.coalesce("actual", F.lit(0)).cast("int").alias("actual"))
    return hits.join(actual, "k")


def q_kmv_retention_days(spark, sf_dir):
    """Day-over-day returning-user estimates from daily theta sketches
    alone (operators/kmv.kmv_retention_series) for the user_id < 64
    cohort — at most 64 users per sketch, inside the exact regime, so
    union and intersection estimates equal the oracle's exact counts."""
    from .operators.kmv import kmv_build, kmv_retention_series

    ev = contract.load(spark, sf_dir, "events").filter(F.col("user_id") < 64)
    ev = ev.select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("bucket_ts"),
        "user_id",
    )
    return kmv_retention_series(kmv_build(ev, "user_id", ["bucket_ts"]))


def q_count_bracket(spark, sf_dir):
    """Two-sided per-key count bounds from tier state (operators/cms.
    count_bracket): daily Misra-Gries summaries at k=256 (> distinct
    users, so the exact no-eviction regime: mg_count = true, err = 0)
    joined with daily CMS cells — the oracle replays exact counts AND the
    sketch, so the bracket columns hash-match including gap."""
    from .operators.cms import cms_rollup_tier, count_bracket
    from .operators.heavy import heavy_rollup_tier

    ev = contract.load(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("user_id").cast("string").alias("conv_id"),
    )
    mg = heavy_rollup_tier(ev, "1d", key_col="conv_id", k=256)
    cells = cms_rollup_tier(ev, "1d", key="conv_id")
    return count_bracket(mg, cells)


def q_pq_rerank_topk(spark, sf_dir):
    """ADC+R end to end (operators/pq.exact_rerank): fixed-codebook ADC
    4x-over-fetch shortlist, exact euclidean re-score, top-5 — the oracle
    replays the shortlist AND the refine (list arithmetic on the raw
    vectors), so d2/rank hash-match."""
    from .operators.pq import exact_rerank, pq_adc_topk, pq_encode

    B = pq_fixed_codebooks()
    e = contract.load(spark, sf_dir, "embeddings")
    short = pq_adc_topk(pq_encode(e, B), e.filter(F.col("vec_id") < 8), B, k=20)
    return exact_rerank(short, e, e.filter(F.col("vec_id") < 8), k=5)


def q_pq_codes(spark, sf_dir):
    """Product-quantization encode (operators/pq.pq_encode) with the fixed
    codebook: each 64-dim embedding becomes 8 nibble codes, packed into one
    BIGINT (base-16 digits, subspace 0 most significant) so the hash
    compares scalars, not arrays."""
    from .operators.pq import pq_encode

    codes = pq_encode(
        contract.load(spark, sf_dir, "embeddings"), pq_fixed_codebooks()
    )
    return codes.select(
        "vec_id",
        F.expr("aggregate(codes, 0L, (acc, c) -> acc * 16L + c)").alias(
            "code_key"
        ),
    )


def q_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes (operators/pq.pq_adc_topk):
    queries vec_id<8, k=5. The oracle replays the whole path — encode,
    (m x k) query LUT, m-gather ADC sum, (adc, cand_id) ranking — in SQL;
    adc rounded to 6 dp on both sides (LUT op-order ulps)."""
    from .operators.pq import pq_adc_topk, pq_encode

    B = pq_fixed_codebooks()
    e = contract.load(spark, sf_dir, "embeddings")
    codes = pq_encode(e, B)
    return pq_adc_topk(codes, e.filter(F.col("vec_id") < 8), B, k=5)


def q_ivfpq_codes(spark, sf_dir):
    """IVF-PQ encode (operators/pq.ivfpq_encode): euclidean-nearest coarse
    cell, then PQ codes of the residual (vector minus cell centroid) —
    codes packed to one BIGINT like pq_codes."""
    from .operators.pq import ivfpq_encode

    cents, books = ivfpq_fixed()
    enc = ivfpq_encode(
        contract.load(spark, sf_dir, "embeddings"), cents, books
    )
    return enc.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.expr("aggregate(codes, 0L, (acc, c) -> acc * 16L + c)").alias(
            "code_key"
        ),
    )


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ search (operators/pq.ivfpq_topk) at n_probe=2 of 8 cells —
    the oracle replays PROBE SELECTION (rank cells by query-centroid
    distance, ties to the lower cell id, matching np.argsort stable) and
    residual ADC, so the partial-probe pruning itself is hash-proven, not
    just the scoring."""
    from .operators.pq import ivfpq_encode, ivfpq_topk

    cents, books = ivfpq_fixed()
    e = contract.load(spark, sf_dir, "embeddings")
    enc = ivfpq_encode(e, cents, books)
    return ivfpq_topk(
        enc, e.filter(F.col("vec_id") < 8), cents, books, k=5, n_probe=2
    )


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

_KALMAN_SQL = """
WITH RECURSIVE p AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
rec AS (
  SELECT user_id, rn, event_id,
         value AS x,
         CAST(1.0 AS DOUBLE) AS pvar,
         CAST(0.0 AS DOUBLE) AS gain
  FROM p WHERE rn = 1
  UNION ALL
  SELECT z.user_id, z.rn, z.event_id,
         z.x_prev + z.g * (z.value - z.x_prev) AS x,
         (1.0 - z.g) * z.ppred AS pvar,
         z.g AS gain
  FROM (
    SELECT p.user_id, p.rn, p.event_id, p.value,
           r.x AS x_prev,
           r.pvar + 0.25 AS ppred,
           (r.pvar + 0.25) / ((r.pvar + 0.25) + 1.0) AS g
    FROM rec r JOIN p ON p.user_id = r.user_id AND p.rn = r.rn + 1
  ) z
)
SELECT event_id, x AS kf_mean, pvar AS kf_var, gain AS kf_gain FROM rec
"""


_ALERT_BASE_SQL = """
o AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
r AS (
  SELECT *,
         rn - coalesce(max(CASE WHEN value < 120.0 THEN rn END)
                OVER (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
           AS hi_run
  FROM o),
m AS (
  SELECT *,
         max(CASE WHEN hi_run >= 2 THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fire_rn,
         max(CASE WHEN value <= 60.0 THEN rn END)
           OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS clear_rn
  FROM r),
st AS (
  SELECT user_id, event_id, ts, value, rn,
         CAST(CASE WHEN fire_rn IS NOT NULL
                    AND (clear_rn IS NULL OR fire_rn > clear_rn)
              THEN 1 ELSE 0 END AS INT) AS alert_on,
         CAST(hi_run AS INT) AS hi_run
  FROM m)"""

_ALERT_STATE_SQL = f"""
WITH {_ALERT_BASE_SQL}
SELECT event_id, alert_on, hi_run FROM st
"""

_ALERT_EPISODES_SQL = f"""
WITH {_ALERT_BASE_SQL},
onp AS (
  SELECT user_id, ts, value, rn,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS island
  FROM st WHERE alert_on = 1)
SELECT user_id,
       min(ts) AS start_ts,
       max(ts) AS end_ts,
       CAST(count(*) AS BIGINT) AS n_points,
       max(value) AS peak_value
FROM onp GROUP BY user_id, island
"""


# Swinging-door replay: state = (anchor ta/va, door slopes minhi/maxlo);
# the previous point is the recursion's own previous row (r.t, r.v, r.rn),
# so closing the doors archives r.rn and re-anchors at (r.t, r.v). Slope
# op order matches the Python loop exactly: ((v + E) - va) / CAST(dt AS
# DOUBLE) with dt = greatest(t_us diff, 1).
_SDT_SQL = """
WITH RECURSIVE p AS (
  SELECT user_id, event_id, value AS v, epoch_us(ts) AS t,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events),
rec AS (
  SELECT user_id, rn, n, event_id, t, v,
         t AS ta, v AS va,
         CAST(1e308 AS DOUBLE) AS minhi, CAST(-1e308 AS DOUBLE) AS maxlo,
         CAST(NULL AS BIGINT) AS archived_rn
  FROM p WHERE rn = 1
  UNION ALL
  SELECT z.user_id, z.rn, z.n, z.event_id, z.t, z.v,
         CASE WHEN z.nl > z.nh THEN z.tp ELSE z.ta0 END AS ta,
         CASE WHEN z.nl > z.nh THEN z.vp ELSE z.va0 END AS va,
         CASE WHEN z.nl > z.nh
              THEN (z.v + 15.0 - z.vp) / CAST(greatest(z.t - z.tp, 1) AS DOUBLE)
              ELSE z.nh END AS minhi,
         CASE WHEN z.nl > z.nh
              THEN (z.v - 15.0 - z.vp) / CAST(greatest(z.t - z.tp, 1) AS DOUBLE)
              ELSE z.nl END AS maxlo,
         CASE WHEN z.nl > z.nh THEN z.prn END AS archived_rn
  FROM (
    SELECT p.user_id, p.rn, p.n, p.event_id, p.t, p.v,
           r.ta AS ta0, r.va AS va0, r.t AS tp, r.v AS vp, r.rn AS prn,
           least(r.minhi,
                 (p.v + 15.0 - r.va) / CAST(greatest(p.t - r.ta, 1) AS DOUBLE)) AS nh,
           greatest(r.maxlo,
                    (p.v - 15.0 - r.va) / CAST(greatest(p.t - r.ta, 1) AS DOUBLE)) AS nl
    FROM rec r JOIN p ON p.user_id = r.user_id AND p.rn = r.rn + 1
  ) z
),
keep AS (
  SELECT user_id, rn FROM p WHERE rn = 1 OR rn = n
  UNION
  SELECT user_id, archived_rn AS rn FROM rec WHERE archived_rn IS NOT NULL)
SELECT p.event_id,
       CAST(CASE WHEN k.rn IS NOT NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM p LEFT JOIN keep k ON k.user_id = p.user_id AND k.rn = p.rn
"""


_CMS_BASE_SQL = """
keys AS (
  SELECT ((CAST(round(value*100) AS BIGINT) % 1000) + 1000) % 1000 AS k
  FROM events),
js AS (SELECT unnest(range(4)) AS j),
cells AS (
  SELECT j AS row,
         CAST(concat('0x', substr(md5(concat(j, ':', CAST(k AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM keys, js GROUP BY 1, 2),
qk AS (SELECT DISTINCT k FROM keys),
qrc AS (
  SELECT k, j AS row,
         CAST(concat('0x', substr(md5(concat(j, ':', CAST(k AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS col
  FROM qk, js),
est AS (
  SELECT q.k, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
  FROM qrc q LEFT JOIN cells c ON c.row = q.row AND c.col = q.col
  GROUP BY 1)"""

_CMS_POINT_SQL = f"""
WITH {_CMS_BASE_SQL},
tc AS (SELECT k, CAST(count(*) AS BIGINT) AS true_cnt FROM keys GROUP BY 1)
SELECT e.k, e.est, t.true_cnt FROM est e JOIN tc t ON t.k = e.k
"""

_CMS_CASCADE_SQL = f"""
WITH {_CMS_BASE_SQL}
SELECT k, est FROM est
"""


_LM_SCORE_SQL = r"""
WITH w0 AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
  FROM documents),
w AS (SELECT doc_id, w FROM w0 WHERE w <> ''),
c AS (SELECT w, count(*) AS cnt FROM w GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM w) AS n_total,
               (SELECT count(*) FROM c) AS v_size),
lp AS (
  SELECT c.w,
         ln((c.cnt + 1)::DOUBLE / (tot.n_total + tot.v_size)::DOUBLE) AS logp
  FROM c, tot)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(l.logp), 6) AS lm_score
FROM w d JOIN lp l ON l.w = d.w
GROUP BY 1
"""


_KMV_KEYS_SQL = """
keys AS (
  SELECT * FROM (
    SELECT event_type,
           ((CAST(round(value*100) AS BIGINT) % 1000) + 1000) % 1000 AS k
    FROM events)
  WHERE k < 64)"""

_KMV_DISTINCT_SQL = f"""
WITH {_KMV_KEYS_SQL}
SELECT event_type, CAST(count(DISTINCT k) AS BIGINT) AS est,
       CAST(count(DISTINCT k) AS BIGINT) AS true_distinct
FROM keys GROUP BY 1
"""

_KMV_OVERLAP_SQL = f"""
WITH {_KMV_KEYS_SQL},
segs AS (SELECT DISTINCT event_type AS seg FROM keys),
pairs AS (SELECT a.seg AS seg_a, b.seg AS seg_b
          FROM segs a, segs b WHERE a.seg < b.seg),
presence AS (
  SELECT p.seg_a, p.seg_b, k.k,
         count(DISTINCT k.event_type) AS n_in
  FROM pairs p JOIN keys k ON k.event_type IN (p.seg_a, p.seg_b)
  GROUP BY 1, 2, 3),
a AS (
  SELECT seg_a, seg_b, CAST(count(*) AS BIGINT) AS union_est,
         CAST(sum(CASE WHEN n_in = 2 THEN 1 ELSE 0 END) AS BIGINT) AS inter_est
  FROM presence GROUP BY 1, 2)
SELECT seg_a, seg_b, union_est, inter_est,
       inter_est::DOUBLE / union_est::DOUBLE AS jaccard_est
FROM a
"""

_KMV_CASCADE_SQL = f"""
WITH {_KMV_KEYS_SQL}
SELECT CAST(count(DISTINCT k) AS BIGINT) AS est FROM keys
"""


_HW_FORECAST_SQL = """
WITH RECURSIVE p AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events),
rec AS (
  SELECT p.user_id, p.rn, p.n,
         p.value AS l,
         CASE WHEN p.n >= 2
              THEN (SELECT p2.value FROM p p2 WHERE p2.user_id = p.user_id AND p2.rn = 2) - p.value
              ELSE 0.0 END AS b,
         [0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS sl
  FROM p WHERE p.rn = 1
  UNION ALL
  SELECT z.user_id, z.rn, z.n,
         z.l_new AS l,
         0.25 * (z.l_new - z.l_prev) + 0.75 * z.b_prev AS b,
         list_transform(range(1, 5),
             i -> CASE WHEN i = z.j
                       THEN 0.25 * (z.value - z.l_new) + 0.75 * z.s_old
                       ELSE z.sl[i] END) AS sl
  FROM (
    SELECT p.user_id, p.rn, p.n, p.value,
           r.l AS l_prev, r.b AS b_prev, r.sl AS sl,
           (r.rn % 4) + 1 AS j,
           r.sl[(r.rn % 4) + 1] AS s_old,
           0.5 * (p.value - r.sl[(r.rn % 4) + 1]) + 0.5 * (r.l + r.b) AS l_new
    FROM rec r JOIN p ON p.user_id = r.user_id AND p.rn = r.rn + 1
  ) z
),
fin AS (SELECT * FROM rec WHERE rn = n),
hs AS (SELECT unnest(range(1, 5)) AS h)
SELECT f.user_id, CAST(hs.h AS INT) AS h,
       f.l + CAST(hs.h AS DOUBLE) * f.b + f.sl[((f.rn - 1 + hs.h) % 4) + 1] AS yhat
FROM fin f, hs
"""


_CHANGEPOINT_SQL = """
WITH b AS (
  SELECT user_id, event_id, ts, CAST(round(value*100) AS BIGINT) AS v
  FROM events),
o AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k,
         count(*) OVER (PARTITION BY user_id) AS n,
         sum(v) OVER (PARTITION BY user_id) AS s_n
  FROM b),
sc AS (
  SELECT user_id, rn, n, s_k, s_n,
         (CAST(n*s_k - rn*s_n AS DOUBLE) * CAST(n*s_k - rn*s_n AS DOUBLE))
           / CAST(rn*(n - rn) AS DOUBLE) AS score
  FROM o WHERE rn < n),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY score DESC, rn) AS pick
  FROM sc)
SELECT user_id,
       CAST(n AS BIGINT) AS n_points,
       CAST(rn AS BIGINT) AS split_k,
       score,
       CAST(s_k AS DOUBLE) / CAST(rn AS DOUBLE) AS left_mean,
       CAST(s_n - s_k AS DOUBLE) / CAST(n - rn AS DOUBLE) AS right_mean
FROM r WHERE pick = 1
"""


_BLOOM_SQL = """
WITH keys AS (
  SELECT ((CAST(round(value*100) AS BIGINT) % 1000) + 1000) % 1000 AS k, ts
  FROM events),
train AS (SELECT DISTINCT k FROM keys WHERE date_part('day', ts) <= 15),
allk AS (SELECT DISTINCT k FROM keys),
js AS (SELECT unnest(range(3)) AS j),
bits AS (
  SELECT DISTINCT
         CAST(concat('0x', substr(md5(concat(j, ':', CAST(k AS VARCHAR))), 1, 8)) AS BIGINT) % 8192 AS pos
  FROM train, js),
probe AS (
  SELECT DISTINCT k,
         CAST(concat('0x', substr(md5(concat(j, ':', CAST(k AS VARCHAR))), 1, 8)) AS BIGINT) % 8192 AS pos
  FROM allk, js),
hits AS (
  SELECT p.k,
         CAST(CASE WHEN count(*) = sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS INT) AS bloom_hit
  FROM probe p LEFT JOIN bits b ON b.pos = p.pos GROUP BY 1),
act AS (
  SELECT a.k, CAST(CASE WHEN t.k IS NOT NULL THEN 1 ELSE 0 END AS INT) AS actual
  FROM allk a LEFT JOIN train t ON t.k = a.k)
SELECT h.k, h.bloom_hit, act.actual FROM hits h JOIN act USING (k)
"""


_KMV_RETENTION_SQL = """
WITH u AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS b, user_id
  FROM events WHERE user_id < 64),
days AS (SELECT DISTINCT b FROM u),
valid AS (SELECT a.b FROM days a JOIN days c ON c.b = a.b + INTERVAL 1 DAY),
tagged AS (
  SELECT v.b, u.user_id, 0 AS side FROM valid v JOIN u ON u.b = v.b
  UNION ALL
  SELECT v.b, u.user_id, 1 AS side
  FROM valid v JOIN u ON u.b = v.b + INTERVAL 1 DAY),
presence AS (
  SELECT b, user_id, count(DISTINCT side) AS n_in FROM tagged GROUP BY 1, 2),
a AS (
  SELECT b AS bucket_ts, CAST(count(*) AS BIGINT) AS union_est,
         CAST(sum(CASE WHEN n_in = 2 THEN 1 ELSE 0 END) AS BIGINT) AS inter_est
  FROM presence GROUP BY 1)
SELECT bucket_ts, union_est, inter_est,
       inter_est::DOUBLE / union_est::DOUBLE AS jaccard_est
FROM a
"""


_COUNT_BRACKET_SQL = """
WITH e AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
         CAST(user_id AS VARCHAR) AS key
  FROM events),
mg AS (
  SELECT bucket_ts, key, CAST(count(*) AS BIGINT) AS mg_count,
         CAST(0 AS BIGINT) AS mg_err
  FROM e GROUP BY 1, 2),
js AS (SELECT unnest(range(4)) AS j),
cells AS (
  SELECT bucket_ts, j AS row,
         CAST(concat('0x', substr(md5(concat(j, ':', key)), 1, 8)) AS BIGINT) % 256 AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM e, js GROUP BY 1, 2, 3),
probe AS (
  SELECT DISTINCT m.bucket_ts, m.key, j AS row,
         CAST(concat('0x', substr(md5(concat(j, ':', m.key)), 1, 8)) AS BIGINT) % 256 AS col
  FROM mg m, js),
est AS (
  SELECT p.bucket_ts, p.key,
         CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
  FROM probe p
  LEFT JOIN cells c ON c.bucket_ts = p.bucket_ts AND c.row = p.row AND c.col = p.col
  GROUP BY 1, 2)
SELECT m.bucket_ts, m.key, m.mg_count, m.mg_err, e2.cms_est,
       CAST(e2.cms_est - m.mg_count AS BIGINT) AS gap
FROM mg m JOIN est e2 ON e2.bucket_ts = m.bucket_ts AND e2.key = m.key
"""


def _pq_codes_cte(books: np.ndarray) -> str:
    """Shared CTE body: vecs, codebook, per-subspace argmin codes.
    Scores replay pq_encode's -2·x·c + ||c||² (the rank-constant ||x||² is
    dropped on both sides); first-min ties via (score, c) ordering."""
    return f"""
cb(j, c, cent) AS (VALUES
  {_cb_values(books)}),
vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
sub AS (
  SELECT vec_id, cb.j, cb.c,
         -2 * list_dot_product(list_slice(v, cb.j*{_DSUB}+1, cb.j*{_DSUB}+{_DSUB}), cent)
           + list_dot_product(cent, cent) AS sc
  FROM vecs, cb),
best AS (
  SELECT vec_id, j, c,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY sc, c) AS rn
  FROM sub),
codes AS (SELECT vec_id, j, c FROM best WHERE rn = 1)"""


def _pq_codes_sql() -> str:
    return f"""
WITH {_pq_codes_cte(pq_fixed_codebooks())}
SELECT vec_id,
       CAST(sum(c * power(16, {_M - 1} - j)) AS BIGINT) AS code_key
FROM codes GROUP BY vec_id
"""


def _pq_adc_sql() -> str:
    books = pq_fixed_codebooks()
    return f"""
WITH {_pq_codes_cte(books)},
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < 8),
qsub AS (
  SELECT query_id, js.j,
         list_slice(v, js.j*{_DSUB}+1, js.j*{_DSUB}+{_DSUB}) AS qs
  FROM q, (SELECT unnest(range({_M})) AS j) js),
lut AS (
  SELECT query_id, s.j, cb.c,
         list_dot_product(qs, qs) - 2 * list_dot_product(qs, cent)
           + list_dot_product(cent, cent) AS dd
  FROM qsub s JOIN cb ON cb.j = s.j),
adc AS (
  SELECT l.query_id, k.vec_id AS cand_id, sum(l.dd) AS adc_raw
  FROM codes k JOIN lut l ON l.j = k.j AND l.c = k.c
  WHERE k.vec_id != l.query_id
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, cand_id, adc_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY adc_raw, cand_id) AS rank
  FROM adc)
SELECT query_id, cand_id, round(adc_raw, 6) AS adc, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def _pq_rerank_sql() -> str:
    books = pq_fixed_codebooks()
    return f"""
WITH {_pq_codes_cte(books)},
q AS (SELECT vec_id AS query_id, v FROM vecs WHERE vec_id < 8),
qsub AS (
  SELECT query_id, js.j,
         list_slice(v, js.j*{_DSUB}+1, js.j*{_DSUB}+{_DSUB}) AS qs
  FROM q, (SELECT unnest(range({_M})) AS j) js),
lut AS (
  SELECT query_id, s.j, cb.c,
         list_dot_product(qs, qs) - 2 * list_dot_product(qs, cent)
           + list_dot_product(cent, cent) AS dd
  FROM qsub s JOIN cb ON cb.j = s.j),
adc AS (
  SELECT l.query_id, k.vec_id AS cand_id, sum(l.dd) AS adc_raw
  FROM codes k JOIN lut l ON l.j = k.j AND l.c = k.c
  WHERE k.vec_id != l.query_id
  GROUP BY 1, 2),
short AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc_raw, cand_id) AS r
    FROM adc) WHERE r <= 20),
rescored AS (
  SELECT s.query_id, s.cand_id,
         list_sum(list_transform(range(1, {_D + 1}),
                  i -> (cv.v[i] - qv.v[i]) * (cv.v[i] - qv.v[i]))) AS d2_raw
  FROM short s
  JOIN vecs cv ON cv.vec_id = s.cand_id
  JOIN vecs qv ON qv.vec_id = s.query_id),
ranked AS (
  SELECT query_id, cand_id, d2_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY d2_raw, cand_id) AS rank
  FROM rescored)
SELECT query_id, cand_id, round(d2_raw, 6) AS d2, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def _ivfpq_cte() -> str:
    """vecs, cell table, residual, residual-PQ codes — shared by the two
    IVF-PQ oracles. Cell argmin replays ivfpq_encode's -2·x·c + ||c||²;
    the residual is ONE subtraction per dimension (bit-identical to
    numpy's X - cents[cell])."""
    cents, books = ivfpq_fixed()
    return f"""
cc(cell, cent) AS (VALUES
  {_cell_values(cents)}),
cb(j, c, cent) AS (VALUES
  {_cb_values(books)}),
vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
cellsc AS (
  SELECT vec_id, cc.cell,
         -2 * list_dot_product(v, cent) + list_dot_product(cent, cent) AS sc
  FROM vecs, cc),
cellbest AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY sc, cell) AS rn
  FROM cellsc),
assigned AS (
  SELECT v.vec_id, v.v, b.cell, cc.cent AS ccent
  FROM vecs v
  JOIN cellbest b ON b.vec_id = v.vec_id AND b.rn = 1
  JOIN cc ON cc.cell = b.cell),
resid AS (
  SELECT vec_id, cell,
         list_transform(range(1, {_D + 1}), i -> v[i] - ccent[i]) AS r
  FROM assigned),
rsub AS (
  SELECT vec_id, cell, cb.j, cb.c,
         -2 * list_dot_product(list_slice(r, cb.j*{_DSUB}+1, cb.j*{_DSUB}+{_DSUB}), cent)
           + list_dot_product(cent, cent) AS sc
  FROM resid, cb),
rbest AS (
  SELECT vec_id, cell, j, c,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY sc, c) AS rn
  FROM rsub),
rcodes AS (SELECT vec_id, cell, j, c FROM rbest WHERE rn = 1)"""


def _ivfpq_codes_sql() -> str:
    return f"""
WITH {_ivfpq_cte()}
SELECT vec_id, CAST(cell AS INT) AS cell,
       CAST(sum(c * power(16, {_M - 1} - j)) AS BIGINT) AS code_key
FROM rcodes GROUP BY 1, 2
"""


def _ivfpq_topk_sql() -> str:
    return f"""
WITH {_ivfpq_cte()},
q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 8),
qcell AS (
  SELECT query_id, cc.cell, cc.cent,
         row_number() OVER (PARTITION BY query_id ORDER BY
           list_dot_product(qv, qv) - 2 * list_dot_product(qv, cent)
             + list_dot_product(cent, cent), cell) AS prank
  FROM q, cc),
probes AS (
  SELECT c.query_id, c.cell,
         list_transform(range(1, {_D + 1}), i -> q.qv[i] - c.cent[i]) AS rq
  FROM qcell c JOIN q ON q.query_id = c.query_id
  WHERE c.prank <= 2),
lut AS (
  SELECT p.query_id, p.cell, cb.j, cb.c,
         list_dot_product(list_slice(rq, cb.j*{_DSUB}+1, cb.j*{_DSUB}+{_DSUB}),
                          list_slice(rq, cb.j*{_DSUB}+1, cb.j*{_DSUB}+{_DSUB}))
           - 2 * list_dot_product(list_slice(rq, cb.j*{_DSUB}+1, cb.j*{_DSUB}+{_DSUB}), cent)
           + list_dot_product(cent, cent) AS dd
  FROM probes p, cb),
adc AS (
  SELECT l.query_id, k.vec_id AS cand_id, sum(l.dd) AS adc_raw
  FROM rcodes k
  JOIN lut l ON l.cell = k.cell AND l.j = k.j AND l.c = k.c
  WHERE k.vec_id != l.query_id
  GROUP BY 1, 2),
ranked AS (
  SELECT query_id, cand_id, adc_raw,
         row_number() OVER (PARTITION BY query_id ORDER BY adc_raw, cand_id) AS rank
  FROM adc)
SELECT query_id, cand_id, round(adc_raw, 6) AS adc, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# registry (same shape as contract.QUERIES / contract.ORACLE_SQL)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# round-5 session-3 additions: ccf_lead_lag, ks_drift, predict_linear,
# dft_dominant
# ---------------------------------------------------------------------------


def q_ccf_lead_lag(spark, sf_dir):
    """Signed-lag cross-correlation (operators/correlate.ccf) between a
    series' value (exact cents) and its inter-event gap in whole seconds
    (floor-µs-division — identical integer op both engines): does a long
    silence precede a big value? Exact-BIGINT centered product-sums, two
    IEEE sqrt + one divide at the end, emitted unrounded; best_lag =
    argmax |r| (ties → smallest lag)."""
    from pyspark.sql import Window as W
    from .operators.correlate import ccf

    ev = contract.load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s1 = ev.select(
        "user_id", "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    s2 = s1.select(
        "user_id", "ts", "event_id", "x",
        (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
    ).selectExpr(
        "user_id", "ts", "event_id", "x",
        "coalesce(gap_us div 1000000, 0L) AS y",
    )
    return ccf(
        s2, key="user_id", ts_col="ts", id_col="event_id",
        x_col="x", y_col="y", max_lag=3, min_points=10,
    )


_CCF_SQL = """
WITH b AS (
  SELECT user_id, ts, event_id,
         CAST(round(value*100) AS BIGINT) AS x,
         epoch_us(ts) AS us
  FROM events),
g AS (
  SELECT user_id, ts, event_id, x,
         COALESCE((us - lag(us) OVER w) // 1000000, 0) AS y,
         count(x) OVER (PARTITION BY user_id) AS n
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
f AS (SELECT * FROM g WHERE n >= 10),
c AS (
  SELECT user_id, ts, event_id, n,
         x*n - sum(x) OVER (PARTITION BY user_id) AS cx,
         y*n - sum(y) OVER (PARTITION BY user_id) AS cy
  FROM f),
ld AS (
  SELECT user_id, n, cx, cy,
         lag(cy, 3)  OVER w AS cy_0,
         lag(cy, 2)  OVER w AS cy_1,
         lag(cy, 1)  OVER w AS cy_2,
         cy          AS cy_3,
         lead(cy, 1) OVER w AS cy_4,
         lead(cy, 2) OVER w AS cy_5,
         lead(cy, 3) OVER w AS cy_6
  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ag AS (
  SELECT user_id, CAST(max(n) AS BIGINT) AS n_points,
         sum(cx*cx) AS nx, sum(cy*cy) AS ny,
         sum(cx*cy_0) AS num_0, sum(cx*cy_1) AS num_1,
         sum(cx*cy_2) AS num_2, sum(cx*cy_3) AS num_3,
         sum(cx*cy_4) AS num_4, sum(cx*cy_5) AS num_5,
         sum(cx*cy_6) AS num_6
  FROM ld GROUP BY 1),
uv AS (
  SELECT user_id, n_points, nx, ny, -3 AS lag_k, num_0 AS numer FROM ag
  UNION ALL SELECT user_id, n_points, nx, ny, -2, num_1 FROM ag
  UNION ALL SELECT user_id, n_points, nx, ny, -1, num_2 FROM ag
  UNION ALL SELECT user_id, n_points, nx, ny,  0, num_3 FROM ag
  UNION ALL SELECT user_id, n_points, nx, ny,  1, num_4 FROM ag
  UNION ALL SELECT user_id, n_points, nx, ny,  2, num_5 FROM ag
  UNION ALL SELECT user_id, n_points, nx, ny,  3, num_6 FROM ag),
r AS (
  SELECT user_id, lag_k, n_points,
         CASE WHEN sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(ny AS DOUBLE)) > 0.0
              THEN CAST(numer AS DOUBLE)
                   / (sqrt(CAST(nx AS DOUBLE)) * sqrt(CAST(ny AS DOUBLE)))
         END AS ccf
  FROM uv)
SELECT user_id, lag_k AS lag, n_points, ccf,
       first_value(lag_k) OVER (
         PARTITION BY user_id
         ORDER BY CASE WHEN ccf IS NULL THEN -2.0 ELSE abs(ccf) END DESC,
                  lag_k ASC) AS best_lag
FROM r
"""


def q_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov drift (operators/drift.ks_drift)
    per user between the first half of January and the rest: D has an
    exact BIGINT numerator (cum_a*n_b - cum_b*n_a over the per-key value
    histogram), one IEEE division at the end — the binning-free companion
    to histogram_drift."""
    from .operators.drift import ks_drift

    ev = contract.load(spark, sf_dir, "events").select(
        "user_id", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return ks_drift(
        ev,
        split_expr=F.col("ts").cast("timestamp")
        < F.to_timestamp(F.lit("2024-01-16 00:00:00")),
        key="user_id",
        val_col="cents",
    )


_KS_DRIFT_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(round(value*100) AS BIGINT) AS v,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS ia
  FROM events),
g AS (
  SELECT user_id, v,
         sum(ia) AS a_cnt, sum(1 - ia) AS b_cnt
  FROM b GROUP BY 1, 2),
st AS (
  SELECT user_id,
         sum(a_cnt) OVER (PARTITION BY user_id ORDER BY v) AS cum_a,
         sum(b_cnt) OVER (PARTITION BY user_id ORDER BY v) AS cum_b,
         sum(a_cnt) OVER (PARTITION BY user_id) AS n_a,
         sum(b_cnt) OVER (PARTITION BY user_id) AS n_b
  FROM g),
ag AS (
  SELECT user_id,
         CAST(max(n_a) AS BIGINT) AS n_a,
         CAST(max(n_b) AS BIGINT) AS n_b,
         max(abs(cum_a * n_b - cum_b * n_a)) AS d_num
  FROM st WHERE n_a > 0 AND n_b > 0 GROUP BY 1)
SELECT user_id, n_a, n_b,
       CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS ks_d
FROM ag
"""


def q_predict_linear(spark, sf_dir):
    """PromQL-style predict_linear (operators/trend.predict_linear):
    time-based OLS on (whole-second offset, cents) per user, value
    extrapolated one hour past the last event. Exact-BIGINT normal
    equations, identical float tail both engines, emitted unrounded."""
    from .operators.trend import predict_linear

    ev = contract.load(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return predict_linear(
        ev, key="user_id", ts_col="ts", val_col="cents", horizon_s=3600
    )


_PREDICT_LINEAR_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(round(value*100) AS BIGINT) AS v,
         epoch_us(ts) AS us
  FROM events),
x AS (
  SELECT user_id, v,
         (us - min(us) OVER (PARTITION BY user_id)) // 1000000 AS x
  FROM b),
ag AS (
  SELECT user_id,
         CAST(count(v) AS BIGINT) AS n_points,
         sum(x) AS sx, sum(v) AS sy, max(x) AS x_last,
         sum(x*x) AS sxx_raw, sum(x*v) AS sxy_raw
  FROM x GROUP BY 1),
m AS (
  SELECT user_id, n_points, sx, sy, x_last,
         n_points * sxx_raw - sx * sx AS sxx,
         n_points * sxy_raw - sx * sy AS sxy
  FROM ag),
s AS (
  SELECT user_id, n_points, sx, sy, x_last,
         CASE WHEN sxx > 0
              THEN CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE) END AS slope
  FROM m),
i AS (
  SELECT user_id, n_points, x_last, slope,
         (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
           / CAST(n_points AS DOUBLE) AS intercept
  FROM s)
SELECT user_id, n_points,
       slope AS slope_per_s,
       intercept + slope * CAST(x_last + 3600 AS DOUBLE) AS predicted
FROM i
"""


def q_dft_dominant(spark, sf_dir):
    """Quantized-basis DFT power at candidate periods 4/6/8/12
    (operators/decompose.dft_power): exact-BIGINT correlations against a
    round(cos*1000) integer sinusoid table (the table IS the spec: the
    oracle SQL below is generated from the same dft_tables() call), power
    = a²+b² in three IEEE ops, best_period = argmax (ties → smallest)."""
    from .operators.decompose import dft_power

    return dft_power(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
        periods=(4, 6, 8, 12), scale=1000,
    )


def _dft_dominant_sql() -> str:
    from .operators.decompose import dft_tables

    tables = dft_tables((4, 6, 8, 12), 1000)
    terms, unions = [], []
    for p, (ic, isn) in tables.items():
        cos_case = " ".join(f"WHEN {j} THEN {v}" for j, v in enumerate(ic))
        sin_case = " ".join(f"WHEN {j} THEN {v}" for j, v in enumerate(isn))
        terms.append(
            f"sum(c0 * CASE m % {p} {cos_case} END) AS a_{p},\n"
            f"         sum(c0 * CASE m % {p} {sin_case} END) AS b_{p}"
        )
        unions.append(
            f"SELECT user_id, n_points, {p} AS period, a_{p} AS a, b_{p} AS b FROM ag"
        )
    terms_sql = ",\n         ".join(terms)
    unions_sql = " UNION ALL ".join(unions)
    return f"""
WITH b AS (
  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS c
  FROM events),
st AS (
  SELECT user_id, ts, event_id, c,
         count(c) OVER (PARTITION BY user_id) AS n,
         sum(c)   OVER (PARTITION BY user_id) AS s,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS m
  FROM b),
cc AS (SELECT user_id, n, m, c*n - s AS c0 FROM st),
ag AS (
  SELECT user_id, CAST(max(n) AS BIGINT) AS n_points,
         {terms_sql}
  FROM cc GROUP BY 1),
uv AS (
  {unions_sql}),
pw AS (
  SELECT user_id, period, n_points,
         CAST(a AS DOUBLE) * CAST(a AS DOUBLE)
           + CAST(b AS DOUBLE) * CAST(b AS DOUBLE) AS spec_power
  FROM uv)
SELECT user_id, period, n_points, spec_power,
       first_value(period) OVER (
         PARTITION BY user_id ORDER BY spec_power DESC, period ASC
       ) AS best_period
FROM pw
"""


def q_pettitt_changepoint(spark, sf_dir):
    """Pettitt rank changepoint (operators/anomaly.pettitt_changepoint):
    argmax_k |U_k| from doubled midranks — every intermediate an exact
    BIGINT, no floats anywhere in the whole row (the strongest parity
    class). Ties on |U_k| break to the smallest k on both engines."""
    from .operators.anomaly import pettitt_changepoint

    ev = contract.load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return pettitt_changepoint(
        ev, key="user_id", ts_col="ts", val_col="cents", id_col="event_id"
    )


_PETTITT_SQL = """
WITH b AS (
  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS v
  FROM events),
st AS (
  SELECT user_id, ts, event_id, v,
         count(v) OVER (PARTITION BY user_id) AS n,
         rank() OVER (PARTITION BY user_id ORDER BY v ASC) AS ra,
         rank() OVER (PARTITION BY user_id ORDER BY v DESC) AS rd
  FROM b),
r AS (SELECT user_id, ts, event_id, n, ra + n + 1 - rd AS r2 FROM st),
u AS (
  SELECT user_id, ts, n,
         row_number() OVER w AS k,
         sum(r2) OVER w - row_number() OVER w * (n + 1) AS u_k
  FROM r WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
f AS (SELECT * FROM u WHERE k < n),
p AS (
  SELECT user_id,
         CAST(n AS BIGINT) AS n_points,
         CAST(k AS BIGINT) AS k_star,
         CAST(abs(u_k) AS BIGINT) AS u_abs,
         ts AS change_ts,
         row_number() OVER (
           PARTITION BY user_id ORDER BY abs(u_k) DESC, k ASC) AS rn
  FROM f)
SELECT user_id, n_points, k_star, u_abs, change_ts FROM p WHERE rn = 1
"""


def q_rank_sum_shift(spark, sf_dir):
    """Mann-Whitney U with tie-corrected z (operators/drift.rank_sum_shift)
    on the same Jan-1..15-vs-rest split as ks_drift: doubled midranks keep
    U2 and the variance numerator exact BIGINT; the float tail is one
    divide + one sqrt + one divide, identical both engines, unrounded."""
    from .operators.drift import rank_sum_shift

    ev = contract.load(spark, sf_dir, "events").select(
        "user_id", "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return rank_sum_shift(
        ev,
        split_expr=F.col("ts").cast("timestamp")
        < F.to_timestamp(F.lit("2024-01-16 00:00:00")),
        key="user_id",
        val_col="cents",
    )


_RANK_SUM_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(round(value*100) AS BIGINT) AS v,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS ia
  FROM events),
g AS (
  SELECT user_id, v, sum(ia) AS a_cnt, sum(1 - ia) AS b_cnt
  FROM b GROUP BY 1, 2),
st AS (
  SELECT user_id, a_cnt, a_cnt + b_cnt AS t,
         2 * (sum(a_cnt + b_cnt) OVER (PARTITION BY user_id ORDER BY v)
              - (a_cnt + b_cnt)) + (a_cnt + b_cnt) + 1 AS midrank2
  FROM g),
ag AS (
  SELECT user_id,
         CAST(sum(a_cnt) AS BIGINT) AS n_a,
         CAST(sum(t - a_cnt) AS BIGINT) AS n_b,
         CAST(sum(a_cnt * midrank2) AS BIGINT) AS r2_a,
         CAST(sum(t*t*t - t) AS BIGINT) AS tie_term
  FROM st GROUP BY 1),
m AS (
  SELECT user_id, n_a, n_b,
         r2_a - n_a * (n_a + 1) AS u2,
         n_a + n_b AS n,
         n_a * n_b * (((n_a + n_b)*(n_a + n_b)*(n_a + n_b) - (n_a + n_b))
                      - tie_term) AS var_num
  FROM ag WHERE n_a > 0 AND n_b > 0),
s AS (
  SELECT user_id, n_a, n_b, u2,
         sqrt(CAST(var_num AS DOUBLE)
              / CAST(12 * n * (n - 1) AS DOUBLE)) AS sigma
  FROM m)
SELECT user_id, n_a, n_b,
       CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
       CASE WHEN sigma > 0.0
            THEN CAST(u2 - n_a * n_b AS DOUBLE) / (2.0 * sigma) END AS z
FROM s
"""


def q_rdp_keep(spark, sf_dir):
    """Ramer-Douglas-Peucker keep flags (operators/downsample.rdp_keep,
    eps=2000 cents) over the position-indexed cents series per user: the
    split test max cross^2 > eps^2 * len^2 and the argmax are pure BIGINT
    comparisons, so the kept set is bit-exact vs the recursive
    segment-frontier oracle — no floats anywhere in the row."""
    from .operators.downsample import rdp_keep

    ev = contract.load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return rdp_keep(
        ev, key="user_id", ts_col="ts", val_col="cents",
        id_col="event_id", epsilon=2000,
    )


_RDP_SQL = """
WITH RECURSIVE pts AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
         CAST(round(value*100) AS BIGINT) AS y,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events),
seg(user_id, lo, hi) AS (
  SELECT user_id, CAST(1 AS BIGINT), CAST(n AS BIGINT)
  FROM (SELECT DISTINCT user_id, n FROM pts) base
  UNION ALL
  SELECT q.user_id, x.lo2, x.hi2
  FROM (
    SELECT g.user_id, g.lo, g.hi,
      (SELECT p.i FROM pts p
        WHERE p.user_id = g.user_id AND p.i > g.lo AND p.i < g.hi
        ORDER BY (g.dx*(p.y - g.ylo) - g.dy*(p.i - g.lo))
                 * (g.dx*(p.y - g.ylo) - g.dy*(p.i - g.lo)) DESC,
                 p.i ASC
        LIMIT 1) AS j,
      (SELECT max((g.dx*(p.y - g.ylo) - g.dy*(p.i - g.lo))
                  * (g.dx*(p.y - g.ylo) - g.dy*(p.i - g.lo)))
        FROM pts p
        WHERE p.user_id = g.user_id AND p.i > g.lo AND p.i < g.hi) AS c2max,
      g.dx, g.dy
    FROM (
      SELECT s.user_id, s.lo, s.hi,
             s.hi - s.lo AS dx, plo.y AS ylo, phi.y - plo.y AS dy
      FROM seg s
      JOIN pts plo ON plo.user_id = s.user_id AND plo.i = s.lo
      JOIN pts phi ON phi.user_id = s.user_id AND phi.i = s.hi
      WHERE s.hi - s.lo >= 2) g
  ) q, LATERAL (VALUES (q.lo, q.j), (q.j, q.hi)) x(lo2, hi2)
  WHERE q.c2max > 2000*2000 * (q.dx*q.dx + q.dy*q.dy)
),
kept_i AS (
  SELECT DISTINCT user_id, i FROM (
    SELECT user_id, lo AS i FROM seg
    UNION ALL
    SELECT user_id, hi AS i FROM seg))
SELECT p.event_id,
       CAST(CASE WHEN k.i IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM pts p
LEFT JOIN kept_i k ON k.user_id = p.user_id AND k.i = p.i
"""


def q_sample_entropy(spark, sf_dir):
    """Sample entropy (operators/anomaly.sample_entropy, m=2, r=10000
    cents): A/B template-match counts are exact BIGINTs on both engines
    (Chebyshev tolerance compares integers); the single float step
    -ln(A/B) is rounded to 6 dp on both sides (the lm_doc_score
    precedent for libm last-ulp drift)."""
    from .operators.anomaly import sample_entropy

    ev = contract.load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return sample_entropy(
        ev, key="user_id", ts_col="ts", val_col="cents",
        id_col="event_id", m=2, r=10000,
    )


_SAMPEN_SQL = """
WITH b AS (
  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS v
  FROM events),
tpl AS (
  SELECT user_id,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY user_id) AS n,
         v AS v0,
         lead(v, 1) OVER w AS v1,
         lead(v, 2) OVER w AS v2
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
t AS (SELECT * FROM tpl WHERE i <= n - 2),
p AS (
  SELECT a.user_id,
         CASE WHEN greatest(abs(a.v0 - c.v0), abs(a.v1 - c.v1)) <= 10000
              THEN 1 ELSE 0 END AS bm,
         CASE WHEN greatest(abs(a.v0 - c.v0), abs(a.v1 - c.v1),
                            abs(a.v2 - c.v2)) <= 10000
              THEN 1 ELSE 0 END AS am
  FROM t a JOIN t c ON c.user_id = a.user_id AND c.i > a.i),
ag AS (
  SELECT user_id,
         CAST(sum(bm) AS BIGINT) AS b_count,
         CAST(sum(am) AS BIGINT) AS a_count
  FROM p GROUP BY 1),
nn AS (
  SELECT user_id, CAST(max(n) AS BIGINT) AS n_points FROM tpl GROUP BY 1)
SELECT nn.user_id, nn.n_points,
       COALESCE(ag.b_count, 0) AS b_count,
       COALESCE(ag.a_count, 0) AS a_count,
       CASE WHEN ag.a_count > 0 AND ag.b_count > 0
            THEN round(-ln(CAST(ag.a_count AS DOUBLE)
                           / CAST(ag.b_count AS DOUBLE)), 6) END AS sampen
FROM nn LEFT JOIN ag ON ag.user_id = nn.user_id
"""


def q_seasonal_mk(spark, sf_dir):
    """Seasonal Mann-Kendall (operators/trend.seasonal_mann_kendall,
    period=12, positional phases): S and the tie-corrected variance
    numerator are exact BIGINT sums of per-phase statistics; Z is the
    same continuity-corrected single-division-single-sqrt tail as
    mann_kendall, unrounded."""
    from .operators.trend import seasonal_mann_kendall

    return seasonal_mann_kendall(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
        period=12,
    )


_SEASONAL_MK_SQL = """
WITH b AS (
  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS v
  FROM events),
ph AS (
  SELECT user_id, v, ts, event_id,
         (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1)
           % 12 AS phase
  FROM b),
sp AS (
  SELECT a.user_id, a.phase,
         CAST(sum(CASE WHEN c.v > a.v THEN 1
                       WHEN c.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_p
  FROM ph a
  JOIN ph c ON c.user_id = a.user_id AND c.phase = a.phase
           AND (c.ts > a.ts OR (c.ts = a.ts AND c.event_id > a.event_id))
  GROUP BY 1, 2),
np AS (
  SELECT user_id, phase, CAST(count(*) AS BIGINT) AS n_p
  FROM ph GROUP BY 1, 2),
tie AS (
  SELECT user_id, phase,
         CAST(sum(cnt * (cnt - 1) * (2 * cnt + 5)) AS BIGINT) AS tvar
  FROM (
    SELECT user_id, phase, CAST(count(*) AS BIGINT) AS cnt
    FROM ph GROUP BY user_id, phase, v)
  GROUP BY 1, 2),
m AS (
  SELECT np.user_id, np.n_p,
         COALESCE(sp.s_p, 0) AS s_p,
         np.n_p * (np.n_p - 1) * (2 * np.n_p + 5) - tie.tvar AS var_p
  FROM np
  JOIN tie ON tie.user_id = np.user_id AND tie.phase = np.phase
  LEFT JOIN sp ON sp.user_id = np.user_id AND sp.phase = np.phase),
ag AS (
  SELECT user_id,
         CAST(sum(n_p) AS BIGINT) AS n_points,
         CAST(sum(s_p) AS BIGINT) AS s_stat,
         CAST(sum(var_p) AS BIGINT) AS var_num
  FROM m GROUP BY 1)
SELECT user_id, n_points, s_stat,
       CASE WHEN s_stat = 0 THEN 0.0
            WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                 / sqrt(CASE WHEN var_num > 0
                             THEN CAST(var_num AS DOUBLE) END / 18.0)
            ELSE CAST(s_stat + 1 AS DOUBLE)
                 / sqrt(CASE WHEN var_num > 0
                             THEN CAST(var_num AS DOUBLE) END / 18.0)
       END AS z_stat
FROM ag
"""


def q_asof_lerp(spark, sf_dir):
    """Interpolated point-in-time join (operators/asof.asof_lerp): every
    event probes a sparse per-user sample series (every third event) and
    gets the linearly-interpolated cents at its instant; exact hits
    return the sample, unbracketed probes NULL. The zero-join linear
    window form vs DuckDB's two native ASOF joins; one identical
    float chain, unrounded."""
    from pyspark.sql import Window as W
    from .operators.asof import asof_lerp

    ev = contract.load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    )
    samples = (
        ev.withColumn("rn", rn)
        .where(F.col("rn") % 3 == 1)
        .groupBy("user_id", "ts")  # duplicate-(user, ts) samples would tie
        .agg(F.max("cents").alias("cents"))  # nondeterministically in DuckDB
    )
    probes = ev.select("event_id", "user_id", "ts")
    out = asof_lerp(
        probes, samples, "user_id",
        left_ts="ts", right_ts="ts", val_col="cents",
    )
    return out.select("event_id", "lerp_cents")


_ASOF_LERP_SQL = """
WITH b AS (
  SELECT user_id, event_id, ts,
         CAST(round(value*100) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
s AS (
  SELECT user_id, ts, max(v) AS v, epoch_us(ts) AS tu
  FROM b WHERE rn % 3 = 1 GROUP BY user_id, ts),
e AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS tu FROM events)
SELECT e.event_id,
       CASE WHEN sb.v IS NULL OR sf.v IS NULL THEN NULL
            WHEN sf.tu = sb.tu THEN CAST(sb.v AS DOUBLE)
            ELSE CAST(sb.v AS DOUBLE)
                 + (CAST(sf.v AS DOUBLE) - CAST(sb.v AS DOUBLE))
                   * (CAST(e.tu - sb.tu AS DOUBLE)
                      / CAST(sf.tu - sb.tu AS DOUBLE))
       END AS lerp_cents
FROM e
ASOF LEFT JOIN s sb ON e.user_id = sb.user_id AND e.ts >= sb.ts
ASOF LEFT JOIN s sf ON e.user_id = sf.user_id AND e.ts <= sf.ts
"""


def q_hurst_var(spark, sf_dir):
    """Hurst exponent, aggregated-variance method (operators/trend.
    hurst_var, windows 8/16/32): Var_m columns are exact rationals of
    BIGINT block sums (one division each, unrounded); the log-log slope
    uses 6-dp-quantized abscissas generated by the same hurst_xvals()
    call as this oracle, and the final hurst rounds to 6 dp (ln is the
    one libm step — the lm_doc_score precedent)."""
    from .operators.trend import hurst_var

    return hurst_var(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
        windows=(8, 16, 32),
    )


def _hurst_sql() -> str:
    from .operators.trend import hurst_xvals

    ws = [8, 16, 32]
    xs = hurst_xvals(ws)
    n = float(len(ws))
    xbar = sum(xs) / n
    sxx = sum((x - xbar) * (x - xbar) for x in xs)
    cols = ", ".join(
        f"max(CASE WHEN w = {w} THEN var_m END) AS var_{w}" for w in ws
    )
    ybar = "((ln(var_8) + ln(var_16)) + ln(var_32)) / 3.0"
    sxy_terms = " + ".join(
        f"(ln(var_{w}) - yb) * {x - xbar!r}" for w, x in zip(ws, xs)
    )
    ok = " AND ".join(f"var_{w} IS NOT NULL AND var_{w} > 0.0" for w in ws)
    return f"""
WITH b AS (
  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS v
  FROM events),
pos AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS m
  FROM b),
ex AS (
  SELECT p.user_id, p.v, p.m, w.w, p.m // w.w AS blk
  FROM pos p CROSS JOIN (VALUES (8), (16), (32)) w(w)),
per_blk AS (
  SELECT user_id, w, blk,
         CAST(sum(v) AS BIGINT) AS s_b, count(v) AS c_b
  FROM ex GROUP BY 1, 2, 3
  HAVING count(v) = w),
per_w AS (
  SELECT user_id, w,
         CAST(count(s_b) AS BIGINT) AS k,
         CAST(sum(s_b) AS BIGINT) AS s1,
         CAST(sum(s_b * s_b) AS BIGINT) AS s2
  FROM per_blk GROUP BY 1, 2),
vm AS (
  SELECT user_id, w,
         CAST(k * s2 - s1 * s1 AS DOUBLE)
           / CAST(k * k * w * w AS DOUBLE) AS var_m
  FROM per_w WHERE k >= 2),
wide AS (
  SELECT user_id, {cols} FROM vm GROUP BY 1),
yb_t AS (
  SELECT user_id, var_8, var_16, var_32,
         CASE WHEN {ok} THEN {ybar} END AS yb FROM wide)
SELECT user_id, var_8, var_16, var_32,
       CASE WHEN {ok}
            THEN round(1.0 + (({sxy_terms}) / {sxx!r}) / 2.0, 6) END AS hurst
FROM yb_t
"""


def q_pacf(spark, sf_dir):
    """Partial autocorrelation, Durbin-Levinson on the exact ACF
    (operators/decompose.pacf, lags 1..5): both engines start from
    identical r_k doubles (single divisions of exact BIGINT sums) and
    step the identical fixed arithmetic sequence — emitted unrounded.
    The oracle SQL is GENERATED by the same level-by-level loop as the
    Spark plan (chained CTEs == chained projections)."""
    from .operators.decompose import pacf

    return pacf(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
        max_lag=5,
    )


def _pacf_sql(kmax: int = 5) -> str:
    head = """
WITH b AS (
  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS c
  FROM events),
st AS (
  SELECT event_id, user_id, ts, c,
         count(c) OVER (PARTITION BY user_id) AS n,
         sum(c)   OVER (PARTITION BY user_id) AS s
  FROM b),
cc AS (SELECT user_id, ts, event_id, n, c*n - s AS c0 FROM st),
ld AS (
  SELECT user_id, n, c0,
"""
    head += ",\n".join(
        f"         lead(c0, {k}) OVER w AS c{k}" for k in range(1, kmax + 1)
    )
    head += """
  FROM cc WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ag AS (
  SELECT user_id, CAST(max(n) AS BIGINT) AS n_points,
         sum(c0*c0) AS denom,
"""
    head += ",\n".join(
        f"         sum(c0*c{k}) AS num{k}" for k in range(1, kmax + 1)
    )
    head += "\n  FROM ld GROUP BY 1),\nr AS (\n  SELECT user_id, n_points,\n"
    head += ",\n".join(
        f"         CASE WHEN denom > 0 THEN CAST(num{k} AS DOUBLE)"
        f" / CAST(denom AS DOUBLE) END AS r{k}"
        for k in range(1, kmax + 1)
    )
    head += "\n  FROM ag),\n"
    ctes = ["l1 AS (SELECT *, r1 AS p_1_1 FROM r)"]
    prev = "l1"
    for k in range(2, kmax + 1):
        num = f"r{k}"
        den = "1.0"
        for j in range(1, k):
            num += f" - p_{k-1}_{j} * r{k-j}"
            den += f" - p_{k-1}_{j} * r{j}"
        ctes.append(
            f"l{k}a AS (SELECT *, ({num}) / ({den}) AS p_{k}_{k} FROM {prev})"
        )
        cols = ", ".join(
            f"p_{k-1}_{j} - p_{k}_{k} * p_{k-1}_{k-j} AS p_{k}_{j}"
            for j in range(1, k)
        )
        ctes.append(f"l{k}b AS (SELECT *, {cols} FROM l{k}a)")
        prev = f"l{k}b"
    unions = " UNION ALL ".join(
        f"SELECT user_id, {k} AS lag, n_points, p_{k}_{k} AS pacf FROM {prev}"
        for k in range(1, kmax + 1)
    )
    return head + ",\n".join(ctes) + "\n" + unions


def q_ljung_box(spark, sf_dir):
    """Ljung-Box Q at h=5 (operators/decompose.ljung_box): identical
    r_k doubles from the shared exact sums, left-to-right term
    accumulation, one exact n(n+2) multiplier — unrounded."""
    from .operators.decompose import ljung_box

    return ljung_box(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
        max_lag=5,
    )


def _ljung_box_sql(h: int = 5) -> str:
    terms = " + ".join(
        f"(r{k} * r{k}) / CAST(n_points - {k} AS DOUBLE)"
        for k in range(1, h + 1)
    )
    rcols = ",\n".join(
        f"         CASE WHEN denom > 0 THEN CAST(num{k} AS DOUBLE)"
        f" / CAST(denom AS DOUBLE) END AS r{k}"
        for k in range(1, h + 1)
    )
    leads = ",\n".join(
        f"         lead(c0, {k}) OVER w AS c{k}" for k in range(1, h + 1)
    )
    nums = ",\n".join(
        f"         sum(c0*c{k}) AS num{k}" for k in range(1, h + 1)
    )
    return f"""
WITH b AS (
  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS c
  FROM events),
st AS (
  SELECT event_id, user_id, ts, c,
         count(c) OVER (PARTITION BY user_id) AS n,
         sum(c)   OVER (PARTITION BY user_id) AS s
  FROM b),
cc AS (SELECT user_id, ts, event_id, n, c*n - s AS c0 FROM st),
ld AS (
  SELECT user_id, n, c0,
{leads}
  FROM cc WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ag AS (
  SELECT user_id, CAST(max(n) AS BIGINT) AS n_points,
         sum(c0*c0) AS denom,
{nums}
  FROM ld GROUP BY 1),
r AS (
  SELECT user_id, n_points,
{rcols}
  FROM ag)
SELECT user_id, n_points,
       CASE WHEN n_points > {h}
            THEN CAST(n_points * (n_points + 2) AS DOUBLE) * ({terms})
       END AS q_stat
FROM r
"""


def q_ou_halflife(spark, sf_dir):
    """AR(1) mean-reversion half-life (operators/decompose.ou_halflife):
    phi = lag-1 ACF ratio of exact BIGINT sums (unrounded); halflife =
    -ln2/ln(phi) r6 (two libm lns), NULL outside 0 < phi < 1."""
    from .operators.decompose import ou_halflife

    return ou_halflife(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
    )


_OU_HALFLIFE_SQL = """
WITH b AS (
  SELECT event_id, user_id, ts, CAST(round(value*100) AS BIGINT) AS c
  FROM events),
st AS (
  SELECT event_id, user_id, ts, c,
         count(c) OVER (PARTITION BY user_id) AS n,
         sum(c)   OVER (PARTITION BY user_id) AS s
  FROM b),
cc AS (SELECT user_id, ts, event_id, n, c*n - s AS c0 FROM st),
ld AS (
  SELECT user_id, n, c0, lead(c0, 1) OVER w AS c1
  FROM cc WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ag AS (
  SELECT user_id, CAST(max(n) AS BIGINT) AS n_points,
         sum(c0*c0) AS denom, sum(c0*c1) AS num1
  FROM ld GROUP BY 1),
r AS (
  SELECT user_id, n_points,
         CASE WHEN denom > 0 THEN CAST(num1 AS DOUBLE)
              / CAST(denom AS DOUBLE) END AS phi
  FROM ag)
SELECT user_id, n_points, phi,
       CASE WHEN phi > 0.0 AND phi < 1.0
            THEN round(-ln(2.0) / ln(phi), 6) END AS halflife_steps
FROM r
"""


def q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test (operators/decompose.runs_test): exact
    integer run/side counts against the lower-median order statistic;
    z is one fixed float chain of exact-BIGINT casts, unrounded."""
    from .operators.decompose import runs_test

    return runs_test(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
    )


_RUNS_TEST_SQL = """
WITH b AS (
  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS v
  FROM events),
rk AS (
  SELECT user_id, ts, event_id, v,
         row_number() OVER (
           PARTITION BY user_id ORDER BY v ASC, ts, event_id) AS pos,
         count(v) OVER (PARTITION BY user_id) AS n
  FROM b),
md AS (
  SELECT user_id, ts, event_id, v,
         max(CASE WHEN pos = (n + 1) // 2 THEN v END)
           OVER (PARTITION BY user_id) AS med
  FROM rk),
f AS (
  SELECT user_id, ts, event_id, CAST(v > med AS INT) AS side
  FROM md WHERE v != med),
rn AS (
  SELECT user_id, side,
         CASE WHEN lag(side) OVER w IS NULL OR lag(side) OVER w != side
              THEN 1 ELSE 0 END AS new_run
  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ag AS (
  SELECT user_id,
         CAST(sum(side) AS BIGINT) AS n1,
         CAST(sum(1 - side) AS BIGINT) AS n0,
         CAST(sum(new_run) AS BIGINT) AS r_runs
  FROM rn GROUP BY 1)
SELECT user_id, n1, n0, r_runs,
       CASE WHEN n1 > 0 AND n0 > 0
                 AND CAST(2*n1*n0 * (2*n1*n0 - (n1 + n0)) AS DOUBLE)
                     / CAST((n1+n0)*(n1+n0)*(n1+n0-1) AS DOUBLE) > 0.0
            THEN (CAST(r_runs AS DOUBLE)
                  - (1.0 + CAST(2*n1*n0 AS DOUBLE)
                           / CAST(n1 + n0 AS DOUBLE)))
                 / sqrt(CAST(2*n1*n0 * (2*n1*n0 - (n1 + n0)) AS DOUBLE)
                        / CAST((n1+n0)*(n1+n0)*(n1+n0-1) AS DOUBLE))
       END AS z_runs
FROM ag
"""


def q_turning_points(spark, sf_dir):
    """Turning-points randomness test (operators/decompose.
    turning_points): T = exact strict-extrema count; z vs the Kendall
    closed form (2(n-2)/3, (16n-29)/90), unrounded."""
    from .operators.decompose import turning_points

    return turning_points(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
    )


_TURNING_SQL = """
WITH b AS (
  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS v
  FROM events),
tp AS (
  SELECT user_id, v,
         CAST(((lag(v) OVER w < v AND v > lead(v) OVER w)
               OR (lag(v) OVER w > v AND v < lead(v) OVER w)) AS INT)
           AS is_tp
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ag AS (
  SELECT user_id,
         CAST(count(v) AS BIGINT) AS n_points,
         CAST(sum(is_tp) AS BIGINT) AS t_points
  FROM tp GROUP BY 1)
SELECT user_id, n_points, t_points,
       CASE WHEN n_points >= 4
            THEN (CAST(t_points AS DOUBLE)
                  - CAST(2 * (n_points - 2) AS DOUBLE) / 3.0)
                 / sqrt(CAST(16 * n_points - 29 AS DOUBLE) / 90.0)
       END AS z_turning
FROM ag
"""


def q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance ratio at q in {2,4,8} (operators/trend.
    variance_ratio): m-scaled centered increments keep both
    sums-of-squares exact BIGINT; each VR is two single-division
    variances and one divide on identical inputs — unrounded."""
    from .operators.trend import variance_ratio

    return variance_ratio(
        contract._event_cents(spark, sf_dir),
        key="user_id", ts_col="ts", val_col="cents", id_col="event_id",
        qs=(2, 4, 8),
    )


_VR_SQL = """
WITH b AS (
  SELECT user_id, ts, event_id, CAST(round(value*100) AS BIGINT) AS x
  FROM events),
s1 AS (
  SELECT user_id,
         x - lag(x) OVER w AS d,
         lead(x, 2) OVER w - x AS y2,
         lead(x, 4) OVER w - x AS y4,
         lead(x, 8) OVER w - x AS y8
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s2 AS (
  SELECT user_id,
         count(d) OVER (PARTITION BY user_id) AS m,
         d   * count(d) OVER (PARTITION BY user_id)
             - sum(d) OVER (PARTITION BY user_id) AS cd,
         y2 * count(d) OVER (PARTITION BY user_id)
             - 2 * sum(d) OVER (PARTITION BY user_id) AS cy2,
         y4 * count(d) OVER (PARTITION BY user_id)
             - 4 * sum(d) OVER (PARTITION BY user_id) AS cy4,
         y8 * count(d) OVER (PARTITION BY user_id)
             - 8 * sum(d) OVER (PARTITION BY user_id) AS cy8
  FROM s1),
ag AS (
  SELECT user_id, CAST(max(m) AS BIGINT) AS m,
         CAST(sum(cd*cd) AS BIGINT) AS ssd,
         CAST(sum(cy2*cy2) AS BIGINT) AS ssy2,
         CAST(sum(cy4*cy4) AS BIGINT) AS ssy4,
         CAST(sum(cy8*cy8) AS BIGINT) AS ssy8
  FROM s2 GROUP BY 1)
SELECT user_id, m AS m_diffs,
       CASE WHEN m >= 2 AND ssd > 0
            THEN (CAST(ssy2 AS DOUBLE)
                  / (CAST(m*m AS DOUBLE) * CAST(m - 2 + 1 AS DOUBLE)))
                 / (2.0 * (CAST(ssd AS DOUBLE)
                           / (CAST(m*m AS DOUBLE) * CAST(m AS DOUBLE))))
       END AS vr_2,
       CASE WHEN m >= 4 AND ssd > 0
            THEN (CAST(ssy4 AS DOUBLE)
                  / (CAST(m*m AS DOUBLE) * CAST(m - 4 + 1 AS DOUBLE)))
                 / (4.0 * (CAST(ssd AS DOUBLE)
                           / (CAST(m*m AS DOUBLE) * CAST(m AS DOUBLE))))
       END AS vr_4,
       CASE WHEN m >= 8 AND ssd > 0
            THEN (CAST(ssy8 AS DOUBLE)
                  / (CAST(m*m AS DOUBLE) * CAST(m - 8 + 1 AS DOUBLE)))
                 / (8.0 * (CAST(ssd AS DOUBLE)
                           / (CAST(m*m AS DOUBLE) * CAST(m AS DOUBLE))))
       END AS vr_8
FROM ag
"""


def q_transition_concentration(spark, sf_dir):
    """Markov next-step predictability (operators/behavior.
    transition_concentration): Simpson concentration of each (user,
    prev_type) transition row — exact BIGINT bigram counts, one
    division, unrounded; modal target ties break lexicographically."""
    from .operators.behavior import transition_concentration

    return transition_concentration(
        contract.load(spark, sf_dir, "events"),
        key="user_id", ts_col="ts", type_col="event_type",
        id_col="event_id",
    )


_TRANSITION_SQL = """
WITH pr AS (
  SELECT user_id,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events),
c AS (
  SELECT user_id, prev_type, next_type, count(*) AS c
  FROM pr WHERE prev_type IS NOT NULL GROUP BY 1, 2, 3),
st AS (
  SELECT user_id, prev_type, next_type,
         CAST(sum(c) OVER w AS BIGINT) AS n_trans,
         CAST(sum(c*c) OVER w AS BIGINT) AS ss,
         CAST(count(*) OVER w AS BIGINT) AS n_targets,
         row_number() OVER (
           PARTITION BY user_id, prev_type
           ORDER BY c DESC, next_type ASC) AS rn
  FROM c WINDOW w AS (PARTITION BY user_id, prev_type))
SELECT user_id, prev_type, n_trans, n_targets,
       CAST(ss AS DOUBLE) / CAST(n_trans * n_trans AS DOUBLE)
         AS concentration,
       next_type AS top_next
FROM st WHERE rn = 1
"""


def q_benford_deviation(spark, sf_dir):
    """Benford first-digit TVD (operators/drift.benford_deviation) on
    positive cents: digits from the decimal string (no runtime logs),
    law pre-quantized by benford_expected() (shared with this oracle),
    exact BIGINT numerator, one division, unrounded."""
    from .operators.drift import benford_deviation

    ev = contract.load(spark, sf_dir, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return benford_deviation(ev, key="user_id", val_col="cents")


def _benford_sql() -> str:
    from .operators.drift import benford_expected

    e = benford_expected(1_000_000)
    csums = ",\n".join(
        f"         CAST(sum(CASE WHEN d = {d} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{d}"
        for d in range(1, 10)
    )
    terms = " + ".join(
        f"abs(1000000 * c{d} - {e[d-1]} * n_points)" for d in range(1, 10)
    )
    return f"""
WITH b AS (
  SELECT user_id, CAST(round(value*100) AS BIGINT) AS v FROM events),
dg AS (
  SELECT user_id, CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS d
  FROM b WHERE v > 0),
ag AS (
  SELECT user_id, CAST(count(d) AS BIGINT) AS n_points,
{csums}
  FROM dg GROUP BY 1)
SELECT user_id, n_points,
       CAST({terms} AS DOUBLE)
         / CAST(2000000 * n_points AS DOUBLE) AS benford_tvd
FROM ag
"""


PENDING_QUERIES = {
    "kalman_level": q_kalman_level,
    "alert_state": q_alert_state,
    "alert_episodes": q_alert_episodes,
    "swinging_door_keep": q_swinging_door,
    "cms_point_freq": q_cms_point_freq,
    "cms_freq_cascade": q_cms_freq_cascade,
    "lm_doc_score": q_lm_doc_score,
    "kmv_distinct": q_kmv_distinct,
    "kmv_overlap": q_kmv_overlap,
    "kmv_union_cascade": q_kmv_union_cascade,
    "hw_forecast": q_hw_forecast,
    "best_changepoint": q_best_changepoint,
    "bloom_membership": q_bloom_membership,
    "kmv_retention_days": q_kmv_retention_days,
    "count_bracket": q_count_bracket,
    "pq_rerank_topk": q_pq_rerank_topk,
    "pq_codes": q_pq_codes,
    "pq_adc_topk": q_pq_adc_topk,
    "ivfpq_codes": q_ivfpq_codes,
    "ivfpq_topk": q_ivfpq_topk,
    "ccf_lead_lag": q_ccf_lead_lag,
    "ks_drift": q_ks_drift,
    "predict_linear": q_predict_linear,
    "dft_dominant": q_dft_dominant,
    "pettitt_changepoint": q_pettitt_changepoint,
    "rank_sum_shift": q_rank_sum_shift,
    "rdp_keep": q_rdp_keep,
    "sample_entropy": q_sample_entropy,
    "seasonal_mk": q_seasonal_mk,
    "asof_lerp": q_asof_lerp,
    "hurst_var": q_hurst_var,
    "pacf": q_pacf,
    "ljung_box": q_ljung_box,
    "ou_halflife": q_ou_halflife,
    "runs_test": q_runs_test,
    "turning_points": q_turning_points,
    "variance_ratio": q_variance_ratio,
    "transition_concentration": q_transition_concentration,
    "benford_deviation": q_benford_deviation,
}


_PENDING_SQL_BUILDERS = {
    "kalman_level": lambda: _KALMAN_SQL,
    "alert_state": lambda: _ALERT_STATE_SQL,
    "alert_episodes": lambda: _ALERT_EPISODES_SQL,
    "swinging_door_keep": lambda: _SDT_SQL,
    "cms_point_freq": lambda: _CMS_POINT_SQL,
    "cms_freq_cascade": lambda: _CMS_CASCADE_SQL,
    "lm_doc_score": lambda: _LM_SCORE_SQL,
    "kmv_distinct": lambda: _KMV_DISTINCT_SQL,
    "kmv_overlap": lambda: _KMV_OVERLAP_SQL,
    "kmv_union_cascade": lambda: _KMV_CASCADE_SQL,
    "hw_forecast": lambda: _HW_FORECAST_SQL,
    "best_changepoint": lambda: _CHANGEPOINT_SQL,
    "bloom_membership": lambda: _BLOOM_SQL,
    "kmv_retention_days": lambda: _KMV_RETENTION_SQL,
    "count_bracket": lambda: _COUNT_BRACKET_SQL,
    "pq_rerank_topk": lambda: _pq_rerank_sql(),
    "pq_codes": _pq_codes_sql,
    "pq_adc_topk": _pq_adc_sql,
    "ivfpq_codes": _ivfpq_codes_sql,
    "ivfpq_topk": _ivfpq_topk_sql,
    "ccf_lead_lag": lambda: _CCF_SQL,
    "ks_drift": lambda: _KS_DRIFT_SQL,
    "predict_linear": lambda: _PREDICT_LINEAR_SQL,
    "dft_dominant": _dft_dominant_sql,
    "pettitt_changepoint": lambda: _PETTITT_SQL,
    "rank_sum_shift": lambda: _RANK_SUM_SQL,
    "rdp_keep": lambda: _RDP_SQL,
    "sample_entropy": lambda: _SAMPEN_SQL,
    "seasonal_mk": lambda: _SEASONAL_MK_SQL,
    "asof_lerp": lambda: _ASOF_LERP_SQL,
    "hurst_var": _hurst_sql,
    "pacf": _pacf_sql,
    "ljung_box": _ljung_box_sql,
    "ou_halflife": lambda: _OU_HALFLIFE_SQL,
    "runs_test": lambda: _RUNS_TEST_SQL,
    "turning_points": lambda: _TURNING_SQL,
    "variance_ratio": lambda: _VR_SQL,
    "transition_concentration": lambda: _TRANSITION_SQL,
    "benford_deviation": _benford_sql,
}


def pending_oracle_sql() -> dict[str, str]:
    return {k: b() for k, b in _PENDING_SQL_BUILDERS.items()}
