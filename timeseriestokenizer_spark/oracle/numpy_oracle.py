"""Vendored pure-NumPy oracle mirroring the reference's exact semantics.

This module is the single source of truth the Spark engine is tested against.
It re-implements (from scratch, same observable behavior) the math of:

* equal-width discretization       — /root/reference/utils/discretisize.py:8-32
* quantile discretization (intended semantics; the reference's version at
  utils/discretisize.py:35-59 passes the data *range* as quantile levels,
  which is out of [0,1] and never called by any pipeline — we implement the
  intent: quantile levels linspace(0, 1, n_bins))
* adaptive-bin discretization      — utils/discretisize.py:61-179
* bin-center decode                — utils/discretisize.py:246-279
* .fvocab 5-decimal quantization   — utils/discretisize.py:182-187
* StandardScaler fit/inverse       — sklearn semantics (ddof=0, zero-std -> 1)
  as used at transform_files_into_tokens.py:173-183
* calendar gap-fill + <PAD>/<EBOS> — utils/discretisize.py:282-319
* TPE/BPE train/encode/decode      — utils/base.py:13-41, utils/token_based.py:48-302
* ceiling-to-int                   — process_all_results.py:258-270
* error metrics                    — process_all_results.py:273-319

Determinism notes (SURVEY.md §4.3): pair-count tie-breaks follow Python dict
insertion order (= first occurrence in the sequence); merged token ids mint at
``actual_vocab_size + i + 1``; np.digitize uses ``right=True`` then ``+1``.
"""

from __future__ import annotations

import math

import numpy as np

# ---------------------------------------------------------------------------
# Discretization (quantize / dequantize)
# ---------------------------------------------------------------------------


def equal_width_edges(data: np.ndarray, n_bins: int) -> np.ndarray:
    """n_bins *edges* (so n_bins-1 intervals), linspace over the data extent.

    Mirrors utils/discretisize.py:24.
    """
    data = np.asarray(data, dtype=np.float64)
    return np.linspace(data.min(), data.max(), n_bins)


def digitize_tokens(data: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """symbols = np.digitize(data, edges[1:], right=True) + 1
    (utils/discretisize.py:26). In-range values land in 1..len(edges)-1."""
    data = np.asarray(data, dtype=np.float64)
    return np.digitize(data, edges[1:], right=True) + 1


def simple_discretize(data, N=10):
    """Equal-width quantization; returns (symbols, edges).

    Mirrors utils/discretisize.py:8-32 without the special-token insertion
    branch (the engine keeps special tokens as separate rows/flags instead of
    splicing them into the value sequence; see SURVEY.md §1.3).
    """
    edges = equal_width_edges(data, N)
    return digitize_tokens(data, edges), edges


def quantile_edges(data: np.ndarray, n_bins: int) -> np.ndarray:
    """Intended quantile binning: n_bins+1 edges at levels linspace(0,1).

    The reference's quantile_discretize (utils/discretisize.py:51) passes
    linspace(min, max, n+1) as the quantile *levels* — a bug (levels must be
    in [0,1]) in dead code; we implement the intent (SURVEY.md §7.3.5)."""
    data = np.asarray(data, dtype=np.float64)
    return np.quantile(data, np.linspace(0.0, 1.0, n_bins + 1))


def adaptive_bins_discretize(x, N=10, K=3):
    """Adaptive (density-proportional) binning; returns (edges, symbols, alloc).

    Same algorithm as utils/discretisize.py:61-179: K equal-width
    pre-divisions, histogram counts, proportional floor allocation with the
    remainder going to the largest fractional parts (never to empty
    pre-bins), inner equal-width edges per pre-division, then midpoint-split /
    smallest-local-gap-merge repair until exactly ``n_bins`` edges, and
    symbols = digitize(x, edges, right=True) + 1.
    """
    x = np.asarray(x, dtype=np.float64).ravel()
    lo, hi = x.min(), x.max()

    # K equal-width pre-divisions; per-region density weights
    region_bounds = np.linspace(lo, hi, K + 1)
    density, _ = np.histogram(x, bins=region_bounds)
    if density.sum() == 0:
        cuts = np.linspace(lo, hi, N + 1)[1:-1]
        return cuts, np.ones_like(x, int), np.zeros(K, int)

    # proportional floor allocation; any region with even a trace of mass
    # gets at least one bin; leftovers go to the largest fractional parts
    # (never to empty regions)
    want = density / density.sum() * N
    quota = np.floor(want).astype(int)
    quota[(want > 1e-10) & (quota == 0)] = 1
    leftover = N - quota.sum()
    for region in np.argsort(quota - want):  # ascending(quota-want) == desc frac
        if leftover == 0:
            break
        if density[region] > 0:
            quota[region] += 1
            leftover -= 1

    # equal-width interior cuts inside each region, plus shared boundaries
    cut_list: list[float] = []
    for region in range(K):
        if quota[region] > 1:
            interior = np.linspace(
                region_bounds[region], region_bounds[region + 1], quota[region] + 1
            )[1:-1]
            cut_list.extend(interior.tolist())
    for region in range(1, K):
        if quota[region - 1] > 0 and quota[region] > 0:
            cut_list.append(region_bounds[region - 1])
    if len(cut_list) < N:
        cut_list.append(region_bounds[K])
    cuts = np.array(sorted(cut_list))

    # repair to exactly N cuts: split the widest gap's midpoint while short,
    # drop the cut with the smallest local gap while long (both capped)
    for _ in range(10_000):
        if cuts.size >= N:
            break
        bounds = np.concatenate(([lo], cuts, [hi]))
        widest = int(np.argmax(np.diff(bounds)))
        mid = 0.5 * (bounds[widest] + bounds[widest + 1])
        if not np.isfinite(mid) or mid <= bounds[widest] or mid >= bounds[widest + 1]:
            break
        cuts = np.sort(np.append(cuts, mid))
    for _ in range(10_000):
        if cuts.size <= N or cuts.size == 0:
            break
        gap_left = cuts - np.concatenate(([lo], cuts[:-1]))
        gap_right = np.concatenate((cuts[1:], [hi])) - cuts
        cuts = np.delete(cuts, int(np.argmin(np.minimum(gap_left, gap_right))))

    cuts = np.clip(np.unique(np.sort(cuts)), lo, hi)
    if cuts.size < N:
        # Degenerate extent: when hi - lo is below float resolution (e.g. a
        # denormal span like [0, 5e-324]) the midpoint-split repair cannot
        # mint a new distinct cut (0.5*(lo+hi) rounds back onto a bound) and
        # the loop exits short. The reference repair loop's contract
        # (utils/discretisize.py:132-170) is "exactly N edges, always" —
        # honor it by padding with the upper bound; duplicate edges make the
        # surplus bins empty, the only faithful reading of a sub-resolution
        # span. Non-degenerate inputs never reach this branch (the split
        # loop already reached N distinct cuts).
        cuts = np.sort(np.concatenate([cuts, np.full(N - cuts.size, hi)]))
    return cuts, np.digitize(x, cuts, right=True) + 1, quota


def bin_centers(edges: np.ndarray) -> np.ndarray:
    """0.5 * (edges[:-1] + edges[1:]) (utils/discretisize.py:263)."""
    edges = np.asarray(edges, dtype=np.float64)
    return 0.5 * (edges[:-1] + edges[1:])


def decode_tokens(
    symbols, edges: np.ndarray, special_token_ids: set[int] | None = None
) -> list[float]:
    """Token id -> float via bin centers, reference extrapolation rules.

    Mirrors decode_with_float_vocab (utils/discretisize.py:246-279) with the
    edges passed directly (the .fvocab file holds exactly these edges and
    n_edges = len(edges) + 1, utils/discretisize.py:182-187):

    * special token ids are *skipped* (output shortens)
    * 1 <= s <= len(centers): centers[s-1]
    * s == 0: edges[0] - (edges[1] - edges[0]) / 2
    * s >= len(edges): edges[-1] + (edges[-1] - edges[-2]) / 2
    * otherwise (negative s): NaN
    """
    edges = np.asarray(edges, dtype=np.float64)
    n_edges = len(edges) + 1
    centers = bin_centers(edges)
    st = special_token_ids or set()
    out: list[float] = []
    for s in symbols:
        if s in st:
            continue
        if 1 <= s <= len(centers):
            out.append(float(centers[s - 1]))
        elif s == 0:
            out.append(float(edges[0] - (edges[1] - edges[0]) / 2))
        elif s >= (n_edges - 1):
            out.append(float(edges[-1] + (edges[-1] - edges[-2]) / 2))
        else:
            out.append(float("nan"))
    return out


def fvocab_quantize(edges: np.ndarray) -> np.ndarray:
    """Round-trip edges through the .fvocab 5-decimal text format
    (utils/discretisize.py:187 writes ``f"{x:.5f}"``)."""
    return np.array([float(f"{x:.5f}") for x in np.asarray(edges)], dtype=np.float64)


def chronos_rebin(x: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """The *other* binning convention (transform_with_chronos_vocab.py:188-194):
    np.digitize(x, edges[1:-1]) (right=False, no +1) clipped to [0, N-1]."""
    x = np.asarray(x, dtype=np.float64)
    sym = np.digitize(x, edges[1:-1])
    return np.clip(sym, 0, len(edges) - 1)


def simhash32_py(text: str, n_bits: int = 32) -> int:
    """Pure-Python reference for operators/dedup.simhash_table (token hash =
    first 8 md5 hex digits of each lowercase whitespace word, signed
    per-bit vote, bit set iff vote > 0) — tests compare the engine against
    it and craft inputs with targeted Hamming geometry without a Spark
    round-trip. n_bits=60 gives the 60-bit fingerprint (token hash = first
    15 hex digits)."""
    import hashlib

    hex_digits = n_bits // 4
    votes = [0] * n_bits
    for w in text.strip().lower().split():
        h = int(hashlib.md5(w.encode()).hexdigest()[:hex_digits], 16)
        for b in range(n_bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum((1 << b) for b in range(n_bits) if votes[b] > 0)


def simhash60_py(text: str) -> int:
    """simhash32_py at 60 bits: simhash_table(n_bits=60)'s reference."""
    return simhash32_py(text, n_bits=60)


def insert_special_tokens(symbols, special_at: dict[int, int]) -> list[int]:
    """Reference-verbatim special-token insertion
    (utils/discretisize.py:28-31): loop data_st indices ASCENDING and
    np.insert at the RAW index each time. Because earlier inserts shift the
    array, later specials land `#prior-specials` positions before their
    nominal slot — that drift is the reference's actual behavior and parity
    requires reproducing it exactly (SURVEY §4.3.5)."""
    out = [int(s) for s in symbols]
    for index in sorted(special_at):
        out.insert(index, int(special_at[index]))
    return out


# ---------------------------------------------------------------------------
# Scaling (StandardScaler semantics)
# ---------------------------------------------------------------------------


def fit_scaler(x) -> tuple[float, float]:
    """(mean, std) with population std (ddof=0); zero/near-zero std -> 1.0,
    matching sklearn's _handle_zeros_in_scale as exercised at
    transform_files_into_tokens.py:173-183."""
    x = np.asarray(x, dtype=np.float64)
    mean = float(x.mean())
    std = float(x.std(ddof=0))
    if std == 0.0:
        std = 1.0
    return mean, std


def scale(x, mean: float, std: float) -> np.ndarray:
    return (np.asarray(x, dtype=np.float64) - mean) / std


def inverse_scale(z, mean: float, std: float) -> np.ndarray:
    return np.asarray(z, dtype=np.float64) * std + mean


# ---------------------------------------------------------------------------
# Calendar gap-fill + special-token marking
# ---------------------------------------------------------------------------

PAD = "<PAD>"
EBOS = "<EBOS>"


def mark_special_tokens_spine(
    ts_seconds: np.ndarray, freq_seconds: int, hour_toks: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Oracle twin of mark_special_tokens (utils/discretisize.py:282-319) on
    epoch-second timestamps.

    Returns (spine_seconds, is_pad, is_ebos):
    * spine = dense range(min, max, freq) inclusive (pd.date_range semantics)
    * is_pad marks spine slots absent from the (deduplicated) input
    * is_ebos marks every ``hour_toks`` hours from the first midnight
      (inclusive), *overwriting* pads (reference overwrites row values)
    """
    ts = np.unique(np.asarray(ts_seconds, dtype=np.int64))
    spine = np.arange(ts.min(), ts.max() + 1, freq_seconds, dtype=np.int64)
    present = np.isin(spine, ts)
    is_pad = ~present

    midnight = spine % 86400 == 0
    if not midnight.any():
        return spine, is_pad, np.zeros_like(is_pad)
    first_midnight = spine[midnight][0]
    elapsed_hours = (spine - first_midnight) // 3600
    is_ebos = (spine >= first_midnight) & (elapsed_hours % hour_toks == 0)
    is_pad = is_pad & ~is_ebos
    return spine, is_pad, is_ebos


# ---------------------------------------------------------------------------
# TPE / BPE (token-pair encoding)
# ---------------------------------------------------------------------------


def get_stats(ids: list[int]) -> dict[tuple[int, int], int]:
    """Consecutive-pair counts, insertion-ordered (utils/base.py:13-22)."""
    counts: dict[tuple[int, int], int] = {}
    for pair in zip(ids, ids[1:]):
        counts[pair] = counts.get(pair, 0) + 1
    return counts


_VEC_MIN_LEN = 300  # scalar/vectorized crossover, measured


def _merge_code(ids_arr, codes, code: int, idx: int):
    """Vectorized merge_pair over int64 pair codes: replace every
    non-overlapping left-to-right occurrence of ``code`` with ``idx``.
    Greedy non-overlap == keep even offsets within each run of CONSECUTIVE
    match positions (matches can only abut for self-pairs (a, a), where the
    scalar loop takes one, skips one)."""
    match = np.flatnonzero(codes == code)
    run_start = np.empty(len(match), dtype=bool)
    run_start[0] = True
    np.greater(np.diff(match), 1, out=run_start[1:])
    run_id = np.cumsum(run_start) - 1
    offset = match - match[run_start][run_id]
    taken = match[offset % 2 == 0]
    out = ids_arr.copy()
    out[taken] = idx
    return np.delete(out, taken + 1)


def merge_pair(ids: list[int], pair: tuple[int, int], idx: int) -> list[int]:
    """Left-to-right non-overlapping replacement (utils/base.py:25-41)."""
    out: list[int] = []
    i = 0
    n = len(ids)
    while i < n:
        if ids[i] == pair[0] and i < n - 1 and ids[i + 1] == pair[1]:
            out.append(idx)
            i += 2
        else:
            out.append(ids[i])
            i += 1
    return out


class TpeModel:
    """Greedy token-pair-encoding model with reference-exact determinism.

    Train/encode/decode mirror TokenBasedTokenizer
    (utils/token_based.py:48-302): tie-breaks follow dict insertion order
    (first-seen pair wins ``max``; first minimal-rank pair wins ``min``),
    merged ids mint at ``actual_vocab_size + i + 1``, and decode recursively
    expands merged ids back to base tokens.
    """

    def __init__(self, actual_vocab_size: int, merges: dict[tuple[int, int], int] | None = None):
        self.actual_vocab_size = int(actual_vocab_size)
        self.merges: dict[tuple[int, int], int] = dict(merges) if merges else {}

    # -- training ----------------------------------------------------------
    def train(self, token_sequence, target_vocab_size: int) -> list[int]:
        # reference order (utils/token_based.py:77-95): num_merges is fixed
        # from the DECLARED vocab size, then actual_vocab_size auto-bumps to
        # the data max — so minted ids start above the bumped size while the
        # merge budget reflects the declared one.
        #
        # Hot path is vectorized (the scalar loop cost ~17 s single-core at
        # the bench's 5000×200 shape): per iteration, adjacent pairs pack
        # into one int64 code (left<<32 | right — exact while every id fits
        # 31 bits, which the fallback guard checks), np.unique supplies
        # counts AND first-occurrence indices, and the reference tie-break
        # "max(stats, key=stats.get) in dict insertion order" is exactly
        # "among max-count pairs, the one whose FIRST occurrence is
        # earliest". Differential-tested against the scalar twin
        # (_train_scalar) on randomized sequences.
        assert target_vocab_size >= self.actual_vocab_size
        num_merges = target_vocab_size - self.actual_vocab_size
        ids_arr = np.asarray([int(t) for t in token_sequence], dtype=np.int64)
        if len(ids_arr):
            max_token = int(ids_arr.max())
            if max_token > self.actual_vocab_size:
                self.actual_vocab_size = max_token
        if len(ids_arr) < _VEC_MIN_LEN or (
            ids_arr.min() < 0
            or max(int(ids_arr.max()), self.actual_vocab_size + num_merges + 1)
            >= (1 << 31)
        ):
            # short sequences: the scalar dict loop beats numpy call
            # overhead (measured crossover ~300 tokens, 2.2x win by 4k)
            return self._train_scalar([int(t) for t in ids_arr], num_merges)
        merges: dict[tuple[int, int], int] = {}
        for i in range(num_merges):
            if len(ids_arr) < 2:
                break
            codes = (ids_arr[:-1] << 32) | ids_arr[1:]
            uniq, first_idx, counts = np.unique(
                codes, return_index=True, return_counts=True
            )
            pick = first_idx[counts == counts.max()].min()
            code = int(codes[pick])
            idx = self.actual_vocab_size + i + 1
            ids_arr = _merge_code(ids_arr, codes, code, idx)
            merges[(code >> 32, code & 0x7FFFFFFF)] = idx
        self.merges = merges
        return ids_arr.tolist()

    def _train_scalar(self, ids: list[int], num_merges: int) -> list[int]:
        """Reference-shaped scalar loop (utils/token_based.py:77-95) — the
        differential-test twin, and the fallback for ids outside 31 bits."""
        merges: dict[tuple[int, int], int] = {}
        for i in range(num_merges):
            stats = get_stats(ids)
            if not stats:
                break
            pair = max(stats, key=stats.get)  # dict-order tie-break
            idx = self.actual_vocab_size + i + 1
            ids = merge_pair(ids, pair, idx)
            merges[pair] = idx
        self.merges = merges
        return ids

    # -- encode / decode ----------------------------------------------------
    def encode(self, token_sequence) -> list[int]:
        # vectorized twin of the scalar loop: the applicable pair with the
        # MINIMAL merge rank (ranks are unique, so "first key in dict order
        # at the minimal rank" is just the minimal rank; absence of any
        # applicable pair is the loop's break condition)
        ids_arr = np.asarray([int(t) for t in token_sequence], dtype=np.int64)
        mx = int(ids_arr.max()) if len(ids_arr) else 0
        mn = int(ids_arr.min()) if len(ids_arr) else 0
        for (left, right), v in self.merges.items():
            mx = max(mx, int(left), int(right), int(v))
            mn = min(mn, int(left), int(right))
        if len(ids_arr) < _VEC_MIN_LEN or mn < 0 or mx >= (1 << 31):
            return self._encode_scalar([int(t) for t in ids_arr])
        if not self.merges:
            return ids_arr.tolist()
        mcodes = np.array(
            [(left << 32) | right for (left, right) in self.merges], dtype=np.int64
        )
        mranks = np.array(list(self.merges.values()), dtype=np.int64)
        order = np.argsort(mcodes)
        mcodes, mranks = mcodes[order], mranks[order]
        big = np.iinfo(np.int64).max
        while len(ids_arr) >= 2:
            codes = (ids_arr[:-1] << 32) | ids_arr[1:]
            pos = np.searchsorted(mcodes, codes)
            pos_c = np.minimum(pos, len(mcodes) - 1)
            valid = mcodes[pos_c] == codes
            if not valid.any():
                break
            ranks = np.where(valid, mranks[pos_c], big)
            best = int(ranks.argmin())
            ids_arr = _merge_code(ids_arr, codes, int(codes[best]), int(ranks[best]))
        return ids_arr.tolist()

    def _encode_scalar(self, ids: list[int]) -> list[int]:
        while len(ids) >= 2:
            stats = get_stats(ids)
            pair = min(stats, key=lambda p: self.merges.get(p, math.inf))
            if pair not in self.merges:
                break
            ids = merge_pair(ids, pair, self.merges[pair])
        return ids

    def expansion_map(self) -> dict[int, list[int]]:
        """Precomputed id -> base-token expansion for O(1) decode (the Spark
        engine broadcasts this; SURVEY.md §2.9 B4)."""
        exp: dict[int, list[int]] = {}
        # merges insert in rank order, so children always resolve first
        for (left, right), idx in self.merges.items():
            l = exp.get(left, [left] if left <= self.actual_vocab_size else None)
            r = exp.get(right, [right] if right <= self.actual_vocab_size else None)
            if l is None:
                l = [left]
            if r is None:
                r = [right]
            exp[idx] = l + r
        return exp

    def decode(self, ids) -> list[int]:
        exp = self.expansion_map()
        out: list[int] = []
        for i in ids:
            i = int(i)
            if i > self.actual_vocab_size and i in exp:
                out.extend(exp[i])
            else:
                out.append(i)
        return out


# ---------------------------------------------------------------------------
# Ceiling + metrics (process_all_results.py)
# ---------------------------------------------------------------------------


def apply_ceiling(tokens: np.ndarray) -> np.ndarray:
    """np.ceil on float-valued predicted tokens; NaN stays NaN here (the
    caller maps NaN -> 0 placeholder, process_all_results.py:258-270)."""
    return np.ceil(np.asarray(tokens, dtype=np.float64))


def calculate_metrics(trues, preds, ignore_nan: bool = True) -> dict[str, float]:
    """MSE/RMSE/MAE/MAPE/MSPE/R2 with NaN-pair masking and zero-denominator
    guard (process_all_results.py:273-319)."""
    trues = np.asarray(trues, dtype=np.float64)
    preds = np.asarray(preds, dtype=np.float64)
    if ignore_nan:
        mask = ~(np.isnan(trues) | np.isnan(preds))
        trues, preds = trues[mask], preds[mask]
    if len(trues) == 0:
        nan = float("nan")
        return {"MSE": nan, "RMSE": nan, "MAE": nan, "MAPE": nan, "MSPE": nan,
                "R2": nan, "valid_samples": 0}
    err = trues - preds
    mse = float(np.mean(err ** 2))
    denom = np.where(trues != 0, trues, 1.0)
    ss_tot = float(np.sum((trues - trues.mean()) ** 2))
    return {
        "MSE": mse,
        "RMSE": float(np.sqrt(mse)),
        "MAE": float(np.mean(np.abs(err))),
        "MAPE": float(np.mean(np.abs(err / denom))) * 100,
        "MSPE": float(np.mean((err / denom) ** 2)) * 100,
        "R2": 1 - float(np.sum(err ** 2)) / ss_tot if ss_tot != 0 else float("nan"),
        "valid_samples": int(len(trues)),
    }


def lttb_reference(xs, ys, n_out):
    """Scalar (loop-based) LTTB twin of operators/downsample.lttb_select —
    independent implementation for parity tests: same bucket convention
    (inverse index map), same next-bucket centroid anchor, same
    first-max/earliest-ts tie-break. Returns selected indices."""
    n = len(xs)
    if n_out >= n or n <= 2:
        return list(range(n))
    if n_out < 3:
        return [0, n - 1]
    nb = n_out - 2
    interior = n - 2
    buckets = [[] for _ in range(nb)]
    for j in range(interior):
        buckets[(j * nb) // interior].append(j + 1)
    sel = [0]
    for i in range(nb):
        if i + 1 < nb:
            nxt = buckets[i + 1]
            cx = sum(xs[k] for k in nxt) / len(nxt)
            cy = sum(ys[k] for k in nxt) / len(nxt)
        else:
            cx, cy = xs[n - 1], ys[n - 1]
        ax, ay = xs[sel[-1]], ys[sel[-1]]
        best, best_area = None, -1.0
        for k in buckets[i]:
            area = abs((ax - cx) * (ys[k] - ay) - (ax - xs[k]) * (cy - ay))
            if area > best_area:
                best, best_area = k, area
        sel.append(best)
    sel.append(n - 1)
    return sel
