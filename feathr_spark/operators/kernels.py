"""Vectorized numpy/pandas merge kernels for the sliding-window join (and,
through a LATEST over the fact ts, the fused as-of match).

These run inside cogrouped ``applyInPandas`` (Arrow-batched, one call per
hash bucket of entity keys) and are the vectorized replacement for the
reference's row-at-a-time sorted-merge iterator
(feathr-impl/.../swj/join/SlidingWindowJoinIterator.scala:59-124). Every
function works on the bucket-wide arrays sorted by (key code, ts):

- window bounds ``(t_obs - width - delay, t_obs - delay]`` for every obs
  row via two ``np.searchsorted`` over a composite (key, ts) code (the
  vectorized analogue of moveStartIndex/moveEndIndex,
  SlidingWindowJoinIterator.scala:177-220); a window never crosses a key,
  so each aggregate below just reads ``[lo, hi)``
- SUM/COUNT/AVG via float64 prefix sums (the vectorized analogue of the
  incremental agg/deagg path, :252-271) — O(n + q) per bucket
- MIN/MAX via a sparse table (O(n log n) build, O(1) per query)
- LATEST via a last-valid-index scan; TIMESINCE reads that row's ts
- COUNT_DISTINCT via interval stabbing (two searchsorteds per bucket)

Determinism: fact rows are sorted by (key, ts) with a stable sort, and all
float accumulation is float64 prefix sums over that order, so results
are reproducible given the same input rows per bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# ---------------------------------------------------------------------------
# low-level primitives
# ---------------------------------------------------------------------------


def _prefix_sum_count(v: np.ndarray):
    """(cumulative sum of non-null, cumulative count of non-null), each
    length n+1 with a leading 0."""
    m = ~np.isnan(v)
    cs = np.zeros(len(v) + 1, dtype=np.float64)
    np.cumsum(np.where(m, v, 0.0), out=cs[1:])
    cn = np.zeros(len(v) + 1, dtype=np.int64)
    np.cumsum(m, out=cn[1:])
    return cs, cn


class SparseTable:
    """Range-min/max over arbitrary [lo, hi) intervals, NaN-skipping."""

    def __init__(self, v: np.ndarray, op):
        self.op = op  # np.fmin or np.fmax (NaN-ignoring)
        self.levels = [np.asarray(v, dtype=np.float64)]
        n = len(v)
        k = 1
        while (1 << k) <= n:
            prev = self.levels[-1]
            half = 1 << (k - 1)
            self.levels.append(self.op(prev[: n - (1 << k) + 1], prev[half : n - half + 1]))
            k += 1

    def query(self, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
        """Vectorized query; empty intervals (hi<=lo) yield NaN."""
        out = np.full(len(lo), np.nan)
        length = hi - lo
        nonempty = length > 0
        if not nonempty.any():
            return out
        ks = np.zeros(len(lo), dtype=np.int64)
        ks[nonempty] = np.floor(np.log2(length[nonempty])).astype(np.int64)
        for k in np.unique(ks[nonempty]):
            sel = nonempty & (ks == k)
            lv = self.levels[k]
            a = lv[lo[sel]]
            b = lv[hi[sel] - (1 << int(k))]
            out[sel] = self.op(a, b)
        return out


def _last_valid_index(valid: np.ndarray) -> np.ndarray:
    """lvi[i] = largest j <= i with valid[j], else -1."""
    idx = np.where(valid, np.arange(len(valid)), -1)
    return np.maximum.accumulate(idx) if len(idx) else idx


# ---------------------------------------------------------------------------
# per-aggregate window evaluation over [lo, hi) of (key, ts)-sorted inputs
# ---------------------------------------------------------------------------


def agg_sum(v, lo, hi):
    cs, cn = _prefix_sum_count(v)
    n = cn[hi] - cn[lo]
    s = cs[hi] - cs[lo]
    return np.where(n > 0, s, np.nan)


def agg_avg(v, lo, hi):
    cs, cn = _prefix_sum_count(v)
    n = cn[hi] - cn[lo]
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(n > 0, (cs[hi] - cs[lo]) / n, np.nan)


def agg_count(v, lo, hi):
    """COUNT follows the reference rewrite (SlidingWindowFeatureUtils.scala:184-188):
    the metric arrives already rewritten to 1/0/null, so COUNT == SUM of it."""
    return agg_sum(v, lo, hi)


def agg_min(v, lo, hi):
    return SparseTable(v, np.fmin).query(lo, hi)


def agg_max(v, lo, hi):
    return SparseTable(v, np.fmax).query(lo, hi)


def agg_latest(v, valid, lo, hi):
    """Last non-null value in the window (LatestAggregate.scala)."""
    lvi = _last_valid_index(valid)
    out_idx = np.full(len(lo), -1, dtype=np.int64)
    nonempty = hi > 0
    out_idx[nonempty] = lvi[hi[nonempty] - 1]
    ok = (out_idx >= lo) & (out_idx >= 0)
    return out_idx, ok


def agg_pooling(arrs, lo, hi, op: str):
    """Element-wise pooling over array-valued metric (MaxPooling etc.).

    ``arrs``: object ndarray of float arrays (or None). Returns an object
    array of lists (or None).
    """
    fn = {"MAX_POOLING": np.nanmax, "MIN_POOLING": np.nanmin,
          "SUM_POOLING": np.nansum, "AVG_POOLING": np.nanmean}[op]
    out = np.full(len(lo), None, dtype=object)
    for i in range(len(lo)):
        vs = [a for a in arrs[lo[i] : hi[i]] if a is not None and len(a)]
        if vs:
            out[i] = fn(np.stack([np.asarray(a, dtype=np.float64) for a in vs]), axis=0).tolist()
    return out


def agg_grouped(codes, groups, v, lo, hi, agg: str, limit):
    """GroupBy-within-window: per obs row, aggregate metric per group
    value, emit array<struct<group,value>> sorted by value desc, top-K.

    ``codes`` index ``groups`` (-1 for null) over the whole bucket; each
    window compacts the codes it holds, so its cost follows the window
    size, not the bucket's group count.

    Reference: GroupBySpec (SlidingWindowDataDef.scala:63-65) +
    takeTopK (SlidingWindowJoinIterator.scala:559-584).
    """
    if agg not in ("SUM", "COUNT", "AVG", "MIN", "MAX"):
        raise ValueError(f"grouped SWA does not support {agg}")
    out = np.full(len(lo), None, dtype=object)
    valid = ~np.isnan(v)
    for i in range(len(lo)):
        s, e = lo[i], hi[i]
        if e <= s:
            continue
        m = (codes[s:e] >= 0) & valid[s:e]
        if not m.any():
            continue
        present, c = np.unique(codes[s:e][m], return_inverse=True)
        vv = v[s:e][m]
        if agg in ("MIN", "MAX"):
            # fancy-assignment: last write per group wins, so order the
            # writes so the extremum lands last
            order = np.argsort(vv, kind="stable")
            if agg == "MIN":
                order = order[::-1]
            vals = np.full(len(present), np.nan)
            vals[c[order]] = vv[order]
        else:
            vals = np.bincount(c, weights=vv, minlength=len(present))
            if agg == "AVG":
                vals = vals / np.bincount(c, minlength=len(present))
        pairs = sorted(zip([groups[g] for g in present], vals.tolist()),
                       key=lambda t: (-t[1], t[0]))
        if limit:
            pairs = pairs[:limit]
        out[i] = [{"group": g, "value": val} for g, val in pairs]
    return out


# ---------------------------------------------------------------------------
# bucket-wide key codes and window bounds (bucketed cogroup)
# ---------------------------------------------------------------------------


def combined_codes(obs_cols: list, fact_cols: list):
    """Shared dense int64 codes for multi-column keys across two frames.

    Each column is factorized over the concatenation of both sides (nulls
    become a real category) and folded into the running code, which is
    re-factorized after every fold. Codes thus stay below the bucket's
    distinct-key count: ``combo * k + codes`` never overflows, and the
    composites of global_window_bounds / global_count_distinct stay
    narrow. Equal keys — across sides — get equal codes.
    """
    n_obs = len(obs_cols[0]) if obs_cols else 0
    combo = None
    for ocol, fcol in zip(obs_cols, fact_cols):
        both = pd.concat(
            [pd.Series(ocol).reset_index(drop=True), pd.Series(fcol).reset_index(drop=True)],
            ignore_index=True,
        )
        codes, uniques = pd.factorize(both, use_na_sentinel=False)
        codes = codes.astype(np.int64)
        if combo is None:
            combo = codes
        elif len(uniques) > 1:
            combo = pd.factorize(combo * len(uniques) + codes)[0].astype(np.int64)
    return combo[:n_obs], combo[n_obs:]


def _check_composite(kmax: int, width: int) -> None:
    if kmax > (2**62) // width:
        raise OverflowError(f"{kmax} key codes x {width} ranks overflow the int64 "
                            "(key, ts) composite of one kernel bucket")


def global_window_bounds(fc: np.ndarray, fts: np.ndarray, oc: np.ndarray,
                         ots: np.ndarray, width_us: int, delay_us: int):
    """Window bounds for EVERY obs row of a bucket in two searchsorteds.

    Inputs are the bucket-wide (key-code, ts)-lexsorted arrays. Keys and
    timestamps are packed into one int64 composite: ``code * span + (ts
    - base)`` when the key-cardinality x timestamp-SPAN product fits in
    int64 (the cheap common case — window-edge targets are clipped into
    ``[-1, span - 1]`` so a window can never bleed into a neighboring
    key's band), else ``code * (U + 1) + rank(ts)`` where ``rank``
    indexes the sorted UNIQUE fact timestamps (U of them) — rank
    compression costs one extra sort but keeps the composite width at
    the number of distinct times actually present instead of the raw
    span, so a years-wide microsecond timeline costs ~log2(U) bits, not
    ~45. O((n+m) log n) per bucket, whatever its key count.

    Returns (lo, hi) global indices. Raises OverflowError when even the
    rank-compressed composite would overflow int64; with the dense key
    codes of combined_codes that takes ~2e9 rows in one bucket.
    """
    n_obs = len(ots)
    if len(fts) == 0:
        z = np.zeros(n_obs, dtype=np.int64)
        return z, z
    kmax = int(max(fc.max(initial=0), oc.max(initial=0))) + 1
    base = int(fts.min())
    top = max(int(fts.max()), int(ots.max()) if n_obs else base)
    span = top - base + 2
    if kmax <= (2**62) // span:
        comp_f = fc * span + (fts - base)
        t_lo = np.clip(ots - width_us - delay_us - base, -1, span - 1)
        t_hi = np.clip(ots - delay_us - base, -1, span - 1)
        lo = np.searchsorted(comp_f, oc * span + t_lo, side="right")
        hi = np.searchsorted(comp_f, oc * span + t_hi, side="right")
        return lo, hi
    uts = np.unique(fts)
    width = len(uts) + 1
    _check_composite(kmax, width)
    # comp_f is sorted: fc ascending, and within a key fts ascending
    comp_f = fc * width + np.searchsorted(uts, fts)
    r_lo = np.searchsorted(uts, ots - width_us - delay_us, side="right")
    r_hi = np.searchsorted(uts, ots - delay_us, side="right")
    lo = np.searchsorted(comp_f, oc * width + r_lo, side="left")
    hi = np.searchsorted(comp_f, oc * width + r_hi, side="left")
    return lo, hi


def global_count_distinct(fc: np.ndarray, fts: np.ndarray, oc: np.ndarray,
                          ots: np.ndarray, codes: np.ndarray,
                          width_us: int, delay_us: int):
    """Exact COUNT_DISTINCT for EVERY obs window of a bucket in O(n log n)
    — no per-obs-row loop (the naive per-window ``np.unique`` is
    O(rows x window) and was measured 78x slower than the prefix-sum
    aggregates; a single 50k-row key made one bucket a 6s straggler).

    The trick: a fact row k is the FIRST in-window occurrence of its
    value — i.e. contributes 1 to the distinct count — iff the window's
    exclusive lower bound L = T - width - delay satisfies
    ``max(ts_k - width, prev_k) <= L < ts_k``, where ``prev_k`` is the
    timestamp of the previous same-(key, value) fact. Each fact row thus
    covers one INTERVAL of L values, and the answer per obs row is
    interval-stabbing: ``#(starts <= L) - #(ends <= L)`` — two
    searchsorteds over the whole bucket, keys kept apart by the same
    two-tier composite packing as global_window_bounds: ``key * span +
    offset`` when it fits int64, else rank-compressed ``key * (U + 1) +
    rank(value)`` (one shared rank table over interval starts, ends,
    and query bounds preserves every <=-comparison, including ties).

    ``codes``: int64 value codes per fact row (fact-sorted order), -1 for
    null (nulls never count). Returns per-obs counts (0 when the window
    has no non-null values — caller maps 0 to null). Raises OverflowError
    like global_window_bounds.
    """
    n_obs = len(ots)
    if len(fts) == 0:
        return np.zeros(n_obs, dtype=np.int64)
    nn = codes >= 0
    fc_v, fts_v, code_v = fc[nn], fts[nn], codes[nn]
    if len(fts_v) == 0:
        return np.zeros(n_obs, dtype=np.int64)
    # prev same-(key, value) timestamp; first occurrences have no prev
    # (the max() below then just keeps ts - width)
    o2 = np.lexsort((fts_v, code_v, fc_v))
    same = np.zeros(len(o2), dtype=bool)
    same[1:] = (fc_v[o2][1:] == fc_v[o2][:-1]) & (code_v[o2][1:] == code_v[o2][:-1])
    prev_sorted = np.full(len(o2), np.iinfo(np.int64).min, dtype=np.int64)
    prev_sorted[1:] = np.where(same[1:], fts_v[o2][:-1], np.iinfo(np.int64).min)
    prev = np.empty(len(o2), dtype=np.int64)
    prev[o2] = prev_sorted
    # interval [s, e) of L values in which row k is the window's first
    # occurrence of its value
    s_val = np.maximum(fts_v - width_us, prev)
    e_val = fts_v
    l_val = ots - width_us - delay_us
    kmax = int(max(fc.max(initial=0), oc.max(initial=0))) + 1
    # span packing first (cheap), rank compression when span overflows
    # (same two-tier scheme as global_window_bounds)
    base = min(int(s_val.min()), int(l_val.min()) if n_obs else int(s_val.min()))
    top = max(int(e_val.max()), int(l_val.max()) if n_obs else int(e_val.max()))
    span = top - base + 2
    if kmax <= (2**62) // span:
        starts = np.sort(fc_v * span + (s_val - base))
        ends = np.sort(fc_v * span + (e_val - base))
        comp_l = oc * span + np.clip(l_val - base, 0, span - 1)
        return (np.searchsorted(starts, comp_l, side="right")
                - np.searchsorted(ends, comp_l, side="right"))
    uvals = np.unique(np.concatenate([s_val, e_val, l_val]))
    width = len(uvals) + 1
    _check_composite(kmax, width)
    starts = np.sort(fc_v * width + np.searchsorted(uvals, s_val))
    ends = np.sort(fc_v * width + np.searchsorted(uvals, e_val))
    comp_l = oc * width + np.searchsorted(uvals, l_val)
    return (np.searchsorted(starts, comp_l, side="right")
            - np.searchsorted(ends, comp_l, side="right"))


def valid_mask(obj_arr: np.ndarray) -> np.ndarray:
    """Vectorized non-null mask over an object array (None/NaN-aware)."""
    if len(obj_arr) == 0:
        return np.zeros(0, dtype=bool)
    return ~pd.isna(pd.Series(obj_arr)).to_numpy()
