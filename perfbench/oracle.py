"""Independent answers, recomputed in numpy from the seeded generator.

Each ``check_*`` takes the generator's points for one stream (``times``, and
values as integer hundredths ``q``) plus a decoded wire answer, and returns
None when they agree or a short description of the first difference.
"""

from __future__ import annotations

import numpy as np


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def _stats(q: np.ndarray, idx: np.ndarray):
    """Per-group (count, min, mean, max) of q split at group starts `idx`."""
    cnt = np.diff(np.append(idx, len(q)))
    mn = np.minimum.reduceat(q, idx) / 100.0
    mx = np.maximum.reduceat(q, idx) / 100.0
    # the ladder's quantized mean: float(sum of hundredths) * 0.01 / count
    mean = np.add.reduceat(q, idx).astype(np.float64) * 0.01 / cnt
    return cnt, mn, mean, mx


def check_stat(got: list[dict], want: list[tuple]) -> str | None:
    """Compare decoded stat rows with (time, count, min, mean, max) tuples."""
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    for g, (t, c, mn, mean, mx) in zip(got, want):
        if g["time"] != t or g.get("count", 0) != c:
            return f"window {t}: got {g}, want count {c}"
        if c and not (
            g["min"] == mn and g["max"] == mx and _close(g["mean"], mean)
        ):
            return f"window {t}: got {g}, want {(mn, mean, mx)}"
    return None


def aligned_windows(times, q, start: int, end: int, pw: int) -> list[tuple]:
    """Non-empty 2**pw buckets whose start is in [floor(start), floor(end))."""
    lo, hi = start >> pw << pw, end >> pw << pw
    sel = (times >= lo) & (times < hi)
    t, qq = times[sel], q[sel]
    if not len(t):
        return []
    b = t >> pw << pw
    idx = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
    return list(zip(b[idx].tolist(), *(a.tolist() for a in _stats(qq, idx))))


def windows(times, q, start: int, end: int, width: int) -> list[tuple]:
    """Whole windows of `width` from `start`, holes as count 0."""
    end -= (end - start) % width
    n = (end - start) // width
    sel = (times >= start) & (times < end)
    w = (times[sel] - start) // width
    qq = q[sel]
    out = [(start + k * width, 0, None, None, None) for k in range(n)]
    if len(w):
        idx = np.flatnonzero(np.r_[True, w[1:] != w[:-1]])
        for k, c, mn, mean, mx in zip(w[idx].tolist(), *_stats(qq, idx)):
            out[k] = (start + k * width, int(c), mn, mean, mx)
    return out


def check_raw(times_got, values_got, times, q) -> str | None:
    if len(times_got) != len(times):
        return f"{len(times_got)} points, want {len(times)}"
    if not np.array_equal(np.asarray(times_got, dtype=np.int64), times):
        return "times differ"
    if not np.array_equal(np.asarray(values_got, dtype=np.float64), q / 100.0):
        return "values differ"
    return None


def nearest(times, t: int, backward: bool) -> int:
    """Index of the nearest point before t (backward) or at/after t."""
    if backward:
        return int(np.searchsorted(times, t, side="left")) - 1
    return int(np.searchsorted(times, t, side="left"))


def changed_ranges(times, res: int) -> list[tuple[int, int]]:
    """2**res-coarsened ranges covering `times`, adjacent ranges merged."""
    b = np.unique(np.asarray(times) >> res)
    if not len(b):
        return []
    brk = np.flatnonzero(np.diff(b) > 1)
    starts = np.r_[b[0], b[brk + 1]]
    ends = np.r_[b[brk], b[-1]] + 1
    return [(int(s) << res, int(e) << res) for s, e in zip(starts, ends)]
