"""Arithmetic of the benchmark: percentiles, throughput, span self time
and the open-loop verdict."""
import math
import statistics

INF = float("inf")


def nearest_rank(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    values at or below it (p in (0, 100]). None for no values."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[min(rank, len(xs)) - 1]


def tail_pct(n, target=99.0, beyond=10):
    """The highest percentile, at most `target`, that leaves at least
    `beyond` of `n` samples above its nearest-rank position. With fewer
    than 2 * `beyond` samples no percentile above the median does, and the
    maximum (100) is reported instead."""
    if n < 2 * beyond:
        return 100.0
    best = math.floor(100.0 * (n - beyond) / n * 1000) / 1000
    while math.ceil(best / 100.0 * n) > n - beyond:  # guard float rounding
        best -= 0.001
    return min(target, best)


def tail(values, target=99.0, beyond=10):
    """(value, percentile used, sample count) under the tail rule."""
    p = tail_pct(len(values), target, beyond)
    return nearest_rank(values, p), p, len(values)


def closed_rate(segments, bin_ms=500.0, min_per_bin=20):
    """Successful requests per second in a closed loop, from its segments,
    each given as (the (start, end) ms of its successful requests, from
    the segment's start; the window in ms after which it sent no more).
    With at least `min_per_bin` requests per `bin_ms` bin: the median over
    all whole bins of the windows of the requests ending in each, so that
    a stall in one bin moves it little. With fewer (a few long requests,
    which bins would split arbitrarily): the work done inside the windows
    per second, each request counting with the share of its run time that
    fell inside them."""
    counts, work, total_ms = [], 0.0, 0.0
    for reqs, window_ms in segments:
        bins = [0] * int(window_ms // bin_ms)
        for s, e in reqs:
            if e < len(bins) * bin_ms:
                bins[int(e // bin_ms)] += 1
            work += max(0.0, min(e, window_ms) - s) / (e - s) if e > s else float(e <= window_ms)
        counts += bins
        total_ms += window_ms
    n = sum(len(reqs) for reqs, _ in segments)
    if counts and n >= min_per_bin * len(counts):
        return statistics.median(counts) * 1000.0 / bin_ms
    return work / (total_ms / 1000.0)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover (children clipped to the parent; overlapping children
    counted once). `spans` holds (id, parent, start, end); returns
    {id: self}."""
    kids = {}
    for sid, parent, s, e in spans:
        kids.setdefault(parent, []).append((s, e))
    out = {}
    for sid, parent, s, e in spans:
        clipped = [(max(s, cs), min(e, ce)) for cs, ce in kids.get(sid, [])]
        out[sid] = (e - s) - union_length(clipped)
    return out


def open_loop_health(ph, rate):
    """(generator late p99 in ms, reasons the run is invalid) for an
    open-loop phase `ph` (its `sent`, `sched_ms`, `disp_ms`, `end_ms` and
    `backlog` samples) sent at `rate` per second. A single late send is
    jitter, and its request is timed from the schedule anyway; the
    generator has fallen behind when its sends in the last third of the
    phase are late by more than one send interval at the median. The
    backlog keeps growing when its mean over the last third of the samples
    is over twice that of the middle third (plus 8) and over a quarter of
    a second's sends."""
    late = [ph["disp_ms"][j] - ph["sched_ms"][j] for j in range(ph["sent"])]
    b = ph["backlog"]
    third = max(1, len(b) // 3)
    mid, last = statistics.mean(b[third:2 * third] or b), statistics.mean(b[-third:])
    late_end = nearest_rank(late[-max(1, len(late) // 3):], 50) or 0.0
    why = []
    if late_end > 1000.0 / rate:
        why.append(f"generator fell behind: median lateness {late_end:.1f} ms in the last "
                   "third of sends, over one send interval")
    if last > 2 * mid + 8 and last > 0.25 * rate:
        why.append(f"backlog grew from {mid:.1f} to {last:.1f}")
    unfinished = sum(1 for e in ph["end_ms"][:ph["sent"]] if e < 0)
    if unfinished:
        why.append(f"{unfinished} requests unfinished")
    return nearest_rank(late, 99) or 0.0, why
