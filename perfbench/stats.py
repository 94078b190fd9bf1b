"""The benchmark's arithmetic: percentiles, interval unions, open-loop
freshness and the pinned-snapshot consistency check. Pure functions;
tested by test_stats.py."""
import math


def tail_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten of `n` samples
    beyond it, or None when not even the median has."""
    for p in candidates:
        if n * (1 - p / 100.0) >= 10 - 1e-9:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values):
    return percentile(values, 50)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, windows):
    """The parts of `intervals` that fall inside any of `windows`."""
    out = []
    for s, e in intervals:
        for ws, we in windows:
            cs, ce = max(s, ws), min(e, we)
            if ce > cs:
                out.append((cs, ce))
    return out


def driver_only(windows, job_intervals):
    """Wall time of `windows` during which no Spark job was running:
    wall time minus the union of job intervals inside the windows."""
    wall = union_length(windows)
    return wall - union_length(clip(job_intervals, windows))


def freshness(ticks, batches, commit_ms):
    """Open-loop freshness, one value per generator tick: from the time
    the tick was DUE (not when it was sent, so a late generator or a
    stall counts against every tick it delays) to the commit of the
    first bronze snapshot holding all of its records.

    ticks:     [(due_ms, [end offset per partition after the tick])]
    batches:   [[end offset per partition]] of committed micro-batches,
               in batch order
    commit_ms: snapshot commit time of each of those batches
    Returns the list of freshness values; raises if a tick never
    became visible."""
    if len(batches) != len(commit_ms):
        raise ValueError(f"{len(batches)} batches but {len(commit_ms)} commits")
    out = []
    b = 0
    for due, ends in ticks:
        while b < len(batches) and any(
                have < want for have, want in zip(batches[b], ends)):
            b += 1
        if b == len(batches):
            raise ValueError(f"tick due at {due} never committed")
        out.append(commit_ms[b] - due)
    return out


def prefixes(ticks, lo):
    """{(rows, amount sum)} of every whole-tick prefix of one partition
    starting at tick `lo`; ticks[k] = (rows, amount sum) of tick k."""
    rows = total = 0
    states = {(0, 0)}
    for n, s in ticks[lo:]:
        rows += n
        total += s
        states.add((rows, total))
    return states


def consistent_read(n, distinct, amount_sum, per_tick, lo=0):
    """True when a pinned-snapshot read saw every partition's records
    through some whole generator batch (no half batch) and no orderId
    twice: distinct ids equal rows, and (rows, amount sum) is the sum
    of one whole-tick prefix per partition, counted from tick `lo`.
    per_tick[p][k] = (rows, whole-unit amount sum) of tick k on
    partition p."""
    if distinct != n:
        return False
    parts = [prefixes(t, lo) for t in per_tick]
    combos = {(0, 0)}
    for states in parts[:-1]:
        combos = {(r + sr, a + sa) for r, a in combos for sr, sa in states
                  if r + sr <= n}
    last = parts[-1]
    want = int(round(amount_sum))
    return any((n - r, want - a) in last for r, a in combos)


def weighted_percentile(samples, p):
    """Nearest-rank percentile of (value, weight) samples: the smallest
    value with at least p% of the total weight at or below it."""
    total = sum(w for _, w in samples)
    if total <= 0:
        raise ValueError("percentile of no weight")
    need = p / 100.0 * total
    acc = 0
    for v, w in sorted(samples):
        acc += w
        if acc >= need - 1e-9:
            return v
    return max(v for v, _ in samples)
