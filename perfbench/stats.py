"""The benchmark's arithmetic, kept apart from the run so it can be tested:
percentiles, shares, ratios and interval unions over the raw run record
the Scala harness writes."""
from collections import defaultdict

TAIL_BEYOND = 10


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    m = n // 2
    return xs[m] if n % 2 else (xs[m - 1] + xs[m]) / 2


def ptail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples). The value is the sorted sample with ten
    samples above it; its percentile is the share of samples at or below
    it. None when there are fewer than eleven samples."""
    xs = sorted(xs)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    i = n - 1 - TAIL_BEYOND
    return xs[i], 100.0 * (i + 1) / n, n


def failed_share(ops):
    """Failed ops (a throw or a failed output check) over ops attempted."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def op_ms(o):
    return o["t1"] - o["t0"]


def op_cal(o):
    """An op's time in units of the calibration time taken right before
    it, so load that comes and goes within a run cancels op by op."""
    return op_ms(o) / o["cal"]


def by_kind(ops, cls=None, value=op_ms):
    out = defaultdict(list)
    for o in ops:
        if cls is None or o["cls"] == cls:
            out[o["kind"]].append(value(o))
    return out


def deck_time(ops, cls, deck, value=op_ms):
    """Median time of one deck's `cls` ops (all ops when `cls` is None):
    each kind's median `value` times the number of times the deck holds
    that kind, summed. A kind weighs as much as the deck uses it, so a
    slowdown of one kind moves the sum by that kind's share of the deck's
    time. (A pooled median of a mix of kinds jumps between kinds as the mix
    shifts from run to run; an unweighted mean over kinds lets a rarely
    used kind count as much as the busiest one.)"""
    kinds = by_kind(ops, cls, value)
    if not kinds:
        raise ValueError(f"no {cls} ops")
    return sum(deck[k] * median(v) for k, v in kinds.items())


def pass_times(ops):
    """Summed op time of each complete pass, in pass order. A pass is
    complete when it has as many ops as the fullest pass (the run may end
    inside a pass)."""
    passes = defaultdict(list)
    for o in ops:
        if o["pass"] >= 0:
            passes[o["pass"]].append(op_ms(o))
    if not passes:
        return []
    full = max(len(v) for v in passes.values())
    return [sum(passes[p]) for p in sorted(passes) if len(passes[p]) == full]


def drift_ratio(times):
    """Median pass time of the last third of passes over that of the first
    third; with fewer than three passes, last over first."""
    n = len(times)
    if n < 2:
        return None
    k = n // 3
    if k == 0:
        return times[-1] / times[0]
    return median(times[-k:]) / median(times[:k])


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_ms(ops, jobs):
    """Per op: wall time outside every Spark job interval, summed."""
    return sum(op_ms(o) - union_ms(jobs, o["t0"], o["t1"]) for o in ops)


def slot_utilization(task_ms, wall_ms, cores):
    """Task time over the slot time the ops had: wall time times cores."""
    if wall_ms <= 0 or cores <= 0:
        raise ValueError("no wall time or no cores")
    return task_ms / (wall_ms * cores)


def self_times(spans):
    """Self time per span: its duration minus the part of it that its
    child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append((s["t0"], s["t1"]))
    return {s["id"]: (s["t1"] - s["t0"]) - union_ms(children[s["id"]], s["t0"], s["t1"])
            for s in spans}


def layer_shares(spans):
    """Each layer's self time inside ops as a share (%) of op time; the op
    spans' own self time is reported as layer `op`."""
    st = self_times(spans)
    inside = [s for s in spans if s["op"] >= 0]
    op_total = sum(s["t1"] - s["t0"] for s in inside if s["layer"] == "op")
    shares = defaultdict(float)
    for s in inside:
        shares[s["layer"]] += st[s["id"]]
    if op_total <= 0:
        return {}
    return {k: 100.0 * v / op_total for k, v in shares.items()}
