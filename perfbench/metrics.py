"""Arithmetic behind the benchmark's metrics, kept free of I/O so that
test_metrics.py can check it on hand-computed inputs."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def tail_percentile(samples, beyond=10):
    """The highest nearest-rank percentile with at least `beyond` samples
    above it. Returns (percentile, value, sample count). When that
    percentile would sit below the median, the sample supports no tail:
    the median is returned, as percentile 50."""
    xs = sorted(samples)
    n = len(xs)
    rank = n - beyond  # 1-based rank of the reported sample
    if 2 * rank < n:
        return 50.0, median(xs), n
    return 100.0 * rank / n, xs[rank - 1], n


def half_windows(xs):
    """First and second half of a sequence in run order (at least one item
    each; the middle item of an odd-length sequence falls in neither)."""
    h = max(1, len(xs) // 2)
    return xs[:h], xs[-h:]


def growth(xs):
    """Median of the second half over the median of the first half."""
    first, last = half_windows(xs)
    return median(last) / median(first)


# ---- byte accounting for the sink -------------------------------------

def changed_bytes(before, after):
    """Bytes of files that are new in `after`, or whose size or mtime
    changed. A listing maps a path to (bytes, mtime_ns)."""
    return sum(a[0] for p, a in after.items()
               if p not in before or tuple(before[p]) != tuple(a))


def dir_bytes(listing):
    return sum(v[0] for v in listing.values())


def _count_mod_below(lo, hi, m, k):
    """How many i in [lo, hi) have i % m < k."""
    def upto(x):  # i in [0, x)
        return (x // m) * k + min(x % m, k)
    return upto(hi) - upto(lo)


def _digit_counts(lo, hi):
    """(digits, how many i in [lo, hi) have that many digits), i >= 0."""
    out, d, start = [], 1, 0
    while start < hi:
        end = 10 ** d
        a, b = max(lo, start), min(hi, end)
        if a < b:
            out.append((d, b - a))
        start, d = end, d + 1
    return out


def cell_bytes(lo, hi):
    """UTF-8 bytes of the five sink cells of submissions lo..hi-1 under the
    source's row model: 'V' || i % 97, 'order ' || i, an ISO date,
    'C' || i % 7 and 'U%09dD'."""
    if hi <= lo:
        return 0
    n = hi - lo
    digits = _digit_counts(lo, hi)
    vendor = 3 * n - _count_mod_below(lo, hi, 97, 10)
    description = sum((6 + d) * c for d, c in digits)
    picker_erk, charge_code = 10 * n, 2 * n
    po = sum((2 + max(9, d)) * c for d, c in digits)
    return vendor + description + picker_erk + charge_code + po


def charge_code_counts(rows):
    """Closed-form count(*) by charge_code over submissions 0..rows-1."""
    return {f"C{c}": rows // 7 + (1 if c < rows % 7 else 0) for c in range(7)}


def po_number(i):
    return f"U{i:09d}D"


# ---- spans --------------------------------------------------------------

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Span id -> its duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_length([(max(a, c["start_ns"]), min(b, c["end_ns"]))
                                for c in children.get(s["id"], [])
                                if c["end_ns"] > a and c["start_ns"] < b])
        out[s["id"]] = (b - a) - covered
    return out


def within(t_ns, span):
    return span["start_ns"] <= t_ns <= span["end_ns"]
