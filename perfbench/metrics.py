"""Pure helpers that turn a run's raw samples into metrics.

Kept free of I/O so perfbench/test_metrics.py can pin them.
"""
import math
import statistics

MASK64 = (1 << 64) - 1


median = statistics.median  # raises a ValueError on no samples


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    sample at 0-based index i has n-1-i samples beyond it, so the highest
    qualifying index is n-1-beyond, the percentile 100*(i+1)/n. With fewer
    than beyond+1 samples no percentile qualifies and the result is
    (max, 100.0, n), which callers must label as a maximum.
    """
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    i = n - 1 - beyond
    if i < 0:
        return s[-1], 100.0, n
    return s[i], 100.0 * (i + 1) / n, n


def per_pass(ops, f):
    """[f(operations of pass i) for each pass i, in pass order]."""
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    return [f(passes[i]) for i in sorted(passes)]


def error_rate(attempted, failed):
    """Operations that failed or returned a wrong result / attempted."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def amplification(bytes_out, input_bytes):
    """Bytes written (or stored) per byte of ingested input."""
    if input_bytes <= 0:
        raise ValueError("no input bytes ingested")
    return bytes_out / input_bytes


def pair_digest(rows):
    """Order-insensitive digest of (user_id, value) rows; the same
    arithmetic as StoreIngest.pairDigest on the JVM side."""
    s = 0
    n = 0
    for u, v in rows:
        x = (int(u) * 0x9E3779B97F4A7C15 + int(v) * 0xC2B2AE3D27D4EB4F) & MASK64
        x ^= x >> 31
        s = (s + x * 0x94D049BB133111EB) & MASK64
        n += 1
    return f"{n}:{s:016x}"


def poisson_allowance(lam, p=1e-6):
    """Smallest k with P(Poisson(lam) > k) < p: the number of misses an
    approximate operator may show when the expected number is lam."""
    k = 0
    term = math.exp(-lam)
    cdf = term
    while 1.0 - cdf >= p:
        k += 1
        term *= lam / k
        cdf += term
    return k


def lsh_cosine_miss(sim, planes=3, tables=24):
    """Probability that random-hyperplane LSH never collides a pair of
    cosine `sim` in any of `tables` tables of `planes` planes."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, sim))) / math.pi
    return (1.0 - p ** planes) ** tables


def minhash_miss(jaccard, rows=4, bands=24):
    """Probability that MinHash banding (bands x rows) misses a pair of
    Jaccard similarity `jaccard`."""
    return (1.0 - jaccard ** rows) ** bands


def spread(values):
    """(median, q1, q3, (q3 - q1) / median) with statistics.quantiles."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = median(values)
    return m, q1, q3, (q3 - q1) / m if m else float("inf")
