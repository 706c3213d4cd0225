"""Statistics, checksums and run-context helpers shared by every workload.

Nothing here imports Spark or the program under test, so the unit tests in
``perfbench/tests`` run in a second and the figures these helpers produce
are computed apart from the code they judge.
"""

from __future__ import annotations

import hashlib
import math
import statistics
import time

# Spark width the benchmark pins (run.spark_width); the count triggers of
# the file drop are multiples of it (gen.PREFIXES).
MAX_WIDTH = 2

# Percentiles the tail rule may name, highest first. A fixed ladder keeps
# the reported percentile the same from run to run as long as the sample
# count stays inside one band (see README, "Tail percentile").
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float:
    """The highest ladder percentile with at least ``MIN_BEYOND`` samples
    beyond it; 50 (the median alone) below ``4 * MIN_BEYOND`` samples,
    where no ladder step leaves ten samples above it."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return 50.0


def latency_summary(samples: list[float]) -> dict:
    """Median, tail value and the percentile the tail names.

    The tail value is the nearest-rank sample: with ``n`` samples and
    percentile ``p`` it is the ``ceil(p/100 * n)``-th smallest, so exactly
    ``n - rank`` samples (at least ten) lie beyond it."""
    if not samples:
        raise ValueError("no latency samples")
    xs = sorted(samples)
    n = len(xs)
    p = tail_percentile(n)
    if p == 50.0:
        tail = statistics.median(xs)
    else:
        rank = math.ceil(p / 100.0 * n)
        tail = xs[rank - 1]
    return {"n": n, "p50": statistics.median(xs), "tail": tail, "tail_pct": p}


def grouped_summary(groups: dict[str, list[float]]) -> dict:
    """Latency summary of a workload whose operations fall into groups of
    different cost: the two ingest paths (a flush, an epoch) or the queries
    of a mix. Each group is summarised on its own, and the median and the
    tail are the geometric means of the groups' figures, so every group
    weighs the same in relative terms.

    Pooled, the median is the sample that happens to sit in the middle:
    one query of the mix, or a point in the gap between two paths, where
    one sample more on either side moves it far."""
    parts = {name: latency_summary(xs) for name, xs in sorted(groups.items())}
    return {
        "n": sum(s["n"] for s in parts.values()),
        "p50": statistics.geometric_mean(s["p50"] for s in parts.values()),
        "tail": statistics.geometric_mean(s["tail"] for s in parts.values()),
        "tail_pct": sorted({s["tail_pct"] for s in parts.values()}),
        "groups": parts,
    }


# -- order-independent row checksum ------------------------------------------

_MASK64 = (1 << 64) - 1


def canon_value(kind: str, v) -> str:
    """One cell as text, by the column's declared kind, so a value read
    back through pandas (ints as numpy types, say) hashes like the value
    the generator wrote."""
    if v is None:
        return "\\N"
    if kind == "int":
        return str(int(v))
    if kind == "float":
        return repr(float(v))
    return str(v)


def row_hash(kinds: list[str], row) -> int:
    text = "\x1f".join(canon_value(k, v) for k, v in zip(kinds, row))
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def checksum(kinds: list[str], rows) -> tuple[int, int]:
    """(row count, sum of 64-bit row hashes mod 2^64). Row order does not
    matter; a row loaded twice changes both figures."""
    n = 0
    total = 0
    for row in rows:
        total = (total + row_hash(kinds, row)) & _MASK64
        n += 1
    return n, total


def combine(parts: list[tuple[int, int]]) -> tuple[int, int]:
    """Checksum of the union of disjoint row sets."""
    return sum(p[0] for p in parts), sum(p[1] for p in parts) & _MASK64


# -- /proc/stat and machine speed ---------------------------------------------


def cpu_ticks(path: str = "/proc/stat") -> list[int]:
    """Aggregate cpu counters (user nice system idle iowait irq softirq
    steal ...), or [] where the file is missing or unreadable."""
    try:
        with open(path) as fh:
            line = fh.readline()
    except OSError:
        return []
    parts = line.split()
    if not parts or parts[0] != "cpu":
        return []
    try:
        return [int(x) for x in parts[1:]]
    except ValueError:
        return []


def cpu_delta_pct(before: list[int], after: list[int]) -> dict:
    """steal% and busy% of the ticks that elapsed between two snapshots.

    Both snapshots must carry the steal field (index 7); a short or
    missing one on either side yields {} rather than an IndexError or a
    figure computed from misaligned fields."""
    if len(before) < 8 or len(after) < 8:
        return {}
    d = [a - b for a, b in zip(after[:8], before[:8])]
    total = sum(d)
    if total <= 0:
        return {}
    idle = d[3] + d[4]
    return {
        "steal_pct": round(100.0 * d[7] / total, 2),
        "busy_pct": round(100.0 * (total - idle - d[7]) / total, 2),
    }


def cpu_loop_s(rounds: int = 2000) -> float:
    """Seconds for a fixed single-thread hashing loop: a yardstick of the
    machine's speed at the time, taken before and after each run."""
    buf = b"\x5a" * (1 << 16)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(rounds):
        h.update(buf)
        h = hashlib.sha256(h.digest() + buf)
    return time.perf_counter() - t0


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
