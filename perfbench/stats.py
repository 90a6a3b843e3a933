"""Arithmetic of the benchmark: percentiles, span self time, the per-epoch
latency join and failure counting. Pure functions over plain Python data,
tested in perfbench/tests/test_stats.py."""
import math
from datetime import datetime


def percentile(values, p):
    """Nearest-rank percentile (p in [0, 100]) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    k = max(0, min(len(xs) - 1, math.ceil(p / 100.0 * len(xs)) - 1))
    return xs[k]


def weighted_percentile(pairs, p):
    """Nearest-rank percentile of (value, count) pairs, as if each value
    appeared `count` times."""
    items = sorted((v, n) for v, n in pairs if n > 0)
    total = sum(n for _, n in items)
    if total == 0:
        raise ValueError("percentile of an empty sequence")
    rank = max(1, math.ceil(p / 100.0 * total))
    seen = 0
    for v, n in items:
        seen += n
        if seen >= rank:
            return v
    return items[-1][0]


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of an empty sequence")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def emit_latencies(rows, commit_end, due_of):
    """The per-epoch latency join. `rows` are (epoch, ts, count) groups of
    committed output rows, `commit_end` maps an epoch to the time its
    `addBatch` returned, and `due_of(ts)` gives a row's due time (None
    leaves the row out). Returns (latency_ms, count) pairs. A row whose
    epoch never committed is an error: it cannot be in the output."""
    out = []
    for epoch, ts, n in rows:
        due = due_of(ts)
        if due is None:
            continue
        if epoch not in commit_end:
            raise ValueError(f"output rows of epoch {epoch} without a commit")
        out.append((commit_end[epoch] - due, n))
    return out


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children clipped to the parent, overlaps
    between children counted once). `spans` are dicts with id, parent,
    start and end. Returns {id: self_ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def count_failures(checks, dropped_by_watermark=0, over_limit=0, failed_runs=0):
    """Failure accounting over the checked outputs. Every expected output
    row of every checked run is one attempted operation; the rows a failed
    run did not commit count as missing. A missing, duplicate, unexpected or
    wrong row fails, as does every row the watermark dropped and every row
    committed later than the latency limit. Each failed run (a stream or
    drain that threw) also counts once, so a run that failed after committing
    everything still fails. Returns (attempted, failed)."""
    attempted = sum(c["expected"] for c in checks)
    failed = sum(c["missing"] + c["duplicate"] + c["unexpected"] + c["wrong"] for c in checks)
    failed += dropped_by_watermark + over_limit + failed_runs
    return max(attempted, failed, 1), failed


def parse_ts_ms(iso):
    """Spark progress timestamps ('2026-01-02T03:04:05.678Z') to epoch ms."""
    dt = datetime.strptime(iso.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return int(round(dt.timestamp() * 1000))
