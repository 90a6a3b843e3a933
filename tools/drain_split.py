#!/usr/bin/env python3
"""Split perfbench drain wall time into its triggers and trigger phases.

Reads one or more `events.jsonl` files that `perfbench/run.py` leaves in
`.bench_work/<workload>-s<seed>-t<trace>/` (traced or not) and prints, per
leg (warm, cores, c1, live; drains of a traced pass are "<leg> traced"),
the median over every successful drain of the given files of:

  * the drain's wall time (`start()` until the drain ends);
  * the bulk trigger (the one with the most input rows), split into the
    `durationMs` phases `latestOffset`, `getBatch`, `queryPlanning`,
    `addBatch`, `walCommit`, `commitOffsets`, and the rest of its
    `triggerExecution`;
  * every other trigger but the trailing eviction trigger, summed;
  * the trailing eviction trigger (the last one, when it read no rows);
  * time outside any trigger: wall minus the drains' summed
    `triggerExecution` (query start and stop, the sink's read-back);
  * for a drain of the traced pass (the only one whose stages the
    benchmark logs), the summed task CPU time (`cpu_ms`) of the stages
    submitted during the drain; "-" for the other legs.

The medians are taken column by column, so a row need not add up to its
wall. For the untraced live leg it also prints the least-squares fit of
`triggerExecution` on `numInputRows` over every trigger that read rows:
a fixed part in ms plus ms per 1k rows.

    python3 tools/drain_split.py .bench_work/cep_replay-s21-t0/events.jsonl
    python3 tools/drain_split.py parent-*/events.jsonl   # pooled over runs
"""

import argparse
import json
import statistics
import sys

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
COLUMNS = ("wall",) + PHASES + ("bulk_rest", "other_triggers", "eviction", "outside", "task_cpu")
LEG_ORDER = ("warm", "cores", "c1", "live")


def load(path):
    """(drains, {query id: [progress]}, stages) of one run; a drain carries
    its query id under "query" when the run logged one for its tag."""
    drains, query_of, progress, stages = [], {}, {}, []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("kind")
            if kind == "query":
                query_of[e["tag"]] = e["query"]
            elif kind == "drain":
                drains.append(e)
            elif kind == "progress":
                progress.setdefault(e["query"], []).append(e["p"])
            elif kind == "stage":
                stages.append(e)
    for d in drains:
        d["query"] = query_of.get(d["tag"])
    return drains, progress, stages


def leg_name(d):
    return d["leg"] + (" traced" if d.get("traced") else "")


def split(drain, triggers, stages):
    """One drain's wall split into the columns of COLUMNS, in ms; task_cpu
    is None for an untraced drain."""
    triggers = sorted(triggers, key=lambda p: p["batchId"])
    dur = [p.get("durationMs", {}) for p in triggers]
    total = [x.get("triggerExecution", 0) for x in dur]
    rows = [p.get("numInputRows", 0) for p in triggers]
    out = dict.fromkeys(COLUMNS, 0.0)
    out["wall"] = float(drain["end"] - drain["start"])
    out["outside"] = out["wall"] - sum(total)
    out["task_cpu"] = (sum(st["cpu_ms"] for st in stages if drain["start"] <= st["submit"] <= drain["end"])
                       if drain.get("traced") else None)
    if not triggers:
        return out
    bulk = max(range(len(triggers)), key=lambda i: (rows[i], -i))
    last = len(triggers) - 1
    evict = last if last != bulk and rows[last] == 0 else None
    for k in PHASES:
        out[k] = float(dur[bulk].get(k, 0))
    out["bulk_rest"] = total[bulk] - sum(out[k] for k in PHASES)
    out["eviction"] = float(total[evict]) if evict is not None else 0.0
    out["other_triggers"] = float(sum(t for i, t in enumerate(total) if i not in (bulk, evict)))
    return out


def fit(points):
    """Least-squares (fixed_ms, ms_per_1k_rows, r2) of ms on rows; None
    with fewer than two distinct row counts."""
    if len({r for r, _ in points}) < 2:
        return None
    n = len(points)
    mr = sum(r for r, _ in points) / n
    mt = sum(t for _, t in points) / n
    sxx = sum((r - mr) ** 2 for r, _ in points)
    sxy = sum((r - mr) * (t - mt) for r, t in points)
    syy = sum((t - mt) ** 2 for _, t in points)
    slope = sxy / sxx
    r2 = sxy * sxy / (sxx * syy) if syy else 1.0
    return mt - slope * mr, slope * 1000.0, r2


def summarize(paths):
    """{"legs": {leg: {"drains": n, "median": {column: ms}}}, "fit": the
    live leg's trigger-vs-rows fit, "fit_triggers": its trigger count}."""
    splits, live = {}, []
    for path in paths:
        drains, progress, stages = load(path)
        for d in drains:
            if not d.get("ok"):
                continue
            triggers = progress.get(d["query"], [])
            splits.setdefault(leg_name(d), []).append(split(d, triggers, stages))
            if leg_name(d) == "live":
                live += [(p.get("numInputRows", 0), p.get("durationMs", {}).get("triggerExecution", 0))
                         for p in triggers if p.get("numInputRows", 0) > 0]
    legs = {leg: {"drains": len(s), "median": {c: median([x[c] for x in s if x[c] is not None])
                                               for c in COLUMNS}}
            for leg, s in splits.items()}
    return {"legs": legs, "fit": fit(live), "fit_triggers": len(live)}


def median(xs):
    return statistics.median(xs) if xs else None


def leg_key(leg):
    base, _, traced = leg.partition(" ")
    return (LEG_ORDER.index(base) if base in LEG_ORDER else len(LEG_ORDER), base, traced)


def report(s, out=sys.stdout):
    p = lambda *a: print(*a, file=out)  # noqa: E731
    w = {c: max(len(c), 6) for c in COLUMNS}
    p(f"{'leg':<13} {'drains':>6} " + " ".join(f"{c:>{w[c]}}" for c in COLUMNS))
    for leg in sorted(s["legs"], key=leg_key):
        v = s["legs"][leg]
        p(f"{leg:<13} {v['drains']:>6} " + " ".join(
            f"{'-' if v['median'][c] is None else round(v['median'][c]):>{w[c]}}" for c in COLUMNS))
    if s["fit"] is not None:
        fixed, per_k, r2 = s["fit"]
        p(f"live triggerExecution = {fixed:.0f} ms + {per_k:.1f} ms per 1k rows "
          f"(r2 {r2:.2f}, {s['fit_triggers']} triggers)")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("events", nargs="+", help="events.jsonl of one or more perfbench runs")
    report(summarize(ap.parse_args(argv).events))


if __name__ == "__main__":
    main()
