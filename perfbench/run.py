#!/usr/bin/env python3
"""The repo benchmark. One command per run:

  python3 perfbench/run.py --workload cep_replay|cep_live --seed N \
      --seconds S --trace 0|1

It builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in a JVM against the Spark jars (perfbench/scala), checks
every committed output against the batch reference, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the same
workload runs untraced and then traced, and the metrics are the per-layer
ones, the tracing overhead and the host probes. The line before it starts
with "# probes" and holds the host probes. Everything a run leaves behind
goes to .bench_work/<workload>-s<seed>-t<trace>/ (report.json, events.jsonl,
spans.json, jvm.log); its bulky data is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("cep_replay", "cep_live")
# A cep_live row committed later than this after its due time is a failure.
LIVE_LATENCY_LIMIT_MS = 10000
# A live run whose generator moved a file later than this after its due
# time (half a file interval) is marked invalid.
GEN_LATE_LIMIT_MS = 125
RUN_DEADLINE_S = 170
# metric names and units come from BENCHMARK.json; a run whose computed
# metrics differ from the declared ones fails
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    DECLARED = json.load(_f)
E2E_NAMES = [m["name"] for m in DECLARED["end_to_end"]]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


# ---------------------------------------------------------------- host probes

def spin_probe_ms(n=2_000_000):
    """Single-thread CPU probe: wall time of a fixed integer loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x + i * 7) & 0xFFFF
    return (time.perf_counter() - t0) * 1000.0


def cpu_ticks():
    """(total, iowait, steal) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]] + [0] * 8
    return sum(vals[:8]), vals[4], vals[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---------------------------------------------------------------- analysis

class Events:
    def __init__(self, path):
        self.by = defaultdict(list)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                self.by[e["kind"]].append(e)
        self.tag_of_query = {e["query"]: e["tag"] for e in self.by["query"]}
        self.progress = defaultdict(list)
        for e in self.by["progress"]:
            tag = self.tag_of_query.get(e["query"])
            if tag is not None:
                self.progress[tag].append(e["p"])
        for ps in self.progress.values():
            ps.sort(key=lambda p: p["batchId"])
        self.batches = defaultdict(list)
        for e in self.by["batch"]:
            self.batches[e["tag"]].append(e)
        self.rows = defaultdict(list)
        for e in self.by["rows"]:
            self.rows[e["tag"]].append((e["epoch"], e["ts"], e["n"]))
        self.drains = [e for e in self.by["drain"] if e["pass"] >= 0]
        self.checks = {e["tag"]: e for e in self.by["check"]}
        self.schedule = {e["tag"]: e for e in self.by["schedule"]}
        self.gen_files = defaultdict(list)
        for e in self.by["gen_file"]:
            self.gen_files[e["tag"]].append(e)

    def legs(self, pass_, leg):
        return [d for d in self.drains if d["pass"] == pass_ and d["leg"] == leg]

    def commit_end(self, tag):
        return {b["epoch"]: b["end"] for b in self.batches[tag]}


def trigger_start(p):
    return stats.parse_ts_ms(p["timestamp"])


def trigger_end(p):
    return trigger_start(p) + p["durationMs"].get("triggerExecution", 0)


def state_sum(p, key):
    return sum(s.get(key, 0) for s in p.get("stateOperators", []))


def steady_window(sched):
    lo = sched["t0"] + sched["lead_s"] * 1000
    hi = sched["t0"] + sched["files"] * sched["interval_ms"]
    return lo, hi


def live_due(sched, lo, hi):
    """Due time of a live row with event time ts, or None outside [lo, hi)."""
    def due(ts):
        d = sched["t0"] + (ts - sched["base"])
        return d if lo <= d < hi else None
    return due


# The steady window is cut into this many equal parts; emit_p95_ms is the
# median of the parts' p95, so one stalled trigger moves it less.
LIVE_WINDOW_PARTS = 3


def med(xs):
    """Median, or None when nothing was measured."""
    return stats.median(xs) if xs else None


def wpct(pairs, p):
    """Weighted percentile, or None when no row was measured."""
    return stats.weighted_percentile(pairs, p) if pairs else None


def drain_rate(ev, pass_, leg):
    """Median input turns per second over the leg's successful drains."""
    return med([d["turns"] / d["wall_s"] for d in ev.legs(pass_, leg) if d["ok"]])


def end_to_end(ev, workload, pass_):
    """The end-to-end metrics of one pass (0 untraced, 1 traced), without
    setup_s. A metric with no successful run, no progress or no committed
    row to measure is None. Returns (metrics, latency rows over the limit)."""
    m = dict.fromkeys(n for n in E2E_NAMES if n != "setup_s")
    m["turns_per_s"] = drain_rate(ev, pass_, "cores")
    m["c1_turns_per_s"] = drain_rate(ev, pass_, "c1")
    over_limit = 0
    if workload == "cep_replay":
        p50, p95, peak = [], [], []
        for d in [d for d in ev.legs(pass_, "cores") if d["ok"]]:
            lat = stats.emit_latencies(ev.rows[d["tag"]], ev.commit_end(d["tag"]),
                                       lambda _ts, s=d["start"]: s)
            if lat:
                p50.append(stats.weighted_percentile(lat, 50))
                p95.append(stats.weighted_percentile(lat, 95))
            if ev.progress[d["tag"]]:
                peak.append(max(state_sum(p, "memoryUsedBytes") for p in ev.progress[d["tag"]]))
        m["emit_p50_ms"], m["emit_p95_ms"] = med(p50), med(p95)
        m["state_peak_mb"] = med([b / 1e6 for b in peak])
        return m, over_limit
    for d in ev.legs(pass_, "live"):
        tag, sched = d["tag"], ev.schedule.get(d["tag"])
        if sched is None:
            continue
        commit = ev.commit_end(tag)
        every = stats.emit_latencies(
            ev.rows[tag], commit, lambda ts: sched["t0"] + (ts - sched["base"]))
        over_limit += sum(n for v, n in every if v > LIVE_LATENCY_LIMIT_MS)
        if not d["ok"]:
            continue
        lo, hi = steady_window(sched)
        m["emit_p50_ms"] = wpct(stats.emit_latencies(ev.rows[tag], commit,
                                                     live_due(sched, lo, hi)), 50)
        step = (hi - lo) / LIVE_WINDOW_PARTS
        parts = [wpct(stats.emit_latencies(ev.rows[tag], commit,
                                           live_due(sched, lo + i * step, lo + (i + 1) * step)), 95)
                 for i in range(LIVE_WINDOW_PARTS)]
        m["emit_p95_ms"] = med([v for v in parts if v is not None])
        ps = ev.progress[tag]
        m["state_peak_mb"] = max(state_sum(p, "memoryUsedBytes") for p in ps) / 1e6 if ps else None
    return m, over_limit


def generator_lateness(ev, tag):
    files = ev.gen_files.get(tag, [])
    if not files:
        return None
    return stats.percentile([f["actual"] - f["due"] for f in files], 99)


# ---------------------------------------------------------------- tracing

def stage_layer(s):
    # the scan stage ends in the keyed exchange's shuffle write; the stage
    # reading it runs the state operator with the parquet write fused in
    return "flow" if s["shuffle_write_bytes"] > 0 else "state"


PHASES = [("latestOffset", "sources"), ("walCommit", "flow"), ("getBatch", "sources"),
          ("queryPlanning", "flow"), ("addBatch", "flow"), ("commitOffsets", "flow")]


def build_spans(ev, tags):
    """Spans of the traced pass: drain/live run -> trigger -> phase ->
    sink.addBatch -> Spark job -> stage. Trigger phases come from the
    progress event's durationMs and are laid end to end in execution order
    from the trigger's start, so their edges are approximate."""
    spans = []
    jobs = {(e["ctx"], e["job"]): e for e in ev.by["job_start"]}
    job_end = {(e["ctx"], e["job"]): e["t"] for e in ev.by["job_end"]}
    stages_of = defaultdict(list)
    for s in ev.by["stage"]:
        stages_of[(s["ctx"], s["job"])].append(s)
    query_tag = ev.tag_of_query
    jobs_of = defaultdict(list)
    for k, j in jobs.items():
        if j.get("query") in query_tag and j.get("batch") is not None and k in job_end:
            jobs_of[(query_tag[j["query"]], j["batch"])].append(j)
    for d in ev.drains:
        tag = d["tag"]
        if tag not in tags:
            continue
        root = tag
        spans.append(dict(id=root, parent=None, name=d["leg"], layer="bench",
                          start=d["start"], end=d["end"]))
        sinks = {b["epoch"]: b for b in ev.batches[tag]}
        for p in ev.progress[tag]:
            b = p["batchId"]
            tid = f"{tag}#t{b}"
            t0 = trigger_start(p)
            spans.append(dict(id=tid, parent=root, name="trigger", layer="flow",
                              start=t0, end=trigger_end(p)))
            cur = t0
            add_id = tid
            for key, layer in PHASES:
                dur = p["durationMs"].get(key)
                if dur is None:
                    continue
                pid = f"{tid}/{key}"
                spans.append(dict(id=pid, parent=tid, name=key, layer=layer,
                                  start=cur, end=cur + dur))
                if key == "addBatch":
                    add_id = pid
                cur += dur
            parent_job = tid
            if b in sinks:
                sid = f"{tid}/sink"
                spans.append(dict(id=sid, parent=add_id, name="sink.addBatch", layer="sink",
                                  start=sinks[b]["start"], end=sinks[b]["end"]))
                parent_job = sid
            for j in jobs_of.get((tag, b), []):
                jk = (j["ctx"], j["job"])
                jid = f"{tid}/job{j['job']}"
                spans.append(dict(id=jid, parent=parent_job, name="job", layer="sink",
                                  start=j["t"], end=job_end[jk]))
                for s in stages_of.get(jk, []):
                    if s["submit"] is None or s["complete"] is None:
                        continue
                    spans.append(dict(id=f"{jid}/stage{s['stage']}.{s['attempt']}", parent=jid,
                                      name="stage", layer=stage_layer(s),
                                      start=s["submit"], end=s["complete"]))
    return spans


def per_layer(ev, workload, pass_, spans):
    main_leg = "cores" if workload == "cep_replay" else "live"
    runs = [d for d in ev.legs(pass_, main_leg) if d["ok"]]
    if not runs:
        return {m["name"]: None for m in DECLARED["per_layer"]
                if m["name"].split(".")[0] not in ("overhead", "host")}
    n = len(runs)
    tags = {d["tag"] for d in runs}
    queries = {q for q, t in ev.tag_of_query.items() if t in tags}
    trig = [p for t in tags for p in ev.progress[t]]
    if workload == "cep_live":
        lo, hi = steady_window(ev.schedule[runs[0]["tag"]])
        steady = [p for p in trig if lo <= trigger_start(p) < hi] or trig
    else:
        steady = trig

    def dur(key, ps=steady):
        return [p["durationMs"].get(key, 0) for p in ps]

    job_ids = {(j["ctx"], j["job"]) for j in ev.by["job_start"] if j.get("query") in queries}
    stg = [s for s in ev.by["stage"] if (s["ctx"], s["job"]) in job_ids]
    scan = [s for s in stg if stage_layer(s) == "flow"]
    state = [s for s in stg if stage_layer(s) == "state"]
    batches = [b for t in tags for b in ev.batches[t]]
    last_job_end = defaultdict(int)
    job_key = {(j["ctx"], j["job"]): (ev.tag_of_query[j["query"]], j.get("batch"))
               for j in ev.by["job_start"] if j.get("query") in queries}
    for e in ev.by["job_end"]:
        if (e["ctx"], e["job"]) in job_key:
            k = job_key[(e["ctx"], e["job"])]
            last_job_end[k] = max(last_job_end[k], e["t"])
    commit_ms = [b["end"] - last_job_end[(b["tag"], b["epoch"])] for b in batches
                 if last_job_end.get((b["tag"], b["epoch"]))]

    backlog = []
    for t in tags:
        admitted = 0
        gen = sorted(ev.gen_files.get(t, []), key=lambda f: f["actual"])
        turns = next(d["turns"] for d in runs if d["tag"] == t)
        for p in ev.progress[t]:
            start = trigger_start(p)
            avail = sum(f["n"] for f in gen if f["actual"] <= start) if gen else turns
            if p in steady:
                backlog.append(avail - admitted)
            admitted += p["numInputRows"]

    def out_bytes(d):
        total = 0
        for dirpath, _, files in os.walk(d["out"]):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files
                         if f.endswith(".parquet"))
        return total

    self_ms = stats.self_times(spans)
    layer_self = defaultdict(float)
    for s in spans:
        if s["id"].split("#")[0] in tags:
            layer_self[s["layer"]] += self_ms[s["id"]]
    skew = [s["max_task_ms"] / s["median_task_ms"] for s in state
            if s.get("median_task_ms")]
    late = generator_lateness(ev, runs[0]["tag"])
    turns = sum(d["turns"] for d in runs)
    med0 = lambda xs: stats.median(xs) if xs else 0.0  # noqa: E731
    pct0 = lambda xs, q: stats.percentile(xs, q) if xs else 0.0  # noqa: E731
    return {
        "sources.latest_offset_ms": med0(dur("latestOffset")),
        "sources.get_batch_ms": med0(dur("getBatch")),
        "sources.backlog_rows": max(backlog) if backlog else 0,
        "flow.trigger_p50_ms": pct0(dur("triggerExecution"), 50),
        "flow.trigger_p95_ms": pct0(dur("triggerExecution"), 95),
        "flow.planning_ms": med0(dur("queryPlanning")),
        "flow.wal_commit_ms": med0(dur("walCommit")),
        "flow.commit_offsets_ms": med0(dur("commitOffsets")),
        "flow.triggers": len(trig) / n,
        "flow.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stg) / n,
        "flow.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stg) / n,
        "flow.shuffle_write_ms": sum(s["shuffle_write_ms"] for s in stg) / n,
        "flow.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in stg) / n,
        "flow.scan_stage_run_ms": sum(s["run_ms"] for s in scan) / n,
        "flow.task_failures": sum(s["failed_tasks"] for s in stg),
        "state.stage_run_ms": sum(s["run_ms"] for s in state) / n,
        "state.stage_cpu_ms": sum(s["cpu_ms"] for s in state) / n,
        "state.task_skew": med0(skew),
        "state.updates_ms": sum(state_sum(p, "allUpdatesTimeMs") for p in trig) / n,
        "state.removals_ms": sum(state_sum(p, "allRemovalsTimeMs") for p in trig) / n,
        "state.commit_ms": med0([state_sum(p, "commitTimeMs") for p in steady]),
        "state.rows_total_peak": max((state_sum(p, "numRowsTotal") for p in trig), default=None),
        "state.memory_peak_bytes": max((state_sum(p, "memoryUsedBytes") for p in trig),
                                       default=None),
        "state.rows_dropped_watermark": sum(state_sum(p, "numRowsDroppedByWatermark")
                                            for p in trig),
        "state.handler_ms": sum(d["handler_ms"] for d in runs) / n,
        "state.handler_calls_per_turn": sum(d["handler_calls"] for d in runs) / turns,
        "sink.add_batch_p50_ms": pct0([b["end"] - b["start"] for b in batches], 50),
        "sink.add_batch_p95_ms": pct0([b["end"] - b["start"] for b in batches], 95),
        "sink.commit_ms": med0(commit_ms),
        "sink.epochs": len(batches) / n,
        "sink.epochs_skipped": sum(1 for b in batches if b["skipped"]),
        "sink.rows_written": sum(r[2] for t in tags for r in ev.rows[t]) / n,
        "sink.bytes_written": sum(out_bytes(d) for d in runs) / n,
        "sink.read_back_ms": med0([ev.checks[t]["read_ms"] for t in tags
                                  if "read_ms" in ev.checks.get(t, {})]),
        "gen.write_s": med0([g["write_s"] for g in ev.by["gen"]]),
        "gen.late_p99_ms": late if late is not None else 0.0,
        "jvm.gc_ms": sum(d["gc_ms"] for d in runs) / n,
        "self.flow_ms": layer_self["flow"] / n,
        "self.sources_ms": layer_self["sources"] / n,
        "self.state_ms": layer_self["state"] / n,
        "self.sink_ms": layer_self["sink"] / n,
    }


# ---------------------------------------------------------------- run

def fail(msg, code=1):
    print(msg, file=sys.stderr)
    sys.exit(code)


def summarize(ev, workload, trace, probes, work):
    """Turns a run's event log into its report and its result line. A metric
    that could not be measured is None, and the run is then not correct."""
    e2e, over_limit = end_to_end(ev, workload, 0)
    e2e["setup_s"] = med([e["seconds"] for e in ev.by["setup"]])
    checked = list(ev.checks.values())
    dropped = sum(state_sum(p, "numRowsDroppedByWatermark")
                  for d in ev.drains for p in ev.progress[d["tag"]])
    failed_runs = len(ev.by["error"])
    attempted, failed = stats.count_failures(checked, dropped, over_limit, failed_runs)
    errors = [e["message"] for e in ev.by["error"]] + [e["message"] for e in ev.by["query_failed"]]
    live_tag = next((d["tag"] for d in ev.legs(0, "live")), None)
    late = generator_lateness(ev, live_tag) if live_tag else None
    report = {"workload": workload, "trace": trace, "end_to_end": e2e, "probes": probes,
              "generator_late_p99_ms": late,
              "valid": late is None or late <= GEN_LATE_LIMIT_MS,
              "bad_rows": {c["tag"]: c for c in checked
                           if c["missing"] + c["duplicate"] + c["unexpected"] + c["wrong"]},
              "rows_dropped_by_watermark": dropped, "rows_over_latency_limit": over_limit,
              "failed_runs": failed_runs, "errors": errors}
    unmeasured = [k for k, v in e2e.items() if v is None]
    if trace:
        traced_tags = {d["tag"] for d in ev.drains if d["pass"] == 1}
        spans = build_spans(ev, traced_tags)
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(spans, f)
        layer = per_layer(ev, workload, 1, spans)
        traced, _ = end_to_end(ev, workload, 1)
        unmeasured += [f"traced {k}" for k, v in traced.items() if v is None]
        for k, v in traced.items():
            layer[f"overhead.{k}_pct"] = (100.0 * (v - e2e[k]) / e2e[k]
                                          if v is not None and e2e[k] else None)
        for k in ("spin_before_ms", "spin_after_ms", "iowait_pct", "steal_pct"):
            layer[f"host.{k}"] = probes[k]
        layer["host.loadavg_1m"] = probes["loadavg_1m_after"]
        report["per_layer"] = layer
        report["traced_end_to_end"] = traced
        computed, declared = layer, DECLARED["per_layer"]
    else:
        computed, declared = e2e, DECLARED["end_to_end"]
    if set(computed) != {m["name"] for m in declared}:
        raise ValueError("metrics differ from BENCHMARK.json: %s"
                         % sorted(set(computed) ^ {m["name"] for m in declared}))
    report["unmeasured"] = unmeasured
    metrics = {m["name"]: {"value": computed[m["name"]], "unit": m["unit"]} for m in declared}
    result = {"correct": failed == 0 and not errors and not unmeasured,
              "attempted": attempted, "failed": failed, "metrics": metrics}
    return report, result


def main():
    ap = argparse.ArgumentParser(description="reflowspark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        # scalac has its own time limit; the run's deadline starts after it
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 2)
    t_begin = time.time()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    probes = {"spin_before_ms": spin_probe_ms(), "loadavg_1m_before": loadavg()}
    ticks0 = cpu_ticks()
    start_ms = int(time.time() * 1000)
    # a fixed heap: growing it during the first bulk trigger made that
    # drain measurably slower than the next. -XX:-UsePerfData keeps the JVM
    # from writing its perf-data file to the system temp directory.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{build.SPARK_JARS}/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--cores", str(cores),
              "--start-ms", str(start_ms)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, RUN_DEADLINE_S - (time.time() - t_begin)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM exceeded its time limit", 3)
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        fail("benchmark JVM failed (exit %d):\n%s" % (rc, "".join(tail)))
    ticks1 = cpu_ticks()
    probes["spin_after_ms"] = spin_probe_ms()
    probes["loadavg_1m_after"] = loadavg()
    dt = max(1, ticks1[0] - ticks0[0])
    probes["iowait_pct"] = 100.0 * (ticks1[1] - ticks0[1]) / dt
    probes["steal_pct"] = 100.0 * (ticks1[2] - ticks0[2]) / dt

    ev = Events(os.path.join(work, "events.jsonl"))
    try:
        report, result = summarize(ev, a.workload, a.trace, probes, work)
    except ValueError as e:
        fail(str(e))
    report.update(seed=a.seed, seconds=a.seconds, cores=cores)
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    for d in ("runs", "replay", "live", "warm", "tmp", "spark_local", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for msg in report["errors"]:
        print(f"# error: {msg}", file=sys.stderr)
    if report["unmeasured"]:
        print(f"# unmeasured: {report['unmeasured']}", file=sys.stderr)
    if not report["valid"]:
        print(f"# invalid run: generator ran {report['generator_late_p99_ms']} ms late",
              file=sys.stderr)
    print("# probes " + json.dumps(dict(probes, generator_late_p99_ms=report["generator_late_p99_ms"],
                                        valid=report["valid"])))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
