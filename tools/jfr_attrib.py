#!/usr/bin/env python3
"""Attribute process forks, task-thread parking, generated-code compiles and
deoptimizations in a running JVM.

Attaches to a running JVM (by default the perfbench JVM, found by its main
class `perfbench.Main` in /proc) with `jcmd <pid> JFR.start`, records
`jdk.ProcessStart`, `jdk.ThreadPark` (parks of 1 ms or more),
`jdk.Deoptimization` and `jdk.ExecutionSample` (every 10 ms) until the JVM
exits (or for `--seconds`), then prints:

  * process starts: total, by command, by thread, and by stack;
  * park time of task threads ("Executor task launch worker ..."), by stack;
  * task-thread CPU samples by top non-JDK frame, and the share spent
    deserializing the task binary (`JavaSerializerInstance.deserialize` under
    `ResultTask.runTask` or `ShuffleMapTask.runTask`), and the share spent
    compiling generated code (`CodeGenerator.doCompile` or janino frames);
  * deoptimizations (all threads), by reason;
  * per perfbench leg (warm, live, cores, c1; "rest" is everything outside
    a drain, such as set-up and the output check): task-thread CPU samples
    split into `ShuffleMapTask` and `ResultTask` and the share compiling
    generated code, task-thread park time inside a task (an idle pool thread
    parks in JDK frames only), and deoptimizations.
    The legs are the drain windows in the run's `events.jsonl`, which the
    benchmark writes to its `--work` directory when it exits.

Nothing in the JVM or the benchmark changes; start the benchmark, then this:

    python3 perfbench/run.py --workload cep_replay --seed 21 --seconds 10 &
    python3 tools/jfr_attrib.py --out /tmp/replay.jfr

`--jfr FILE` reports on an existing recording without attaching (one
recorded without CPU samples reports 0 of them); add `--events
.bench_work/<run>/events.jsonl` for the per-leg split.
"""

import argparse
import collections
import datetime
import json
import os
import re
import subprocess
import sys
import tempfile
import time

TASK_THREAD = "Executor task launch worker"
MAIN_CLASS = "perfbench.Main"
PARK_THRESHOLD_MS = 1

SAMPLE_PERIOD_MS = 10
# a task's binary (RDD + closure, for a write job its Hadoop conf) is
# deserialized by this frame called from one of the task types' runTask
DESERIALIZE = "org.apache.spark.serializer.JavaSerializerInstance.deserialize"
RUN_TASK = {"org.apache.spark.scheduler.ResultTask.runTask": "ResultTask",
            "org.apache.spark.scheduler.ShuffleMapTask.runTask": "ShuffleMapTask"}
JDK = re.compile(r"^(java\.|jdk\.|sun\.|com\.sun\.)")
# a sample with one of these frames is compiling generated code; janino
# recurses deeply, so a stack cut at 64 frames can hold janino frames only
COMPILE = re.compile(r"^(org\.codehaus\.(janino|commons\.compiler)\."
                     r"|org\.apache\.spark\.sql\.catalyst\.expressions\.codegen\."
                     r"CodeGenerator\$\.doCompile$)")

# frames that say how a process was started or a thread parked, not why
NOISE = re.compile(r"^(java\.|jdk\.|sun\.|scala\.concurrent\.|org\.apache\.hadoop\.util\.Shell"
                   r"|org\.apache\.spark\.util\.(Spark)?ThreadUtils)")

JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="jfr_attrib">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
  <event name="jdk.ThreadPark">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
    <setting name="threshold">%d ms</setting>
  </event>
  <event name="jdk.Deoptimization">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
  <event name="jdk.ExecutionSample">
    <setting name="enabled">true</setting>
    <setting name="period">%d ms</setting>
  </event>
</configuration>
"""


def find_pid(match, timeout_s=120):
    """(pid, argv) of the first java process with `match` among its
    arguments, waiting up to timeout_s."""
    deadline = time.time() + timeout_s
    me = os.getpid()
    while time.time() < deadline:
        for d in os.listdir("/proc"):
            if not d.isdigit() or int(d) == me:
                continue
            try:
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    argv = f.read().split(b"\0")
            except OSError:
                continue
            if argv and os.path.basename(argv[0]) == b"java" and match.encode() in argv:
                return int(d), [x.decode() for x in argv]
        time.sleep(0.2)
    raise SystemExit(f"no java process with argument {match!r} within {timeout_s}s")


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False


def record(pid, out, seconds):
    with tempfile.NamedTemporaryFile("w", suffix=".jfc", delete=False) as f:
        f.write(JFC % (PARK_THRESHOLD_MS, SAMPLE_PERIOD_MS))
        jfc = f.name
    try:
        subprocess.run(["jcmd", str(pid), "JFR.start", "name=jfr_attrib", f"settings={jfc}",
                        f"filename={out}", "dumponexit=true"], check=True,
                       stdout=subprocess.DEVNULL)
        t0 = time.time()
        while alive(pid) and (seconds is None or time.time() - t0 < seconds):
            time.sleep(0.5)
        if alive(pid):
            subprocess.run(["jcmd", str(pid), "JFR.stop", "name=jfr_attrib"], check=True,
                           stdout=subprocess.DEVNULL)
    finally:
        os.unlink(jfc)
    # the dump on exit can land a moment after the process is gone
    for _ in range(50):
        if os.path.exists(out) and os.path.getsize(out) > 0:
            return
        time.sleep(0.1)
    raise SystemExit(f"no recording written to {out}")


def load_events(jfr_file):
    p = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                        "--events", "jdk.ProcessStart,jdk.ThreadPark,jdk.Deoptimization", jfr_file], check=True, capture_output=True, text=True)
    return json.loads(p.stdout)["recording"]["events"]


def parse_samples(lines):
    """`jdk.ExecutionSample` events from `jfr print` text output, in the
    shape of its JSON output (JSON for every sample would be hundreds of MB,
    so this streams)."""
    event = frames = None
    for line in lines:
        t = line.strip()
        if t == "jdk.ExecutionSample {":
            event = {"type": "jdk.ExecutionSample", "values": {}}
        elif event is None:
            continue
        elif t.startswith("startTime = "):
            event["values"]["startTime"] = t[len("startTime = "):]
        elif t.startswith("sampledThread = "):
            m = re.match(r'sampledThread = "(.*)" \(javaThreadId', t)
            event["values"]["sampledThread"] = {"javaName": m.group(1) if m else None}
        elif t == "stackTrace = [":
            frames = []
            event["values"]["stackTrace"] = {"frames": frames, "truncated": False}
        elif frames is not None and t == "...":
            event["values"]["stackTrace"]["truncated"] = True
        elif frames is not None and t == "]":
            frames = None
        elif frames is not None and t:
            cls, _, method = t.split("(", 1)[0].rpartition(".")
            frames.append({"method": {"type": {"name": cls}, "name": method}})
        elif t == "}":
            yield event
            event = None


def load_samples(jfr_file):
    p = subprocess.Popen(["jfr", "print", "--stack-depth", "64", "--events",
                          "jdk.ExecutionSample", jfr_file], stdout=subprocess.PIPE, text=True)
    yield from parse_samples(p.stdout)
    if p.wait() != 0:
        raise SystemExit(f"jfr print failed on {jfr_file}")


def frame_names(event):
    frames = ((event.get("values", {}).get("stackTrace") or {}).get("frames")) or []
    return ["%s.%s" % (f["method"]["type"]["name"].replace("/", "."), f["method"]["name"])
            for f in frames]


def deserializing(names):
    """The task type whose runTask sits below a task-binary deserialize in
    this stack (top frame first), or None."""
    if DESERIALIZE not in names:
        return None
    below = names[names.index(DESERIALIZE) + 1:]
    return next((RUN_TASK[n] for n in below if n in RUN_TASK), None)


def compiling(names):
    return any(COMPILE.match(n) for n in names)


def task_type(names, cut):
    """The task type whose runTask is on this stack; "truncated" when the
    stack was cut off before any runTask frame."""
    return next((RUN_TASK[n] for n in names if n in RUN_TASK), "truncated" if cut else "other")


def load_legs(path):
    """Drain windows of a perfbench run, [(start_ms, end_ms, leg)], from its
    events.jsonl; drains of the traced pass are "<leg> traced"."""
    legs = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if e.get("kind") == "drain":
                legs.append((e["start"], e["end"], e["leg"] + (" traced" if e.get("traced") else "")))
    return sorted(legs)


def leg_at(legs, t_ms):
    return next((leg for start, end, leg in legs if start <= t_ms <= end), "rest")


DAY_MS = 86400000
EPOCH_ORDINAL = datetime.date(1970, 1, 1).toordinal()


def epoch_ms(stamp, ref_ms):
    """Epoch ms of a JFR start time: UTC ISO-8601 in `jfr print --json`
    ("2026-10-18T02:52:30.758131490Z"), or a UTC time of day in its text
    output ("02:52:30.177"), taken on the day that puts it nearest ref_ms."""
    m = re.fullmatch(r"(?:(\d{4}-\d\d-\d\d)T)?(\d\d):(\d\d):(\d\d)(?:\.(\d+))?Z?", stamp or "")
    if not m:
        return None
    date, h, mi, s, frac = m.groups()
    ms = ((int(h) * 60 + int(mi)) * 60 + int(s)) * 1000 + int((frac or "0")[:3].ljust(3, "0"))
    if date:
        return (datetime.date.fromisoformat(date).toordinal() - EPOCH_ORDINAL) * DAY_MS + ms
    day = ref_ms - ref_ms % DAY_MS
    return min((day + k * DAY_MS + ms for k in (-1, 0, 1)), key=lambda t: abs(t - ref_ms))


def summarize_cpu(samples, legs=()):
    by_frame, deser = collections.Counter(), collections.Counter()
    by_leg, cut_io_by_leg, compile_by_leg = (collections.Counter() for _ in range(3))
    total = truncated = cut_deser = compiles = 0
    ref = legs[0][0] if legs else 0
    for e in samples:
        v = e.get("values", {})
        if not ((v.get("sampledThread") or {}).get("javaName") or "").startswith(TASK_THREAD):
            continue
        total += 1
        cut = bool((v.get("stackTrace") or {}).get("truncated"))
        truncated += cut
        names = frame_names(e)
        by_frame[next((n for n in names if not JDK.match(n)), "(JDK frames only)")] += 1
        kind = deserializing(names)
        cut_io = not kind and cut and any(n.startswith("java.io.ObjectInputStream.")
                                          for n in names)
        if kind:
            deser[kind] += 1
        cut_deser += cut_io
        comp = compiling(names)
        compiles += comp
        if legs:
            leg = leg_at(legs, epoch_ms(v.get("startTime"), ref) or 0)
            by_leg[leg, task_type(names, cut)] += 1
            cut_io_by_leg[leg] += cut_io
            compile_by_leg[leg] += comp
    return {"task_samples": total, "truncated": truncated, "by_top_frame": by_frame,
            "deserialize": deser, "truncated_deserialize": cut_deser, "by_leg": by_leg,
            "truncated_deserialize_by_leg": cut_io_by_leg, "compile": compiles,
            "compile_by_leg": compile_by_leg}


def report_cpu(c, top, out=sys.stdout):
    p = lambda *a: print(*a, file=out)
    n = c["task_samples"]
    pct = lambda k: 100.0 * k / n if n else 0.0
    d = sum(c["deserialize"].values())
    p(f"task-thread CPU samples: {n} (every {SAMPLE_PERIOD_MS} ms per running thread; "
      f"{c['truncated']} stacks truncated at 64 frames)")
    p(f"  under task-binary deserialization: {d} ({pct(d):.1f}%)" +
      "".join(f", {k} {m}" for k, m in sorted(c["deserialize"].items())))
    # a stack cut off above runTask cannot be attributed; say how many of
    # those were deserializing something
    p(f"  truncated, in java.io.ObjectInputStream, caller cut off: "
      f"{c['truncated_deserialize']} ({pct(c['truncated_deserialize']):.1f}%)")
    p(f"  compiling generated code (CodeGenerator.doCompile, janino): "
      f"{c['compile']} ({pct(c['compile']):.1f}%)")
    p("  by top non-JDK frame:")
    for k, m in c["by_top_frame"].most_common(top):
        p(f"    {m:8d} {pct(m):5.1f}%  {k}")


def seconds_of(duration):
    """JFR JSON durations are ISO-8601, e.g. "PT0.012345S" or "PT1M2.5S"."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", duration or "")
    if not m:
        return 0.0
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def thread_group(name):
    """Thread name with its numbers and bracketed ids folded, so pool and
    per-query threads group together."""
    return re.sub(r"\d+", "#", re.sub(r"\[.*\]", "[...]", name or "?"))


IDLE = ("(JDK frames only)",)


def stack_key(event, depth):
    names = frame_names(event)
    i = 0
    while i < len(names) and NOISE.match(names[i]):
        i += 1
    return tuple(names[i:i + depth]) or IDLE


def summarize(events, depth, legs=()):
    forks_cmd, forks_thread, forks_stack = (collections.Counter() for _ in range(3))
    park_s, park_n, park_leg_s = (collections.Counter() for _ in range(3))
    deopt_reason, deopt_leg = collections.Counter(), collections.Counter()
    forks = 0
    ref = legs[0][0] if legs else 0
    for e in events:
        v = e.get("values", {})
        thread = (v.get("eventThread") or {}).get("javaName")
        if e["type"] == "jdk.ProcessStart":
            forks += 1
            cmd = (v.get("command") or "?").split()
            forks_cmd[os.path.basename(cmd[0]) if cmd else "?"] += 1
            forks_thread[thread_group(thread)] += 1
            forks_stack[stack_key(e, depth)] += 1
        elif e["type"] == "jdk.ThreadPark" and (thread or "").startswith(TASK_THREAD):
            k = stack_key(e, depth)
            park_s[k] += seconds_of(v.get("duration"))
            park_n[k] += 1
            # an idle pool thread waiting for its next task parks in JDK
            # frames only; the per-leg column counts waits inside a task
            if legs and k != IDLE:
                park_leg_s[leg_at(legs, epoch_ms(v.get("startTime"), ref) or 0)] += \
                    seconds_of(v.get("duration"))
        elif e["type"] == "jdk.Deoptimization":
            deopt_reason[v.get("reason") or "?"] += 1
            if legs:
                deopt_leg[leg_at(legs, epoch_ms(v.get("startTime"), ref) or 0)] += 1
    return {"forks": forks, "forks_by_command": forks_cmd, "forks_by_thread": forks_thread,
            "forks_by_stack": forks_stack, "task_park_s": park_s, "task_park_n": park_n,
            "task_park_s_by_leg": park_leg_s, "deopts_by_reason": deopt_reason,
            "deopts_by_leg": deopt_leg}


def report(s, top, out=sys.stdout):
    p = lambda *a: print(*a, file=out)
    p(f"process starts: {s['forks']}")
    p("  by command:")
    for k, n in s["forks_by_command"].most_common(top):
        p(f"    {n:8d}  {k}")
    p("  by thread:")
    for k, n in s["forks_by_thread"].most_common(top):
        p(f"    {n:8d}  {k}")
    p("  by stack:")
    for k, n in s["forks_by_stack"].most_common(top):
        p(f"    {n:8d}  " + "\n              <- ".join(k))
    total = sum(s["task_park_s"].values())
    p(f"task-thread park: {total:.1f} s in {sum(s['task_park_n'].values())} parks")
    for k, sec in s["task_park_s"].most_common(top):
        p(f"    {sec:8.2f} s {s['task_park_n'][k]:7d}x  " + "\n                        <- ".join(k))
    p(f"deoptimizations: {sum(s['deopts_by_reason'].values())}")
    for k, n in s["deopts_by_reason"].most_common(top):
        p(f"    {n:8d}  {k}")


LEG_ORDER = ("warm", "live", "cores", "c1")


def report_legs(c, s, out=sys.stdout):
    """Task-thread CPU samples, park time and deoptimizations per perfbench
    leg."""
    p = lambda *a: print(*a, file=out)
    by = c["by_leg"]
    legs = {leg for leg, _ in by} | set(s["task_park_s_by_leg"]) | set(s["deopts_by_leg"])
    rank = lambda leg: (LEG_ORDER.index(leg.split()[0]) if leg.split()[0] in LEG_ORDER
                        else len(LEG_ORDER), leg)
    n_all = c["task_samples"]
    p("per leg (task threads; drain windows from events.jsonl, rest = outside every drain):")
    p(f"  {'leg':14s} {'samples':>8s} {'of all':>7s} {'ShuffleMap':>11s} {'Result':>7s} "
      f"{'cut':>6s} {'cut ObjIn':>10s} {'compile':>8s} {'park s':>8s} {'deopts':>7s}"
      "  (park: in a task, not idle; deopts: all threads)")
    for leg in sorted(legs, key=rank):
        n = sum(m for (lg, _), m in by.items() if lg == leg)
        pct = lambda m: f"{100.0 * m / n:.1f}%" if n else "-"
        p(f"  {leg:14s} {n:8d} {100.0 * n / n_all if n_all else 0.0:6.1f}% "
          f"{pct(by[leg, 'ShuffleMapTask']):>11s} {pct(by[leg, 'ResultTask']):>7s} "
          f"{pct(by[leg, 'truncated']):>6s} {pct(c['truncated_deserialize_by_leg'][leg]):>10s} "
          f"{pct(c['compile_by_leg'][leg]):>8s} {s['task_park_s_by_leg'][leg]:8.1f} "
          f"{s['deopts_by_leg'][leg]:7d}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pid", type=int, help="JVM to attach to (default: the perfbench JVM)")
    ap.add_argument("--seconds", type=float, help="stop recording after this long")
    ap.add_argument("--out", default="jfr_attrib.jfr", help="recording file to write")
    ap.add_argument("--jfr", help="report on this recording instead of attaching")
    ap.add_argument("--events", help="the run's events.jsonl, for the per-leg split "
                    "(default when attaching: the one in the benchmark's --work dir)")
    ap.add_argument("--depth", type=int, default=6, help="frames per stack")
    ap.add_argument("--top", type=int, default=10)
    a = ap.parse_args()
    jfr_file, events = a.jfr, a.events
    if jfr_file is None:
        pid, argv = (a.pid, []) if a.pid else find_pid(MAIN_CLASS)
        if events is None and "--work" in argv[:-1]:
            events = os.path.join(argv[argv.index("--work") + 1], "events.jsonl")
        jfr_file = os.path.abspath(a.out)
        print(f"# recording pid {pid} to {jfr_file}", file=sys.stderr)
        record(pid, jfr_file, a.seconds)
    legs = load_legs(events) if events and os.path.exists(events) else []
    s = summarize(load_events(jfr_file), a.depth, legs)
    c = summarize_cpu(load_samples(jfr_file), legs)
    report(s, a.top)
    report_cpu(c, a.top)
    if legs:
        report_legs(c, s)


if __name__ == "__main__":
    main()
