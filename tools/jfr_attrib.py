#!/usr/bin/env python3
"""Attribute process forks and task-thread parking in a running JVM.

Attaches to a running JVM (by default the perfbench JVM, found by its main
class `perfbench.Main` in /proc) with `jcmd <pid> JFR.start`, records
`jdk.ProcessStart` and `jdk.ThreadPark` (parks of 1 ms or more) until the
JVM exits (or for `--seconds`), then prints:

  * process starts: total, by command, by thread, and by stack;
  * park time of task threads ("Executor task launch worker ..."), by stack.

Nothing in the JVM or the benchmark changes; start the benchmark, then this:

    python3 perfbench/run.py --workload cep_replay --seed 21 --seconds 10 &
    python3 tools/jfr_attrib.py --out /tmp/replay.jfr

`--jfr FILE` reports on an existing recording without attaching.
"""

import argparse
import collections
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
</configuration>
"""


def find_pid(match, timeout_s=120):
    """First java pid with `match` among its arguments, waiting up to timeout_s."""
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
                return int(d)
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
        f.write(JFC % PARK_THRESHOLD_MS)
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
                        "--events", "jdk.ProcessStart,jdk.ThreadPark", jfr_file], check=True, capture_output=True, text=True)
    return json.loads(p.stdout)["recording"]["events"]


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


def stack_key(event, depth):
    frames = ((event.get("values", {}).get("stackTrace") or {}).get("frames")) or []
    names = ["%s.%s" % (f["method"]["type"]["name"].replace("/", "."), f["method"]["name"])
             for f in frames]
    i = 0
    while i < len(names) and NOISE.match(names[i]):
        i += 1
    return tuple(names[i:i + depth]) or ("(JDK frames only)",)


def summarize(events, depth):
    forks_cmd, forks_thread, forks_stack = (collections.Counter() for _ in range(3))
    park_s, park_n = collections.Counter(), collections.Counter()
    forks = 0
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
    return {"forks": forks, "forks_by_command": forks_cmd, "forks_by_thread": forks_thread,
            "forks_by_stack": forks_stack, "task_park_s": park_s, "task_park_n": park_n}


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


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pid", type=int, help="JVM to attach to (default: the perfbench JVM)")
    ap.add_argument("--seconds", type=float, help="stop recording after this long")
    ap.add_argument("--out", default="jfr_attrib.jfr", help="recording file to write")
    ap.add_argument("--jfr", help="report on this recording instead of attaching")
    ap.add_argument("--depth", type=int, default=6, help="frames per stack")
    ap.add_argument("--top", type=int, default=10)
    a = ap.parse_args()
    jfr_file = a.jfr
    if jfr_file is None:
        pid = a.pid or find_pid(MAIN_CLASS)
        jfr_file = os.path.abspath(a.out)
        print(f"# recording pid {pid} to {jfr_file}", file=sys.stderr)
        record(pid, jfr_file, a.seconds)
    report(summarize(load_events(jfr_file), a.depth), a.top)


if __name__ == "__main__":
    main()
