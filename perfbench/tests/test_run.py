"""Tests of run.py's analysis on synthetic event logs: a clean run, and runs
whose streams or drains failed, which must still give a result line that
counts the failures instead of crashing.

Run: python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

PROBES = {"spin_before_ms": 100.0, "spin_after_ms": 110.0, "iowait_pct": 0.0,
          "steal_pct": 0.5, "loadavg_1m_before": 1.0, "loadavg_1m_after": 1.5}
T0 = 1_700_000_000_000


def iso(ms):
    s, r = divmod(ms, 1000)
    dt = datetime.datetime.fromtimestamp(s, datetime.timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{r:03d}Z"


class Log:
    """Builds an event log the way the JVM side writes it."""

    def __init__(self):
        self.events = [{"kind": "setup", "seconds": 20.0}]
        self.queries = 0

    def add(self, **e):
        self.events.append(e)

    def drain(self, tag, leg, pass_, ok, turns, wall_s, start, epochs=(), rows=()):
        """A drain or live run: its query, progress and sink commits, then
        the drain record. `epochs` are (epoch, trigger start, commit end);
        `rows` are (epoch, ts, count) of committed output."""
        self.queries += 1
        q = f"q{self.queries}"
        self.add(kind="query", tag=tag, query=q)
        for epoch, t, end in epochs:
            self.add(kind="progress", query=q, p={
                "batchId": epoch, "timestamp": iso(t), "numInputRows": turns,
                "durationMs": {"triggerExecution": end - t, "addBatch": end - t - 10},
                "stateOperators": [{"memoryUsedBytes": 2_000_000, "numRowsTotal": 10,
                                    "numRowsDroppedByWatermark": 0}]})
            self.add(kind="batch", tag=tag, epoch=epoch, start=t + 5, end=end, skipped=False)
        for epoch, ts, n in rows:
            self.add(kind="rows", tag=tag, epoch=epoch, ts=ts, n=n)
        if not ok:
            self.add(kind="error", tag=tag, message=f"{tag} failed")
        self.add(kind="drain", tag=tag, leg=leg, ok=ok, turns=turns, wall_s=wall_s,
                 start=start, end=start + int(wall_s * 1000), out=os.path.join("missing", tag),
                 gc_ms=0, handler_calls=turns, handler_ms=1.0, **{"pass": pass_})

    def check(self, tag, expected, missing=0):
        self.add(kind="check", tag=tag, read_ms=1.0, expected=expected, got=expected - missing,
                 missing=missing, duplicate=0, unexpected=0, wrong=0, samples=[])

    def summarize(self, workload, trace):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "events.jsonl")
            with open(path, "w") as f:
                for e in self.events:
                    f.write(json.dumps(e) + "\n")
            return run.summarize(run.Events(path), workload, trace, PROBES, d)


def replay_pass(log, pass_, cores_ok=True, c1_ok=True):
    for leg, ok, wall in (("cores", cores_ok, 2.0), ("c1", c1_ok, 8.0)):
        tag = f"p{pass_}/{leg}/0"
        start = T0 + pass_ * 100_000 + (0 if leg == "cores" else 50_000)
        log.drain(tag, leg, pass_, ok, 1000, wall, start,
                  epochs=[(0, start + 100, start + 1500)] if ok else [],
                  rows=[(0, None, 100)] if ok else [])
        log.check(tag, 100, missing=0 if ok else 100)


class Summarize(unittest.TestCase):
    def test_clean_replay(self):
        log = Log()
        replay_pass(log, 0)
        report, result = log.summarize("cep_replay", 0)
        self.assertEqual((result["correct"], result["attempted"], result["failed"]),
                         (True, 200, 0))
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(m, {"setup_s": 20.0, "turns_per_s": 500.0, "c1_turns_per_s": 125.0,
                             "emit_p50_ms": 1500, "emit_p95_ms": 1500, "state_peak_mb": 2.0})
        self.assertEqual(report["unmeasured"], [])

    def test_failed_live_run_and_c1_drain_are_counted(self):
        log = Log()
        live = "p0/live/0"
        log.add(kind="schedule", tag=live, t0=T0, base=0, interval_ms=250, lead_s=2.0, files=48)
        # the live stream committed epoch 0 (40 rows due at 3 s) and then threw
        log.drain(live, "live", 0, False, 1000, 0.0, T0,
                  epochs=[(0, T0 + 3000, T0 + 4000)], rows=[(0, 3000, 40)])
        log.check(live, 100, missing=60)
        log.drain("p0/cores/0", "cores", 0, True, 1000, 2.0, T0 + 20_000,
                  epochs=[(0, T0 + 20_100, T0 + 21_000)], rows=[(0, 3000, 100)])
        log.check("p0/cores/0", 100)
        log.drain("p0/c1/0", "c1", 0, False, 1000, 5.0, T0 + 30_000)
        log.check("p0/c1/0", 100, missing=100)
        report, result = log.summarize("cep_live", 0)
        self.assertFalse(result["correct"])
        # 60 + 100 missing rows, plus the two runs that threw
        self.assertEqual((result["attempted"], result["failed"]), (300, 162))
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(m["turns_per_s"], 500.0)
        self.assertEqual(m["setup_s"], 20.0)
        for k in ("c1_turns_per_s", "emit_p50_ms", "emit_p95_ms", "state_peak_mb"):
            self.assertIsNone(m[k], k)
        self.assertEqual(sorted(report["unmeasured"]),
                         ["c1_turns_per_s", "emit_p50_ms", "emit_p95_ms", "state_peak_mb"])
        self.assertEqual(report["failed_runs"], 2)

    def test_live_row_over_latency_limit_fails(self):
        log = Log()
        live = "p0/live/0"
        log.add(kind="schedule", tag=live, t0=T0, base=0, interval_ms=250, lead_s=2.0, files=48)
        log.drain(live, "live", 0, True, 1000, 0.0, T0,
                  epochs=[(0, T0 + 3000, T0 + 4000), (1, T0 + 4000, T0 + 16_000)],
                  rows=[(0, 3000, 90), (1, 5000, 10)])
        log.check(live, 100)
        log.drain("p0/cores/0", "cores", 0, True, 1000, 2.0, T0 + 20_000,
                  epochs=[(0, T0 + 20_100, T0 + 21_000)], rows=[(0, 3000, 100)])
        log.check("p0/cores/0", 100)
        log.drain("p0/c1/0", "c1", 0, True, 1000, 5.0, T0 + 30_000,
                  epochs=[(0, T0 + 30_100, T0 + 34_000)], rows=[(0, 3000, 100)])
        log.check("p0/c1/0", 100)
        report, result = log.summarize("cep_live", 0)
        # epoch 1 committed 11 s after its rows were due
        self.assertEqual((result["correct"], result["failed"]), (False, 10))
        self.assertEqual(report["rows_over_latency_limit"], 10)
        self.assertEqual(result["metrics"]["emit_p50_ms"]["value"], 1000)

    def test_failed_traced_pass_gives_a_result(self):
        log = Log()
        replay_pass(log, 0)
        replay_pass(log, 1, cores_ok=False, c1_ok=False)
        report, result = log.summarize("cep_replay", 1)
        self.assertFalse(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]), (400, 202))
        names = {m["name"] for m in run.DECLARED["per_layer"]}
        self.assertEqual(set(result["metrics"]), names)
        self.assertIsNone(result["metrics"]["state.stage_run_ms"]["value"])
        self.assertIsNone(result["metrics"]["overhead.turns_per_s_pct"]["value"])
        self.assertEqual(result["metrics"]["host.steal_pct"]["value"], 0.5)
        self.assertIn("traced turns_per_s", report["unmeasured"])


if __name__ == "__main__":
    unittest.main()
