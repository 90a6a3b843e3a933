import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import drain_split  # noqa: E402


def progress(query, batch, rows, total, **phases):
    return {"kind": "progress", "query": query,
            "p": {"batchId": batch, "numInputRows": rows,
                  "durationMs": dict(phases, triggerExecution=total)}}


def drain(tag, leg, start, end, ok=True, traced=False):
    return {"kind": "drain", "tag": tag, "leg": leg, "pass": 1 if traced else 0,
            "traced": traced, "start": start, "end": end, "ok": ok}


BULK = dict(latestOffset=10, getBatch=400, queryPlanning=30, addBatch=1500,
            walCommit=5, commitOffsets=5)


def replay_run(getbatch=400):
    """A warm drain and two cores drains: each a bulk trigger plus a
    trailing no-data eviction trigger; the second drain is slower."""
    ev = [{"kind": "query", "tag": "warm", "query": "w"},
          progress("w", 0, 100, 500, addBatch=450),
          drain("warm", "warm", 0, 600)]
    for i, extra in enumerate((0, 200)):
        q, tag = f"q{i}", f"p0/cores/{i}"
        phases = dict(BULK, getBatch=getbatch, addBatch=BULK["addBatch"] + extra)
        total = sum(phases.values()) + 50
        ev += [{"kind": "query", "tag": tag, "query": q},
               # logged out of order: the split sorts by batchId
               progress(q, 1, 0, 300, latestOffset=2),
               progress(q, 0, 5000, total, **phases),
               drain(tag, "cores", 10_000 * (i + 1), 10_000 * (i + 1) + total + 300 + 100)]
    return ev


def write(events):
    f = tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False)
    with f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    return f.name


class DrainSplitTest(unittest.TestCase):

    def tearDown(self):
        for p in getattr(self, "paths", []):
            os.unlink(p)

    def summarize(self, *runs):
        self.paths = [write(r) for r in runs]
        return drain_split.summarize(self.paths)

    def test_bulk_eviction_and_outside(self):
        s = self.summarize(replay_run())
        cores = s["legs"]["cores"]
        self.assertEqual(cores["drains"], 2)
        m = cores["median"]
        self.assertEqual(m["getBatch"], 400)
        self.assertEqual(m["addBatch"], 1600)  # median of 1500 and 1700
        self.assertEqual(m["latestOffset"], 10)  # the bulk trigger's, not the eviction's
        self.assertEqual(m["bulk_rest"], 50)
        self.assertEqual(m["eviction"], 300)
        self.assertEqual(m["other_triggers"], 0)
        self.assertEqual(m["outside"], 100)
        self.assertEqual(m["wall"], 1950 + 50 + 300 + 100 + 100)
        warm = s["legs"]["warm"]["median"]
        self.assertEqual((warm["addBatch"], warm["eviction"], warm["outside"]), (450, 0, 100))
        self.assertIsNone(s["fit"])
        self.assertIsNone(m["task_cpu"])  # untraced drains log no stages

    def test_pools_runs_and_skips_failed_drains(self):
        bad = replay_run(getbatch=20)
        bad[-1]["ok"] = False
        s = self.summarize(replay_run(getbatch=400), replay_run(getbatch=20), bad)
        self.assertEqual(s["legs"]["cores"]["drains"], 5)
        self.assertEqual(s["legs"]["cores"]["median"]["getBatch"], 20)

    def test_traced_drains_are_their_own_leg_with_task_cpu(self):
        run = replay_run()
        for e in run:
            if e["kind"] == "drain" and e["leg"] == "cores":
                e["traced"] = True
        # stages of the first cores drain (10000..12400) and one outside
        run += [{"kind": "stage", "submit": t, "cpu_ms": c}
                for t, c in ((10_000, 100.0), (12_000, 250.5), (13_000, 999.0))]
        s = self.summarize(run)
        self.assertEqual(sorted(s["legs"]), ["cores traced", "warm"])
        # the second drain (20000..22600) has no stage: 0, not missing
        self.assertAlmostEqual(s["legs"]["cores traced"]["median"]["task_cpu"], (350.5 + 0) / 2)

    def test_live_fit_and_other_triggers(self):
        ev = [{"kind": "query", "tag": "p0/live/0", "query": "l"}]
        # 300 ms fixed + 20 ms per 1k rows, exactly; one idle trigger that
        # the fit leaves out
        rows = [1000, 2000, 4000, 8000]
        ev += [progress("l", i, r, 300 + r // 50) for i, r in enumerate(rows)]
        ev += [progress("l", 4, 0, 40), drain("p0/live/0", "live", 0, 2000)]
        # a traced live drain is its own leg and stays out of the fit
        ev += [{"kind": "query", "tag": "p1/live/0", "query": "t"},
               progress("t", 0, 3000, 5000), drain("p1/live/0", "live", 3000, 9000, traced=True)]
        s = self.summarize(ev)
        fixed, per_k, r2 = s["fit"]
        self.assertAlmostEqual(fixed, 300)
        self.assertAlmostEqual(per_k, 20)
        self.assertAlmostEqual(r2, 1)
        self.assertEqual(s["fit_triggers"], 4)
        m = s["legs"]["live"]["median"]
        self.assertEqual(m["addBatch"], 0)  # no phases logged for the bulk one
        self.assertEqual(m["bulk_rest"], 460)  # 8000 rows
        self.assertEqual(m["other_triggers"], 320 + 340 + 380)
        self.assertEqual(m["eviction"], 40)

    def test_fit_needs_two_row_counts(self):
        self.assertIsNone(drain_split.fit([(5, 10.0), (5, 12.0)]))
        fixed, per_k, _ = drain_split.fit([(0, 10.0), (1000, 12.0)])
        self.assertAlmostEqual(fixed, 10)
        self.assertAlmostEqual(per_k, 2)

    def test_report_orders_legs(self):
        run = replay_run()
        run += [{"kind": "query", "tag": "c1", "query": "c"},
                progress("c", 0, 5000, 900, getBatch=800), drain("c1", "c1", 0, 1000)]
        out = io.StringIO()
        drain_split.report(self.summarize(run), out)
        lines = out.getvalue().splitlines()
        self.assertIn("getBatch", lines[0])
        self.assertEqual([l.split()[0] for l in lines[1:]], ["warm", "cores", "c1"])


if __name__ == "__main__":
    unittest.main()
