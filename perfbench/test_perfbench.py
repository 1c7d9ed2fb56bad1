"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import tempfile
import unittest
from pathlib import Path

import gen
import report


def _query(name, p, start, dur, ok=True, built=None):
    return {"t": "query", "pass": p, "name": name, "ok": ok, "err": "" if ok else "boom",
            "start": start, "built": start + (built if built is not None else dur / 2),
            "end": start + dur, "codegen_ns": 0, "traced": False}


class PercentileRule(unittest.TestCase):
    def test_too_few_samples_gives_no_tail(self):
        self.assertEqual(report.tail(list(range(19))), (None, None, 19))

    def test_tail_keeps_ten_samples_beyond(self):
        for n, want in [(20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (200, 95), (1000, 99)]:
            xs = list(range(1, n + 1))
            pct, value, count = report.tail(xs)
            self.assertEqual((pct, count), (want, n), n)
            self.assertGreaterEqual(sum(x > value for x in xs), 10, n)
            nxt = [p for p in report.LADDER if p > pct]
            if nxt:  # the next rung up would leave fewer than ten beyond it
                self.assertLess(sum(x > report.percentile(xs, nxt[0]) for x in xs), 10, n)

    def test_nearest_rank(self):
        self.assertEqual(report.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(report.percentile([1, 2, 3, 4], 75), 3)


class FailedQueries(unittest.TestCase):
    def test_a_query_that_throws_is_failed_and_not_timed(self):
        ev = [_query("a", 0, 0, 1000), _query("b", 0, 1000, 50, ok=False),
              _query("a", 1, 2000, 500), _query("b", 1, 2500, 30, ok=False)]
        s = report.timed_summary(ev)
        self.assertEqual((s["attempted"], s["failed"], s["failed_queries"]), (4, 2, ["b"]))
        self.assertEqual(s["pass_cold_s"], 1.0)
        self.assertEqual(s["pass_warm_s"], 0.5)
        self.assertEqual((s["query_p50_s"], s["query_samples"]), (0.5, 1))

    def test_p50_is_the_median_query_of_per_query_medians(self):
        ev = [_query("a", 0, 0, 9000)]
        for p, durs in enumerate([(100, 200, 900), (120, 260, 700), (110, 240, 800)], start=1):
            ev += [_query(n, p, 10000 * p + i * 1000, d) for i, (n, d) in enumerate(zip("abc", durs))]
        self.assertEqual(report.timed_summary(ev)["query_p50_s"], 0.24)


class SelfTimes(unittest.TestCase):
    def test_layers_partition_the_query(self):
        spans = [("catalyst", 60, 100), ("scheduler", 10, 50), ("scheduler", 70, 95),
                 ("executor", 20, 30), ("executor", 25, 45), ("streaming", 5, 55)]
        st = report.self_times((0, 100), spans)
        self.assertAlmostEqual(sum(st.values()), 100)
        self.assertEqual(st, {"executor": 25, "scheduler": 10 + 5 + 25,
                              "streaming": 5 + 5, "catalyst": 10 + 5, "queries": 5 + 5})

    def test_traced_pass_adds_up_per_query(self):
        ev = [_query("a", 0, 1000, 100, built=40), _query("b", 0, 1100, 60, built=10),
              {"t": "job_start", "job": 0, "time": 1010, "stages": [0]},
              {"t": "job_end", "job": 0, "time": 1030, "ok": True},
              {"t": "job_start", "job": 1, "time": 1050, "stages": [1, 2]},
              {"t": "job_end", "job": 1, "time": 1095, "ok": True},
              {"t": "job_start", "job": 2, "time": 1120, "stages": [3]},
              {"t": "job_end", "job": 2, "time": 1150, "ok": True}]
        for sid, sub, done in [(0, 1012, 1028), (1, 1055, 1070), (2, 1071, 1090), (3, 1125, 1145)]:
            ev.append({"t": "stage", "stage": sid, "attempt": 0, "submit": sub, "complete": done,
                       "tasks": 4, "run_ms": 40, "cpu_ns": 10**7, "gc_ms": 1, "in_rec": 10,
                       "in_bytes": 100, "out_rec": 0, "out_bytes": 0, "sr_rec": 0, "sr_bytes": 0,
                       "sw_rec": 5, "sw_bytes": 50, "spill_disk": 0, "spill_mem": 0})
        ev.append({"t": "exec", "time": 1094, "ok": True, "analysis_ms": 2, "optimizer_ms": 3,
                   "planning_ms": 1, "files": 0})
        ev += [{"t": "sql_start", "id": 0, "time": 1009}, {"t": "sql_start", "id": 1, "time": 1049}]
        t = report.trace_pass(ev, 0, cpus=4)
        for q in t["per_query"]:
            self.assertAlmostEqual(sum(q["self_ms"].values()), q["wall_ms"])
        a, b = t["per_query"]
        self.assertEqual((a["scheduler.jobs"], a["queries.builder_jobs"], a["scheduler.stages"]), (2, 1, 3))
        self.assertEqual((b["scheduler.jobs"], b["queries.builder_jobs"]), (1, 0))
        self.assertEqual(t["metrics"]["executor.records_in"], 40)
        self.assertEqual(t["metrics"]["queries.actions"], 2)
        self.assertEqual(t["metrics"]["catalyst.optimizer_ms"], 3)
        self.assertAlmostEqual(t["metrics"]["scheduler.slot_util"], 160 / (4 * 160))

    def test_unstable_counters_are_flagged(self):
        a = {"scheduler.jobs": 3, "executor.records_in": 10, "executor.run_ms": 5}
        b = {"scheduler.jobs": 3, "executor.records_in": 11, "executor.run_ms": 9}
        self.assertEqual(report.unstable_counters(a, b), ["executor.records_in"])


class SeededInput(unittest.TestCase):
    @staticmethod
    def _digest(d):
        return {t: hashlib.sha256((d / f"{t}.parquet").read_bytes()).hexdigest() for t in gen.TABLES}

    def test_seed_changes_bytes_not_row_counts(self):
        with tempfile.TemporaryDirectory() as tmp:
            tmp = Path(tmp)
            a = gen.generate(tmp / "a", 1, 2)
            a2 = gen.generate(tmp / "a2", 1, 2)
            b = gen.generate(tmp / "b", 2, 2)
            da, da2, db = (self._digest(tmp / x) for x in ("a", "a2", "b"))
            base = gen.generate(tmp / "base", 1, 1)["rows"]
        self.assertEqual(da, da2)
        self.assertEqual(a["rows"], b["rows"])
        for t in gen.COPIED:
            self.assertEqual(a["rows"][t], base[t], t)
        for t in gen.SCALED:
            self.assertEqual(a["rows"][t], 2 * base[t], t)
        for t in ("documents", "embeddings"):
            self.assertNotEqual(da[t], db[t], t)

    def test_replicas_keep_duplicates_but_are_not_copies(self):
        with tempfile.TemporaryDirectory() as tmp:
            one = gen.generate(Path(tmp) / "one", 3, 1)
            four = gen.generate(Path(tmp) / "four", 3, 4)
        self.assertGreater(one["documents_near_dup_share"], 0.0)
        self.assertEqual(four["documents_near_dup_share"], one["documents_near_dup_share"])
        self.assertEqual(four["documents_exact_dup_share"], one["documents_exact_dup_share"])
        self.assertEqual(four["embeddings_exact_dup_share"], 0.0)


if __name__ == "__main__":
    unittest.main()
