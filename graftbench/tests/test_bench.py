"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s graftbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen    # noqa: E402
import run    # noqa: E402
import stats  # noqa: E402


def tree_digest(root):
    """Hash of every file's relative path and bytes under ``root``."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class TailRule(unittest.TestCase):

    def test_tail_leaves_at_least_ten_samples_beyond(self):
        for n in range(40, 3000):
            q = stats.tail_q(n)
            self.assertGreaterEqual(stats.beyond(n, q), 10, n)
            for x in stats.TAIL_LADDER:
                if x > q:
                    self.assertLess(stats.beyond(n, x), 10, (n, x))

    def test_short_runs_leave_a_quarter_beyond(self):
        for n in range(4, 40):
            q = stats.tail_q(n)
            self.assertEqual(q, 0.75, n)
            self.assertGreaterEqual(stats.beyond(n, q), n // 4, n)
            self.assertLess(stats.beyond(n, 0.9), n // 4, n)

    def test_known_sample_counts(self):
        self.assertEqual(stats.percentile([1, 5, 2], stats.tail_q(3)), 5)
        self.assertEqual(stats.tail_q(16), 0.75)
        self.assertEqual(stats.tail_q(20), 0.75)
        self.assertEqual(stats.tail_q(48), 0.75)
        self.assertEqual(stats.tail_q(99), 0.75)
        self.assertEqual(stats.tail_q(100), 0.9)
        self.assertEqual(stats.tail_q(200), 0.95)

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile([3.0], 0.99), 3.0)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 0.5), 3)

    def test_ingest_schedule_reaches_a_tail(self):
        per_pass = gen.HOURS_PER_PASS - gen.ABSENT_PER_PASS + gen.REINGEST_PER_PASS
        self.assertEqual(stats.tail_q(per_pass * gen.PASSES), 0.75)


class DriverTime(unittest.TestCase):

    def test_union_of_overlapping_and_clipped_intervals(self):
        spans = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (-1.0, 0.5), (9.0, 12.0)]
        # [1,4] + [6,7] + [9,10] inside [0,10], plus [0,0.5]
        self.assertAlmostEqual(stats.covered(spans, 0.0, 10.0), 5.5)
        self.assertAlmostEqual(stats.driver_time(spans, 0.0, 10.0), 4.5)

    def test_nested_and_touching_intervals(self):
        spans = [(0.0, 10.0), (2.0, 3.0), (10.0, 11.0)]
        self.assertAlmostEqual(stats.covered(spans, 0.0, 12.0), 11.0)
        self.assertAlmostEqual(stats.driver_time([], 0.0, 2.5), 2.5)

    def test_busy_fraction(self):
        self.assertAlmostEqual(stats.busy_frac(8.0, 4.0, 4), 0.5)


class SeededInputs(unittest.TestCase):

    def setUp(self):
        self.saved = gen.LARGE_ROWS
        gen.LARGE_ROWS = 2000

    def tearDown(self):
        gen.LARGE_ROWS = self.saved

    def make(self, workload, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d))
        spec = gen.generate(workload, d, seed)
        return d, spec

    def test_same_seed_same_tree_and_schedule(self):
        a, sa = self.make("ingest", 7)
        b, sb = self.make("ingest", 7)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertEqual(json.dumps(sa, sort_keys=True), json.dumps(sb, sort_keys=True))
        c, sc = self.make("ingest", 8)
        self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_same_seed_same_embeddings(self):
        a, _ = self.make("stream_microbatch", 3)
        b, _ = self.make("stream_microbatch", 3)
        c, _ = self.make("stream_microbatch", 4)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_schedule_shape(self):
        d, spec = self.make("ingest", 11)
        for ops in spec["passes"]:
            kinds = [o["kind"] for o in ops]
            self.assertEqual(kinds.count("absent"), gen.ABSENT_PER_PASS)
            self.assertEqual(kinds.count("reingest"), gen.REINGEST_PER_PASS)
            for i, o in enumerate(ops):
                if o["kind"] == "reingest":
                    first = [p["hour"] for p in ops[:i] if p["kind"] == "small"]
                    self.assertIn(o["hour"], first)
                if o["kind"] == "absent":
                    self.assertNotIn(o["hour"], spec["expected"])
                    self.assertFalse(os.path.exists(os.path.join(
                        d, "raw", os.path.relpath(gen.hive_dir("", _dt(o["hour"]))))))
        large = [o["hour"] for o in spec["large"]]
        self.assertEqual(len(large), gen.LARGE_HOURS * gen.LARGE_ROUNDS)
        self.assertEqual(len(set(large)), gen.LARGE_HOURS)
        # the first large hour is warmed, so every timed large load replaces
        # a landed hour or lands a new one of the same size
        self.assertEqual(spec["warm"][-1]["hour"], large[0])
        for hour, agg in spec["expected"].items():
            path = os.path.join(gen.hive_dir(os.path.join(d, "raw"), _dt(hour)),
                                "part-000.tsv")
            with open(path) as f:
                lines = f.read().splitlines()
            self.assertEqual(len(lines), agg["rows"])
            self.assertEqual(sum(int(ln.split("\t")[4]) for ln in lines),
                             agg["bytes_sum"])


def _dt(hour_id):
    import datetime
    return datetime.datetime.strptime(hour_id, "%Y%m%d%H")


class LandedCheck(unittest.TestCase):

    want = {"2023010100": {"rows": 3, "bytes_sum": 10, "sec_sum": 5,
                           "source_bytes": 99}}

    def row(self, hour, rows, b, s):
        return {"hour": hour, "rows": rows, "bytes_sum": b, "sec_sum": s}

    def test_exact_match_passes(self):
        self.assertEqual(check.landed_failures(
            [self.row("2023010100", 3, 10, 5)], self.want, set()), {})

    def test_doubled_missing_absent_and_extra_hours_fail(self):
        doubled = check.landed_failures(
            [self.row("2023010100", 6, 20, 10)], self.want, set())
        self.assertIn("2023010100", doubled)
        self.assertIn("2023010100", check.landed_failures([], self.want, set()))
        bad = check.landed_failures(
            [self.row("2023010100", 3, 10, 5), self.row("2023010101", 1, 1, 1),
             self.row("2023010102", 1, 1, 1)], self.want, {"2023010101"})
        self.assertEqual(set(bad), {"2023010101", "2023010102"})


class MetricNames(unittest.TestCase):

    def test_declared_metrics_match_benchmark_json(self):
        root = os.path.dirname(BENCH)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))

    def test_every_layer_maps_to_end_to_end_metrics(self):
        for name in run.PER_LAYER:
            got = run.moves(name)
            if name.startswith(("jvm.", "trace.")):
                self.assertEqual(got, (), name)
            else:
                self.assertTrue(got, name)
                self.assertTrue(set(got) <= set(run.END_TO_END), name)
        self.assertEqual(run.moves("table.commit_s"), ("op_p50_s",))
        self.assertEqual(run.moves("table.write_s"), ("rows_per_s",))

    def test_every_emitted_metric_is_declared(self):
        ingest = run.ingest_result(FAKE_INGEST, FAKE_SPEC, True, "/nonexistent")
        stream = run.stream_layers(FAKE_STREAM, FAKE_STREAM["trace"]["progress"])
        e2e = set(ingest[2]) | {"setup_s"}
        self.assertEqual(e2e, set(run.END_TO_END))
        self.assertEqual(set(ingest[3]), set(run.PER_LAYER))
        self.assertTrue(set(stream) <= set(run.PER_LAYER))


class IngestVerdict(unittest.TestCase):
    """Every failed load job and every wrong landed hour is a failure, warm
    ones included."""

    def failures(self, landed):
        obs = dict(FAKE_INGEST, landed=landed)
        return run.ingest_result(obs, FAKE_SPEC, False, "/nonexistent")[1]

    def test_correct_landing_has_no_failures(self):
        self.assertEqual(self.failures(FAKE_INGEST["landed"]), [])

    def test_bad_warm_hour_fails(self):
        landed = [dict(r, rows=2 * r["rows"]) if r["hour"] == WARM_HOUR else r
                  for r in FAKE_INGEST["landed"]]
        bad = self.failures(landed)
        self.assertEqual(len(bad), 1)
        self.assertIn(WARM_HOUR, bad[0])
        missing = [r for r in FAKE_INGEST["landed"] if r["hour"] != WARM_HOUR]
        self.assertEqual(len(self.failures(missing)), 1)

    def test_failed_warm_job_fails(self):
        obs = dict(FAKE_INGEST, warm=[dict(FAKE_INGEST["warm"][0], ok=False,
                                           error="status FAILED")])
        bad = run.ingest_result(obs, FAKE_SPEC, False, "/nonexistent")[1]
        self.assertEqual(bad, [f"hour {WARM_HOUR}: status FAILED"])

    def test_unexpected_hour_fails(self):
        extra = {"hour": "2024010100", "rows": 1, "bytes_sum": 1, "sec_sum": 1}
        bad = self.failures(FAKE_INGEST["landed"] + [extra])
        self.assertEqual(bad, ["hour 2024010100: unexpected hour landed"])

    def test_timed_hour_landed_wrong_fails_its_job(self):
        hour = FAKE_SPEC["passes"][0][3]["hour"]
        landed = [dict(r, bytes_sum=0) if r["hour"] == hour else r
                  for r in FAKE_INGEST["landed"]]
        bad = self.failures(landed)
        self.assertEqual(len(bad), 1)
        self.assertIn(hour, bad[0])


def _trace(jobs=(), job_ends=(), stages=(), progress=()):
    return {"jobs": list(jobs), "job_ends": list(job_ends),
            "stages": list(stages), "progress": list(progress),
            "callback_s": 0.01}


def _stage(i):
    return {"stage_id": i, "tasks": 1, "run_ms": 100, "cpu_ns": 9e7,
            "gc_ms": 1, "input_bytes": 50, "input_rows": 5, "output_bytes": 40,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}


WARM_HOUR = "2022120100"

FAKE_SPEC = {
    "warm": [{"hour": WARM_HOUR, "kind": "small"}],
    "passes": [[{"hour": f"20230101{h:02d}", "kind": "small"}
                for h in range(24)]],
    "large": [{"hour": "2023010300", "kind": "large"}],
    "expected": {**{f"20230101{h:02d}": {"rows": 1, "bytes_sum": 1, "sec_sum": 1,
                                          "source_bytes": 100} for h in range(24)},
                 "2023010300": {"rows": 10, "bytes_sum": 1, "sec_sum": 1,
                                "source_bytes": 1000},
                 WARM_HOUR: {"rows": 2, "bytes_sum": 3, "sec_sum": 4,
                             "source_bytes": 100}},
}


def _record(i, hour, kind):
    t = 1000.0 + 1000 * i
    return {"hour": hour, "kind": kind, "ok": True, "pass": 0,
            "job_id": f"j{i}", "start_ms": t, "exists_s": 0.01, "put_s": 0.02,
            "status_s": [0.001, 0.002], "put_end_ms": t + 30,
            "outcome_ms": t + 300, "latency_s": 0.3 + i / 1000}


FAKE_INGEST = {
    "warm": [_record(-1, WARM_HOUR, "small")],
    "pass_s": [7.5], "large_s": 2.0,
    "timed_start_ms": 1000.0, "timed_end_ms": 27000.0,
    "records": [_record(i, o["hour"], o["kind"]) for i, o in
                enumerate(FAKE_SPEC["passes"][0] + FAKE_SPEC["large"])],
    "landed": [{"hour": h, **{k: v for k, v in a.items() if k != "source_bytes"}}
               for h, a in FAKE_SPEC["expected"].items()],
    "trace": _trace(
        jobs=[{"job_id": i, "start_ms": 1000.0 + 1000 * i + 50, "group": f"j{i}",
               "stage_ids": [i]} for i in range(25)],
        job_ends=[{"job_id": i, "end_ms": 1000.0 + 1000 * i + 250}
                  for i in range(25)],
        stages=[_stage(i) for i in range(25)]),
}

FAKE_STREAM = {
    "pass_s": [6.0],
    "execs": [{"pass": 0, "out": "", "start_ms": 0.0, "end_ms": 6000.0,
               "wall_s": 6.0, "error": ""}],
    "trace": _trace(progress=[
        {"run_id": "r", "batch_id": b, "start_ms": 100.0 * b, "rows": 10,
         "duration_ms": {"triggerExecution": 1500, "addBatch": 1300,
                         "queryPlanning": 10, "getBatch": 10, "walCommit": 50,
                         "commitOffsets": 50}} for b in range(4)]),
}


if __name__ == "__main__":
    unittest.main()
