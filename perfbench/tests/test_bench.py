"""Tests of the benchmark's own logic.

    python3 perfbench/tests/test_bench.py
"""
import json
import os
import random
import sys
import threading
import time
import unittest
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from bench import accounting, datagen, loadgen, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(999), 95.0)
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(199), 90.0)
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(20), 50.0)
        self.assertEqual(stats.tail_level(5), 50.0)

    def test_summary_reports_count_and_level(self):
        s = stats.summarize([float(i) for i in range(300)])
        self.assertEqual((s["n"], s["tail_level"]), (300, 95.0))
        self.assertEqual(s["tail"], 284.0)
        self.assertEqual(s["p50"], 149.0)


class _Slow(BaseHTTPRequestHandler):
    delay_s = 0.0

    def do_GET(self):
        time.sleep(self.delay_s)
        body = json.dumps({"qResponse": {"Results": {
            "rowCount": 1, "rows": [{"gen": 3}]}}}).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


class OpenLoopTest(unittest.TestCase):
    def serve(self, delay_s):
        handler = type("H", (_Slow,), {"delay_s": delay_s})
        srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        self.addCleanup(srv.shutdown)
        return srv.server_address[1]

    def run_load(self, delay_s, rate, duration, threads):
        port = self.serve(delay_s)
        due = loadgen.fixed_rate(random.Random(1), rate, 0.0, duration)
        check = lambda body: ("", loadgen.parse_rows(body)[0]["gen"])
        reqs = [loadgen.Request(d, "/q", check) for d in due]
        clients = [loadgen.Client(port) for _ in range(threads)]
        try:
            return loadgen.run(reqs, lambda i, p: clients[i].get(p), threads,
                               time.monotonic())
        finally:
            for c in clients:
                c.close()

    def test_schedule_is_seeded_and_sized(self):
        a = loadgen.fixed_rate(random.Random(5), 40, 2.0, 3.0)
        b = loadgen.fixed_rate(random.Random(5), 40, 2.0, 3.0)
        self.assertEqual(a, b)
        self.assertEqual(len(a), 120)
        self.assertTrue(all(2.0 <= t < 5.0 for t in a))
        self.assertEqual(a, sorted(a))

    def test_on_time_when_capacity_suffices(self):
        res = self.run_load(0.0, 50, 1.0, 2)
        self.assertEqual(len(res), 50)
        self.assertTrue(all(r.generation == 3 and not r.failure for r in res))
        self.assertLess(max(r.lateness for r in res), 0.05)

    def test_stall_counts_from_due_time(self):
        # one thread, 50 ms service, a request due every 20 ms: the
        # generator falls behind and latency, timed from the due time,
        # grows with the backlog instead of staying at the service time
        res = self.run_load(0.05, 50, 0.5, 1)
        late = [r.lateness for r in res]
        self.assertGreater(late[-1], late[0] + 0.3)
        self.assertGreater(res[-1].latency, 0.05 + late[-1] - 0.01)
        self.assertGreater(stats.summarize([r.latency for r in res])["tail"],
                           0.3)

    def test_goodput_counts_only_correct_answers(self):
        mk = lambda done, failure="": loadgen.Result(
            loadgen.Request(1.0, "/q", None), done=done, failure=failure)
        res = [mk(1.1), mk(1.2), mk(3.0), mk(1.1, "HTTP 503")]
        self.assertEqual(loadgen.goodput(res, 1.0), 1.5)

    def test_closed_loop_keeps_threads_busy(self):
        port = self.serve(0.01)
        client = loadgen.Client(port)
        check = lambda body: ("", None)
        res = loadgen.saturate(lambda due: loadgen.Request(due, "/q", check),
                               lambda i, p: client.get(p), 1,
                               time.monotonic(), 0.0, 0.5)
        client.close()
        self.assertGreater(len(res), 10)
        self.assertTrue(all(r.lateness == 0.0 for r in res))

    def test_zipf_is_skewed(self):
        draw = loadgen.zipf_sampler(random.Random(3), 1000, 1.1)
        xs = [draw() for _ in range(20000)]
        self.assertTrue(all(0 <= x < 1000 for x in xs))
        self.assertGreater(xs.count(0), 20 * max(1, xs.count(500)))

    def test_zipf_draws_match_the_distribution_in_short_runs(self):
        n, a = 15000, 0.99
        p0 = 1.0 / sum(1.0 / (k + 1) ** a for k in range(n))
        for seed in range(5):
            draw = loadgen.zipf_sampler(random.Random(seed), n, a)
            xs = [draw() for _ in range(200)]
            # independent draws would give 200 * p0 +- 4.2 (one sd)
            self.assertLessEqual(abs(xs.count(0) - 200 * p0), 2.0)

    def test_stale_reads_after_promote(self):
        mk = lambda sent, gen: loadgen.Result(None, sent=sent, generation=gen)
        promotes = [(0.0, 1), (1.0, 2)]
        ok = [mk(0.5, 1), mk(1.5, 2), mk(0.9, 1)]
        stale = [mk(1.1, 1)]
        self.assertEqual(loadgen.stale_reads(ok + stale, promotes), stale)


class AccountingTest(unittest.TestCase):
    SCHEMA = "k:bigint,v:string"

    def call(self, name, digest="", error="", schema=SCHEMA):
        return {"name": name, "error": error, "digest": digest,
                "schema": schema}

    def test_mismatch_error_and_unchecked_all_fail(self):
        calls = [self.call("a", "1:x"), self.call("b", "1:y"),
                 self.call("c", error="Boom"), self.call("d", "2:z")]
        want = lambda d: {"digest": d, "schema": self.SCHEMA}
        fails = accounting.check_calls(
            calls, {"a": want("1:x"), "b": want("1:z"), "c": want("1:q")})
        self.assertEqual([f[0] for f in fails], ["b", "c", "d"])
        self.assertEqual(accounting.fail_ratio(len(fails), len(calls)), 0.75)

    def test_columns_must_match_the_oracle(self):
        # the digest alone would pass: the oracle's columns decide, not the
        # columns the program happens to produce
        want = {"a": {"digest": "1:x", "schema": self.SCHEMA}}
        for schema in ("k:bigint", "k:int,v:string", "K:bigint,v:string",
                       "k:bigint,v:string,w:int"):
            fails = accounting.check_calls(
                [self.call("a", "1:x", schema=schema)], want)
            self.assertEqual(len(fails), 1, schema)
            self.assertIn("columns", fails[0][1])
        self.assertEqual(accounting.check_calls([self.call("a", "1:x")], want),
                         [])


class ContractTest(unittest.TestCase):
    def test_registered_metrics_are_emitted(self):
        spec = json.load(open(os.path.join(os.path.dirname(HERE), "..",
                                           "BENCHMARK.json")))
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)

    def test_data_is_independent_of_the_workload_seed(self):
        a = datagen.base_tables(sf=0.001)
        b = datagen.base_tables(sf=0.001)
        self.assertTrue(all(a[t].equals(b[t]) for t in datagen.TABLES))
        keys = a["customer"]["c_custkey"].to_pylist()
        self.assertEqual(keys, list(range(len(keys))))


if __name__ == "__main__":
    unittest.main()
