"""Tests of the benchmark's own parts: the feed and the output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import socket
import tempfile
import threading
import unittest

import duckdb

import check
import feed
import tables

HERE = os.path.dirname(os.path.abspath(__file__))


def served_bytes(seed, tmp):
    """Everything `feed.serve` sends for a short schedule."""
    sched = [("warmup", 20000, 300), ("steady", 20000, 200)]
    lines, _ = feed.live_lines(seed, sched)
    port_file = os.path.join(tempfile.mkdtemp(dir=tmp), "port")
    srv = feed.listen(port_file)
    t = threading.Thread(target=feed.serve, args=(
        srv, lines, feed.due_ns(sched), port_file + ".stats"))
    t.start()
    port = srv.getsockname()[1]
    got = b""
    with socket.create_connection(("127.0.0.1", port)) as s:
        while got.count(b"\n") < len(lines):
            got += s.recv(65536)
    t.join()
    return got


class FeedTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            a = served_bytes(7, tmp)
            b = served_bytes(7, tmp)
            c = served_bytes(8, tmp)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_mix_has_every_gate_and_type(self):
        lines, keys = feed.generate(3, 5000, 100, feed.EPOCH_MS)
        bad = [l for l, k in zip(lines, keys) if k is None]
        self.assertTrue(any(len(l.split(",")) != 22 for l in bad))
        self.assertTrue(any("288.6" in l for l in bad))
        self.assertTrue(any(l.split(",")[4] == "" for l in bad))
        self.assertEqual({k[0] for k in keys if k}, set(range(1, 9)))


class CheckTest(unittest.TestCase):
    """A corrupted expectation must surface as failed operations."""

    def setUp(self):
        self.keys = [(3, "A"), (3, "A"), None, (1, "B"), (4, "B"), (4, "C")]
        self.batches = [{"batch": 0, "start": 0, "end": 3},
                        {"batch": 1, "start": 3, "end": 6}]

    def test_batches_match(self):
        ok, failed, rows = check.check_batches(self.batches, self.keys, [1, 3], 0)
        self.assertEqual((len(ok), failed, rows), (2, 0, 4))

    def test_corrupted_expectation_fails(self):
        keys = list(self.keys)
        keys[1] = (5, "A")  # the truth now says two distinct keys
        ok, failed, _ = check.check_batches(self.batches, keys, [1, 3], 0)
        self.assertEqual((len(ok), failed), (1, 3))

    def test_duplicates_fail_every_batch(self):
        _, failed, _ = check.check_batches(self.batches, self.keys, [1, 3], 1)
        self.assertEqual(failed, 6)

    def test_wrong_view_output_drives_error_rate(self):
        with tempfile.TemporaryDirectory() as tmp:
            con = duckdb.connect()
            out = os.path.join(tmp, "out")
            os.makedirs(out)
            con.execute("COPY (SELECT 1 AS x UNION ALL SELECT 2) TO '%s/a.parquet'"
                        % out)
            self.assertTrue(check.same_rows(
                con, out, "SELECT 2 AS x UNION ALL SELECT 1"))
            self.assertFalse(check.same_rows(
                con, out, "SELECT 1 AS x UNION ALL SELECT 3"))
        e = {"q": "flights", "layout": "bucketed", "error": None, "cpu_ns": 1,
             "key": "views:flights:bucketed:0",
             "start_ns": 0, "end_ns": 10 ** 6}
        views = {"setup": {"rows": {"bucketed": 5}}, "first_measured_ns": 0,
                 "warmup_pass_ns": [],
                 "passes": [[e, dict(e, layout="partitioned")]]}
        checks = {("flights", "bucketed"): True,
                  ("flights", "partitioned"): False}
        _, attempted, failed, extra = check.view_metrics(views, {}, 0, checks, 5)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertGreater(extra["error_rate"], 0)

    def test_failed_view_execution_adds_no_timing(self):
        def e(layout, ms, p):
            return {"q": "flights", "layout": layout, "error": None,
                    "key": "views:flights:%s:%d" % (layout, p),
                    "cpu_ns": 0, "start_ns": 0, "end_ns": ms * 10 ** 6}
        views = {"setup": {"rows": {"bucketed": 5}}, "first_measured_ns": 0,
                 "warmup_pass_ns": [],
                 "passes": [[e("bucketed", 10, p), e("partitioned", 10 ** 4, p)]
                            for p in range(3)]}
        checks = {("flights", "bucketed"): True,
                  ("flights", "partitioned"): False}
        m, attempted, failed, _ = check.view_metrics(views, {}, 0, checks, 5)
        self.assertEqual((attempted, failed), (6, 3))
        self.assertEqual((m["latency_p50_ms"], m["latency_p90_ms"]), (10, 10))
        self.assertAlmostEqual(m["throughput_per_s"], 100.0)


class FamilyTablesTest(unittest.TestCase):
    sizes = {"documents": 50, "embeddings": 20, "events": 100}

    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as tmp:
            digests = []
            for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
                out = os.path.join(tmp, sub)
                tables.write(out, seed, self.sizes)
                digests.append([open(os.path.join(out, t + ".parquet"),
                                     "rb").read() for t in
                                ("documents", "embeddings", "events")])
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])

    def test_corrupted_oracle_fails(self):
        sql = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
        with tempfile.TemporaryDirectory() as tmp:
            tdir = os.path.join(tmp, "t")
            tables.write(tdir, 1, self.sizes)
            out = os.path.join(tmp, "out")
            os.makedirs(out)
            con = duckdb.connect()
            con.execute("CREATE VIEW documents AS SELECT * FROM '%s/documents"
                        ".parquet'" % tdir)
            con.execute("COPY (%s) TO '%s/part-0.parquet'" % (sql, out))
            run = {"q": "q_x", "out": out, "error": None, "oracle": sql}
            self.assertEqual(check.check_families(tdir, [run]), {"q_x": True})
            bad = dict(run, oracle=sql.replace("count(*)", "count(*) + 1"))
            self.assertEqual(check.check_families(tdir, [bad]), {"q_x": False})


if __name__ == "__main__":
    unittest.main()
