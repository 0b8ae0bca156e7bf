"""Tests of the benchmark itself.

    python3 perfbench/test_perfbench.py

The fake API and check tests take seconds. The repeat test builds the
program if needed and runs each workload twice for two seconds, which
takes a few minutes.
"""
import json
import os
import subprocess
import sys
import tempfile
import threading
import unittest
import urllib.request
from http.server import ThreadingHTTPServer

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import fakesheets  # noqa: E402
import fixtures as fx  # noqa: E402


class Server:
    def __init__(self, workload, seed, rows):
        self.dir = tempfile.TemporaryDirectory()
        self.http = ThreadingHTTPServer(("127.0.0.1", 0), fakesheets.Handler)
        self.http.daemon_threads = True
        self.http.app = fakesheets.FakeSheets(workload, seed, rows, self.dir.name)
        self.base = "http://127.0.0.1:%d" % self.http.server_address[1]
        self.thread = threading.Thread(target=self.http.serve_forever, daemon=True)
        self.thread.start()

    def get(self, path):
        with urllib.request.urlopen(self.base + path) as r:
            return r.read()

    def post(self, path, body=b"{}"):
        req = urllib.request.Request(self.base + path, data=body, method="POST")
        with urllib.request.urlopen(req) as r:
            return r.read()

    def close(self):
        self.http.shutdown()
        self.http.server_close()
        self.dir.cleanup()


def served(workload, seed, sheet):
    s = Server(workload, seed, 300)
    try:
        if workload == "sheet_tail":
            s.post("/_bench/tail_append?rows=100")
        prefix = "/v4/spreadsheets/" + fx.SPREADSHEET_ID
        return s.get(prefix), s.get(prefix + "/values/" + sheet)
    finally:
        s.close()


class FakeApiTest(unittest.TestCase):
    def test_bodies_repeat_for_a_seed_and_differ_across_seeds(self):
        for workload, sheet in (("sheet_read", "Data"), ("sheet_tail", "Source")):
            meta1, values1 = served(workload, 1, sheet)
            meta2, values2 = served(workload, 1, sheet)
            _, values3 = served(workload, 2, sheet)
            self.assertEqual(meta1, meta2)
            self.assertEqual(values1, values2)
            self.assertNotEqual(values1, values3)

    def test_engine_tables_repeat_for_a_seed(self):
        def tables(seed):
            with tempfile.TemporaryDirectory() as d:
                paths = fx.engine_tables(seed, 40, 30, d)
                out = {}
                for name in fx.ENGINE_TABLES:
                    with open(paths[name], "rb") as f:
                        out[name] = f.read()
                return out
        one, again, other = tables(1), tables(1), tables(2)
        self.assertEqual(one, again)
        for name in fx.ENGINE_TABLES:
            self.assertNotEqual(one[name], other[name])

    def test_read_grid_infers_as_intended(self):
        grid = fx.read_grid(3, 200)
        first = grid[1]
        self.assertEqual(len(first), len(fx.READ_SPEC.kinds))
        self.assertTrue(all(c != "" for c in first))
        self.assertTrue(any(len(r) < len(fx.READ_SPEC.kinds) for r in grid[2:]),
                        "some rows come back ragged")

    def test_counts_api_calls_and_skips_control_paths(self):
        s = Server("sheet_read", 1, 50)
        try:
            s.get("/v4/spreadsheets/%s" % fx.SPREADSHEET_ID)
            body = s.get("/v4/spreadsheets/%s/values/Data" % fx.SPREADSHEET_ID)
            stats = json.loads(s.get("/_bench/stats"))
            self.assertEqual(stats["requests"], 2)
            self.assertEqual(stats["get_values"], 1)
            self.assertEqual(stats["connections"], 2)  # urllib closes each
            self.assertEqual(stats["cells_served"], 51 * 20 - sum(
                20 - len(r) for r in json.loads(body)["values"]))
        finally:
            s.close()

    def test_oracle_check_catches_a_wrong_cell(self):
        s = Server("engine_mix", 1, 40)
        try:
            sql = ("SELECT vec_id, embedding[1]::DOUBLE AS x, "
                   "CASE WHEN label > 4 THEN label END AS big "
                   "FROM embeddings WHERE vec_id < 6")
            s.post("/_bench/oracle?sheet=q60_ann_pq", sql.encode())
            cols, want = s.http.app.oracle["q60_ann_pq"]
            self.assertTrue(any(r[2] is None for r in want), "a NULL is checked")
            path = "/v4/spreadsheets/%s/values/q60_ann_pq" % fx.SPREADSHEET_ID

            def write(rows):
                cells = [["" if v is None else str(v) for v in r] for r in rows]
                s.post(path + ":clear")
                s.post(path + ":append?valueInputOption=USER_ENTERED",
                       json.dumps({"values": [cols] + cells}).encode())
                return json.loads(s.get("/_bench/check?sheet=q60_ann_pq"))

            rows = [list(r) for r in reversed(want)]
            self.assertTrue(write(rows)["ok"], "row order does not matter")
            rows[2][1] += 1e-9
            self.assertFalse(write(rows)["ok"])
            self.assertFalse(write(rows[:-1])["ok"])
        finally:
            s.close()

    def test_summary_check_follows_appends(self):
        s = Server("sheet_tail", 1, 200)
        try:
            app = s.http.app
            cols = ["key"] + fx.TAIL_SPEC.agg_columns()
            s.post("/_bench/tail_append?rows=100")
            grid = app.sheets["Source"].rows
            want = fx.expected_aggregate(fx.TAIL_SPEC, grid[1:])
            app.sheets["Summary"].set_rows([cols] + [[str(v) for v in r] for r in want])
            self.assertTrue(json.loads(s.get("/_bench/check?sheet=Summary"))["ok"])
            s.post("/_bench/tail_append?rows=100")
            self.assertFalse(json.loads(s.get("/_bench/check?sheet=Summary"))["ok"])
        finally:
            s.close()


class RepeatTest(unittest.TestCase):
    def run_once(self, workload, seed):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "2", "--trace", "0"],
            cwd=os.path.dirname(BENCH), stdout=subprocess.PIPE, check=True, text=True)
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_api_counts_repeat_exactly(self):
        for workload in ("sheet_read", "sheet_tail", "engine_mix"):
            a, b = self.run_once(workload, 5), self.run_once(workload, 5)
            for r in (a, b):
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
            for m in ("api_calls_per_op", "api_mb_per_op"):
                self.assertEqual(a["metrics"][m]["value"], b["metrics"][m]["value"],
                                 "%s %s" % (workload, m))


if __name__ == "__main__":
    unittest.main()
