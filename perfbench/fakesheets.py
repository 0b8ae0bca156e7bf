"""A fake Google Sheets v4 API on loopback, run in its own process.

It serves spreadsheet metadata, values.get, values:append, values:clear
and batchUpdate for one spreadsheet built from a seeded fixture, and
keeps what it receives so the benchmark can check the program's writes.
Response bodies are encoded once, when the fixture changes, so serving
costs a socket write rather than JSON encoding.

It counts API requests, body bytes in and out, new connections, cells
served and service time. Paths under /_bench/ are the benchmark's
control channel and are never counted.

For the engine workload it also writes the seeded parquet tables the
queries read, and computes each query's expected answer with DuckDB
from the oracle SQL the harness sends, so written results can be
checked here like the sheet workloads' ones.

    python3 perfbench/fakesheets.py --workload sheet_read --seed 1 \
        --rows 10000 --workdir .bench_build/perfbench/work

prints `PORT <n>` on stdout once it listens on 127.0.0.1:<n>.
"""
import argparse
import json
import sys
import threading
import time
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import fixtures as fx


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":")).encode()


class Stats:
    FIELDS = ("requests", "req_bytes", "resp_bytes", "connections",
              "server_ns", "cells_served", "get_meta", "get_values",
              "append", "clear", "batch_update", "errors")

    def __init__(self):
        self.lock = threading.Lock()
        self.counts = dict.fromkeys(self.FIELDS, 0)
        self.log = []          # (verb, start_ns, end_ns, req_b, resp_b)
        self.keep_log = False

    def count(self, verb, req_b, resp_b, cells, new_conn):
        """Counts a request before its response is sent, so a client that
        reads the stats right after a response always sees it counted."""
        with self.lock:
            c = self.counts
            c["requests"] += 1
            c["req_bytes"] += req_b
            c["resp_bytes"] += resp_b
            c["cells_served"] += cells
            c["connections"] += new_conn
            c[verb] += 1

    def served(self, verb, start_ns, end_ns, req_b, resp_b):
        """Adds the service time once the response is written."""
        with self.lock:
            self.counts["server_ns"] += end_ns - start_ns
            if self.keep_log:
                self.log.append((verb, start_ns, end_ns, req_b, resp_b))

    def snapshot(self, take_log):
        with self.lock:
            out = dict(self.counts)
            if take_log:
                out["log"], self.log = self.log, []
            return out


class Sheet:
    """One tab. Rows are kept decoded; their JSON encoding is made once per
    row, the first time the tab is read, so a whole-tab read is a join and
    appends never re-encode older rows."""

    def __init__(self, name, sheet_id, rows=()):
        self.name, self.sheet_id = name, sheet_id
        self.set_rows(rows)

    def set_rows(self, rows):
        self.rows, self._enc = [], []
        self.cells = self.width = 0
        self.append(rows)

    def append(self, rows):
        self.rows.extend(rows)
        self.cells += sum(len(r) for r in rows)
        self.width = max([self.width] + [len(r) for r in rows])
        self._body = None

    def a1(self):
        return "%s!A1:%s%d" % (self.name, fx.column_letter(self.width),
                               max(len(self.rows), 1))

    def body(self):
        if self._body is None:
            self._enc.extend(_dumps(r) for r in self.rows[len(self._enc):])
            head = b'{"range":' + _dumps(self.a1()) + b',"majorDimension":"ROWS"'
            if self.rows:
                head += b',"values":[' + b",".join(self._enc) + b"]"
            self._body = head + b"}"
        return self._body

class FakeSheets:
    def __init__(self, workload, seed, rows, workdir):
        self.workload, self.seed, self.n_rows = workload, seed, rows
        self.workdir = workdir
        self.lock = threading.Lock()
        self.stats = Stats()
        self.sheets = {name: Sheet(name, sid)
                       for name, sid in fx.SHEETS[workload].items()}
        self.meta_body = _dumps({
            "spreadsheetId": fx.SPREADSHEET_ID,
            "properties": {"title": "perfbench", "locale": "en_US",
                           "timeZone": "Etc/UTC"},
            "sheets": [{"properties": {"sheetId": s.sheet_id, "title": s.name,
                                       "index": s.sheet_id,
                                       "sheetType": "GRID"}}
                       for s in self.sheets.values()]})
        self.expected = None
        self.oracle = {}   # engine sheet -> (columns, rows) from DuckDB
        if workload == "engine_mix":
            self.tables = fx.engine_tables(seed, rows, rows, workdir + "/engine")
        elif workload == "sheet_read":
            grid = fx.read_grid(seed, rows)
            self.sheets["Data"].set_rows(grid)
            self.expected = fx.expected_aggregate(fx.READ_SPEC, grid[1:])
        self.reset()

    def reset(self):
        """Back to the initial sheet contents (each repeated set-up)."""
        with self.lock:
            if self.workload == "engine_mix":
                for sheet in self.sheets.values():
                    sheet.set_rows([])
            elif self.workload == "sheet_tail":
                base = fx.tail_base(self.seed, self.n_rows)
                self.sheets["Source"].set_rows(base)
                self.sheets["Summary"].set_rows([])
                self.tail_acc = fx.TAIL_SPEC.fold({}, base[1:])
                self.tail_rng = fx.tail_rng(self.seed)

    def tail_append(self, n):
        with self.lock:
            rows = fx.TAIL_SPEC.rows(self.tail_rng, n)
            fx.TAIL_SPEC.fold(self.tail_acc, rows)
            self.sheets["Source"].append(rows)

    # ---- checks --------------------------------------------------------

    def check(self, sheet):
        with self.lock:
            got = self.sheets[sheet].rows
            if sheet == "Summary":
                return self._check_summary(got)
            if sheet in self.oracle:
                return self._check_result(got, *self.oracle[sheet])
        raise KeyError(sheet)

    def run_oracle(self, sheet, sql):
        """Runs a query's oracle SQL in DuckDB over the engine tables and
        keeps its answer for the checks of that query's sheet."""
        import duckdb
        start = time.monotonic()
        con = duckdb.connect()
        try:
            con.execute("SET threads=1")
            for name, path in self.tables.items():
                con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                            % (name, path))
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        finally:
            con.close()
        with self.lock:
            self.oracle[sheet] = (cols, rows)
        print("[fakesheets] oracle %s: %d rows in %.2f s"
              % (sheet, len(rows), time.monotonic() - start), file=sys.stderr)
        return {"rows": len(rows)}

    def _check_result(self, got, cols, want):
        """Received cells, read back as the types DuckDB returned (Java's
        Double.toString parses to the same double), must equal the oracle
        rows as a multiset: the connector does not order rows."""
        if not got or got[0] != cols:
            return {"ok": False, "detail": "missing or wrong header row"}
        kinds = [next((type(r[j]) for r in want if r[j] is not None), str)
                 for j in range(len(cols))]
        kinds = [(lambda c: c == "true") if k is bool else k for k in kinds]

        def typed(row):
            cells = row + [""] * (len(cols) - len(row))
            return tuple(None if c == "" else kind(c)
                         for c, kind in zip(cells, kinds))

        def key(row):
            return [(v is None, v if v is not None else 0) for v in row]

        try:
            have = sorted((typed(r) for r in got[1:]), key=key)
        except ValueError:
            return {"ok": False, "detail": "a received cell does not parse"}
        ok = have == sorted((tuple(r) for r in want), key=key)
        return {"ok": ok, "rows": len(got) - 1,
                "detail": "" if ok else "result differs from the DuckDB oracle"}

    def _check_summary(self, got):
        cols = ["key"] + fx.TAIL_SPEC.agg_columns()
        if not got or got[0] != cols:
            return {"ok": False, "detail": "missing or wrong header row"}
        want = {k: [k] + [str(v) for v in vals]
                for k, vals in self.tail_acc.items()}
        have = {r[0]: r for r in got[1:] if r}
        ok = have == want and len(got) - 1 == len(want)
        return {"ok": ok, "rows": len(got) - 1,
                "detail": "" if ok else "summary differs from the expected aggregate"}


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server_version = "fakesheets"
    timeout = 60  # idle keep-alive connections are closed after this

    def setup(self):
        super().setup()
        self.counted = False

    def log_message(self, fmt, *args):
        pass

    def _send(self, status, body):
        head = ("HTTP/1.1 %d %s\r\nContent-Type: application/json\r\n"
                "Content-Length: %d\r\n\r\n" % (
                    status, self.responses.get(status, ("",))[0], len(body)))
        self.wfile.write(head.encode() + body)

    def _body(self):
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n) if n else b""

    def do_GET(self):
        self._dispatch("GET")

    def do_POST(self):
        self._dispatch("POST")

    def _dispatch(self, method):
        start = time.monotonic_ns()
        app = self.server.app
        url = urllib.parse.urlsplit(self.path)
        body = self._body()
        if url.path.startswith("/_bench/"):
            status, out = self._control(app, method, url, body)
            self._send(status, out)
            return
        try:
            verb, status, out, cells = self._api(app, method, url.path, body)
        except Exception as e:  # malformed request: the program's fault
            verb, status, cells = "errors", 400, 0
            out = _dumps({"error": {"code": 400, "message": repr(e)}})
        app.stats.count(verb, len(body), len(out), cells, 0 if self.counted else 1)
        self.counted = True
        self._send(status, out)
        app.stats.served(verb, start, time.monotonic_ns(), len(body), len(out))

    def _api(self, app, method, path, body):
        prefix = "/v4/spreadsheets/" + fx.SPREADSHEET_ID
        if not path.startswith(prefix):
            return "errors", 404, _dumps({"error": {"code": 404}}), 0
        rest = urllib.parse.unquote(path[len(prefix):])
        if method == "GET" and rest == "":
            return "get_meta", 200, app.meta_body, 0
        if method == "POST" and rest == ":batchUpdate":
            title = json.loads(body)["requests"][0]["addSheet"]["properties"]["title"]
            with app.lock:
                sheet = app.sheets.setdefault(title, Sheet(title, len(app.sheets)))
            reply = {"spreadsheetId": fx.SPREADSHEET_ID, "replies": [
                {"addSheet": {"properties": {"sheetId": sheet.sheet_id,
                                             "title": title, "index": sheet.sheet_id,
                                             "sheetType": "GRID"}}}]}
            return "batch_update", 200, _dumps(reply), 0
        if not rest.startswith("/values/"):
            return "errors", 404, _dumps({"error": {"code": 404}}), 0
        rng = rest[len("/values/"):]
        action = ""
        if rng.endswith(":append") or rng.endswith(":clear"):
            rng, action = rng.rsplit(":", 1)
        sheet = app.sheets.get(rng.split("!", 1)[0])
        if sheet is None:
            return "errors", 400, _dumps({"error": {"code": 400,
                                                    "message": "Unable to parse range: " + rng}}), 0
        if method == "GET" and action == "":
            with app.lock:
                out, cells = sheet.body(), sheet.cells
            return "get_values", 200, out, cells
        if method == "POST" and action == "clear":
            with app.lock:
                cleared = sheet.a1()
                sheet.set_rows([])
            return "clear", 200, _dumps({"spreadsheetId": fx.SPREADSHEET_ID,
                                         "clearedRange": cleared}), 0
        if method == "POST" and action == "append":
            rows = json.loads(body)["values"]
            with app.lock:
                first = len(sheet.rows) + 1
                width = max((len(r) for r in rows), default=0)
                sheet.append(rows)
                table = sheet.a1()
            updated = "%s!A%d:%s%d" % (sheet.name, first,
                                       fx.column_letter(width), first + len(rows) - 1)
            return "append", 200, _dumps({
                "spreadsheetId": fx.SPREADSHEET_ID, "tableRange": table,
                "updates": {"spreadsheetId": fx.SPREADSHEET_ID,
                            "updatedRange": updated, "updatedRows": len(rows),
                            "updatedColumns": width,
                            "updatedCells": sum(len(r) for r in rows)}}), 0
        return "errors", 405, _dumps({"error": {"code": 405}}), 0

    def _control(self, app, method, url, body):
        q = dict(urllib.parse.parse_qsl(url.query))
        what = url.path[len("/_bench/"):]
        if what == "stats":
            if "keep_log" in q:
                app.stats.keep_log = q["keep_log"] == "1"
            return 200, _dumps(app.stats.snapshot(q.get("take_log") == "1"))
        if what == "expected":
            return 200, _dumps(app.expected)
        if what == "tail_append" and method == "POST":
            app.tail_append(int(q["rows"]))
            return 200, b"{}"
        if what == "reset" and method == "POST":
            app.reset()
            return 200, b"{}"
        if what == "check":
            return 200, _dumps(app.check(q["sheet"]))
        if what == "oracle" and method == "POST":
            return 200, _dumps(app.run_oracle(q["sheet"], body.decode()))
        return 404, b"{}"


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(fx.SHEETS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rows", type=int, required=True)
    p.add_argument("--workdir", required=True)
    a = p.parse_args(argv)
    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    server.app = FakeSheets(a.workload, a.seed, a.rows, a.workdir)
    print("PORT %d" % server.server_address[1], flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()


if __name__ == "__main__":
    sys.exit(main())
