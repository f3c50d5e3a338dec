"""Client process for ``gateway_mixed``: four connections in a closed
loop against one engine process serving REST and MySQL.

- two MySQL readers and one REST reader run a seeded mix of point
  lookups on ``orders``, 90-day ``lineitem`` aggregates, an
  ``orders`` x ``customer`` join and a 1000-row ordered fetch; the REST
  reader also sends ``ops/bloom-probe`` over a bloom-indexed ``orders``
  copy;
- one REST writer sends ``ops/zorder-append`` batches into a z-layout
  ``lineitem`` copy, each followed by a read-back.

Work is cut into passes: each connection runs its share of a pass and
the next pass starts when all four are done. Passes repeat until
``--seconds`` have elapsed. Every result is checked against ground
truth computed with DuckDB over the same parquet tables, outside the
latency timers. With ``--trace 1`` the connections take turns (one
statement in flight at a time) so that each statement can be matched
to the SQL executions the engine ran during it.

Started by ``run.py``; writes its records as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import socket
import struct
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import canon_cell, write_json  # noqa: E402

#: Shifts the keys of appended rows past every existing order key, one
#: distinct range per append, so each read-back sees exactly its batch.
APPEND_KEY_SHIFT = 10_000_000
#: Order keys per append batch (about 100 rows). A chosen size, not a
#: measured one: small enough that an append plus its read-back takes
#: about as long as one reader's pass.
APPEND_KEYS = 25
#: Statement kinds of a reader: each reader runs one statement of every
#: kind per pass (the REST reader also one bloom probe). The mix is
#: unweighted and the same for every seed; the seed picks the keys, the
#: date windows and the order.
READ_KINDS = ("point", "agg90", "join", "fetch1k")


def _norm(v) -> str:
    """Wire values arrive as text (MySQL), JSON scalars (REST) or
    Python objects (DuckDB); compare them as canonical text."""
    if isinstance(v, str):
        for conv in (int, float):
            try:
                return canon_cell(conv(v))
            except ValueError:
                pass
    return canon_cell(v)


def _rows(rows, ordered: bool) -> list:
    out = [tuple(_norm(v) for v in r) for r in rows]
    return out if ordered else sorted(out)


# -- wire clients ---------------------------------------------------------


class MySqlClient:
    """Minimal MySQL text-protocol client: handshake and COM_QUERY."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        self.seq = 0
        self.bytes = 0
        self._read()  # HandshakeV10 greeting
        caps = 0x00000200 | 0x00008000  # PROTOCOL_41 | SECURE_CONNECTION
        self._send(struct.pack("<IIB", caps, 1 << 24, 33) + b"\x00" * 23 + b"root\x00\x00")
        ok = self._read()
        if ok[0] != 0x00:
            raise RuntimeError(f"mysql handshake refused: {ok!r}")

    def close(self) -> None:
        try:
            self.seq = 0
            self._send(b"\x01")  # COM_QUIT
        except OSError:
            pass
        self.sock.close()

    def _exact(self, n: int) -> bytes:
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("mysql server closed the connection")
            buf += chunk
        self.bytes += n
        return bytes(buf)

    def _read(self) -> bytes:
        payload = b""
        while True:
            head = self._exact(4)
            n = int.from_bytes(head[:3], "little")
            self.seq = head[3] + 1
            payload += self._exact(n)
            if n < 0xFFFFFF:
                return payload

    def _send(self, payload: bytes) -> None:
        self.sock.sendall(len(payload).to_bytes(3, "little") + bytes([self.seq & 0xFF]) + payload)
        self.seq += 1

    @staticmethod
    def _lenenc(buf: bytes, pos: int) -> tuple[int, int]:
        first = buf[pos]
        if first < 0xFB:
            return first, pos + 1
        width = {0xFC: 2, 0xFD: 3, 0xFE: 8}[first]
        return int.from_bytes(buf[pos + 1:pos + 1 + width], "little"), pos + 1 + width

    def query(self, sql: str) -> tuple[list, list]:
        self.seq = 0
        self._send(b"\x03" + sql.encode())
        first = self._read()
        if first[0] == 0xFF:
            raise RuntimeError(first[9:].decode("utf-8", "replace"))
        n_cols, _ = self._lenenc(first, 0)
        cols = []
        for _ in range(n_cols):
            pkt, p = self._read(), 0
            fields = []
            for _ in range(5):  # catalog, schema, table, org_table, name
                n, p = self._lenenc(pkt, p)
                fields.append(pkt[p:p + n])
                p += n
            cols.append(fields[4].decode())
        self._read()  # EOF after the column definitions
        rows = []
        while True:
            pkt = self._read()
            if pkt[0] == 0xFE and len(pkt) < 9:
                return cols, rows
            row, p = [], 0
            for _ in range(n_cols):
                if pkt[p] == 0xFB:
                    row.append(None)
                    p += 1
                else:
                    n, p = self._lenenc(pkt, p)
                    row.append(pkt[p:p + n].decode())
                    p += n
            rows.append(row)


class RestClient:
    def __init__(self, port: int):
        self.port = port
        self.bytes = 0

    def post(self, path: str, body: dict) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", path, json.dumps(body), {"Content-Type": "application/json"})
            resp = conn.getresponse()
            data = resp.read()
        finally:
            conn.close()
        self.bytes += len(data)
        out = json.loads(data)
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {str(out.get('error'))[:300]}")
        return out

    def query(self, sql: str) -> tuple[list, list]:
        out = self.post("/api/v1/sql", {"sql": sql, "limit": 1000})
        return out["columns"], out["rows"]


# -- seeded statements with ground truth ----------------------------------


class Workload:
    """Seeded statement pools and their DuckDB ground truth."""

    def __init__(self, data: str, seed: int, bloom_path: str, z_path: str):
        self.rng = random.Random(seed)
        self.bloom_path, self.z_path = bloom_path, z_path
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        for t in ("orders", "lineitem", "customer"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data, t + '.parquet')}')"
            )
        self.order_keys = [r[0] for r in self.con.execute("SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
        self.max_key = self.order_keys[-1]
        days = self.con.execute(
            "SELECT date_diff('day', min(l_shipdate), max(l_shipdate)) FROM lineitem"
        ).fetchone()[0]
        r = self.rng
        self.pools = {
            "point": [self._point(r.choice(self.order_keys)) for _ in range(40)],
            "agg90": [self._agg90(r.randrange(0, days - 90)) for _ in range(12)],
            "join": [self._join(r.randrange(0, days - 365)) for _ in range(12)],
            "fetch1k": [self._fetch(r.randrange(0, self.max_key - 300)) for _ in range(8)],
        }
        self.bloom_pool = [self._bloom([r.choice(self.order_keys) for _ in range(3)]
                                       + [self.max_key + 1 + r.randrange(1000)]) for _ in range(12)]
        self.n_appends = 0

    def _truth(self, sql: str, ordered: bool = False) -> list:
        return _rows(self.con.execute(sql).fetchall(), ordered)

    def _point(self, k: int) -> dict:
        sql = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
               f"FROM orders WHERE o_orderkey = {k}")
        return {"kind": "point", "sql": sql, "want": self._truth(sql), "ordered": False}

    def _ts(self, base: str, day: int) -> str:
        """Timestamp literal ``day`` days after the SQL expression ``base``."""
        start = self.con.execute(f"SELECT {base} + INTERVAL {day} DAY").fetchone()[0]
        return f"TIMESTAMP '{start:%Y-%m-%d %H:%M:%S}'"

    def _agg90(self, day: int) -> dict:
        ts = self._ts("(SELECT min(l_shipdate) FROM lineitem)", day)
        sql = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
               "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty, "
               "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS revenue "
               f"FROM lineitem WHERE l_shipdate >= {ts} AND l_shipdate < {ts} + INTERVAL 90 DAY "
               "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
        return {"kind": "agg90", "sql": sql, "want": self._truth(sql), "ordered": False}

    def _join(self, day: int) -> dict:
        ts = self._ts("(SELECT min(o_orderdate) FROM orders)", day)
        sql = ("SELECT c.c_mktsegment, COUNT(*) AS n, "
               "SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS total "
               "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
               f"WHERE o.o_orderdate >= {ts} AND o.o_orderdate < {ts} + INTERVAL 365 DAY "
               "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment")
        return {"kind": "join", "sql": sql, "want": self._truth(sql), "ordered": False}

    def _fetch(self, k: int) -> dict:
        sql = ("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem "
               f"WHERE l_orderkey >= {k} ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity LIMIT 1000")
        return {"kind": "fetch1k", "sql": sql, "want": self._truth(sql, ordered=True), "ordered": True}

    def _bloom(self, keys: list) -> dict:
        in_list = ", ".join(str(k) for k in keys)
        want = self._truth(f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey IN ({in_list})")
        return {"kind": "bloom_probe", "keys": keys, "want": want}

    def reads(self) -> list:
        """One reader's statements for a pass, in seeded order."""
        stmts = [self.rng.choice(self.pools[k]) for k in READ_KINDS]
        self.rng.shuffle(stmts)
        return stmts

    def append(self) -> dict:
        """Next append batch: a seeded range of existing orders, keys
        shifted into a range no other batch uses."""
        self.n_appends += 1
        a = self.rng.randrange(0, self.max_key - APPEND_KEYS)
        shift = self.n_appends * APPEND_KEY_SHIFT
        cols = ("l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
                "l_discount, l_tax, l_returnflag, l_linestatus")
        where = f"l_orderkey >= {a} AND l_orderkey < {a + APPEND_KEYS}"
        n, qty = self.con.execute(
            f"SELECT COUNT(*), SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem WHERE {where}"
        ).fetchone()
        return {
            "kind": "append",
            "delta_sql": f"SELECT l_orderkey + {shift} AS l_orderkey, {cols} FROM lineitem WHERE {where}",
            "rows": n,
            "readback_sql": (
                "SELECT COUNT(*) AS n, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty "
                f"FROM parquet.`{self.z_path}` "
                f"WHERE l_orderkey >= {a + shift} AND l_orderkey < {a + APPEND_KEYS + shift}"
            ),
            "want": _rows([(n, qty)], False),
        }


# -- connections ----------------------------------------------------------


class Recorder:
    """Every statement's latency, response size and check outcome.

    ``bookkeeping_s`` sums the time spent recording (timestamps, the
    record, the shared list) around the statements, which is neither
    the statement nor its result check."""

    def __init__(self):
        self.lock = threading.Lock()
        self.records: list[dict] = []
        self.failed: list[dict] = []
        self.attempted = 0
        self.bookkeeping_s = 0.0

    def op(self, conn: str, frontend: str, kind: str, client, call, check, pass_no: int) -> None:
        """Time ``call()`` alone, then check its result; ``client``
        counts the response bytes."""
        o0 = time.perf_counter()
        b0 = client.bytes
        w0, t0 = time.time(), time.perf_counter()
        err = None
        try:
            result = call()
        except Exception as exc:  # a refused or failed statement
            err, result = repr(exc)[:500], None
        t1, w1 = time.perf_counter(), time.time()
        rec = {"conn": conn, "frontend": frontend, "kind": kind, "pass": pass_no,
               "lat_s": t1 - t0, "start": w0, "end": w1,
               "bytes": client.bytes - b0}
        c0 = c1 = time.perf_counter()
        if err is None:
            try:
                rec.update(check(result))
            except Exception as exc:  # noqa: BLE001 — a mismatch is a failure
                err = repr(exc)[:500]
            c1 = time.perf_counter()
        rec["ok"] = err is None
        with self.lock:
            self.attempted += 1
            self.records.append(rec)
            if err is not None:
                self.failed.append({"conn": conn, "kind": kind, "error": err})
            self.bookkeeping_s += (time.perf_counter() - o0) - (t1 - t0) - (c1 - c0)


def _check_rows(stmt):
    def check(result):
        cols, rows = result
        got = _rows(rows, stmt["ordered"])
        if got != stmt["want"]:
            raise AssertionError(f"{stmt['kind']}: {len(got)} rows differ from ground truth")
        return {"rows": len(rows)}
    return check


class Connection:
    """One client connection and the statements it runs per pass."""

    def __init__(self, name, frontend, client, wl: Workload, rec: Recorder):
        self.name, self.frontend, self.client = name, frontend, client
        self.wl, self.rec = wl, rec

    def steps(self, pass_no: int, warm: bool = False) -> list:
        """The statements of one pass, as zero-argument callables."""
        wl = self.wl
        if self.name == "rest_writer":
            batch = wl.append()
            return [lambda: self._append(batch, pass_no)]
        if warm:  # each statement kind once per frontend
            stmts = [wl.pools[k][0] for k in READ_KINDS] if self.name.endswith(("_1", "_reader")) else []
        else:
            stmts = wl.reads()
        out = [lambda s=s: self._read(s, pass_no) for s in stmts]
        if self.name == "rest_reader":
            b = wl.rng.choice(wl.bloom_pool)
            out.append(lambda: self._bloom(b, pass_no))
        return out

    def _read(self, stmt, pass_no):
        self.rec.op(self.name, self.frontend, stmt["kind"], self.client,
                    lambda: self.client.query(stmt["sql"]), _check_rows(stmt), pass_no)

    def _bloom(self, b, pass_no):
        def call():
            return self.client.post("/api/v1/ops/bloom-probe",
                                  {"path": self.wl.bloom_path, "keys": b["keys"], "limit": 100})

        def check(out):
            i, j = out["columns"].index("o_orderkey"), out["columns"].index("o_totalprice")
            got = _rows([(r[i], r[j]) for r in out["rows"]], False)
            if got != b["want"]:
                raise AssertionError("bloom_probe rows differ from ground truth")
            return {"rows": len(got), "files_total": out["filesTotal"],
                    "files_skipped": out["filesSkipped"]}

        self.rec.op(self.name, "rest", "bloom_probe", self.client, call, check, pass_no)

    def _append(self, a, pass_no):
        def call():
            return self.client.post("/api/v1/ops/zorder-append",
                                  {"path": self.wl.z_path, "deltaSql": a["delta_sql"]})

        def check(st):
            if st.get("rows_appended") != a["rows"]:
                raise AssertionError(f"append wrote {st.get('rows_appended')} rows, expected {a['rows']}")
            return {"rows": a["rows"], "buckets_dirty": st["buckets_dirty"],
                    "buckets_total": st["buckets_total"]}

        self.rec.op(self.name, "rest", "append", self.client, call, check, pass_no)
        back = {"kind": "readback", "sql": a["readback_sql"], "want": a["want"], "ordered": False}
        self.rec.op(self.name, "rest", "readback", self.client,
                    lambda: self.client.query(back["sql"]), _check_rows(back), pass_no)


def run_pass(conns, pass_no: int, sequential: bool, warm: bool = False) -> float:
    steps = {c.name: c.steps(pass_no, warm) for c in conns}
    t0 = time.perf_counter()
    if sequential:
        # one statement in flight at a time, connections taking turns
        queues = [list(s) for s in steps.values()]
        while any(queues):
            for q in queues:
                if q:
                    q.pop(0)()
    else:
        threads = [threading.Thread(target=lambda s=s: [f() for f in s]) for s in steps.values()]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    return time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rest-port", type=int, required=True)
    ap.add_argument("--mysql-port", type=int, required=True)
    ap.add_argument("--bloom-path", required=True)
    ap.add_argument("--z-path", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    wl = Workload(a.data, a.seed, a.bloom_path, a.z_path)
    rec = Recorder()
    mysql = [MySqlClient(a.mysql_port) for _ in range(2)]
    conns = [
        Connection("mysql_reader_1", "mysql", mysql[0], wl, rec),
        Connection("mysql_reader_2", "mysql", mysql[1], wl, rec),
        Connection("rest_reader", "rest", RestClient(a.rest_port), wl, rec),
        Connection("rest_writer", "rest", RestClient(a.rest_port), wl, rec),
    ]
    try:
        # untimed warm-up: every statement kind once on each frontend
        warm_s = run_pass(conns, -1, sequential=False, warm=True)
        n_warm, book_warm = len(rec.records), rec.bookkeeping_s
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < a.seconds:
            passes.append(run_pass(conns, len(passes), sequential=bool(a.trace)))
        timed_s = time.perf_counter() - t0
    finally:
        for m in mysql:
            m.close()
    write_json(a.out, {
        "records": rec.records[n_warm:],
        "warm_s": warm_s,
        "passes_s": passes,
        "timed_s": timed_s,
        "bookkeeping_s": rec.bookkeeping_s - book_warm,
        "attempted": rec.attempted,
        "failed": rec.failed,
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
