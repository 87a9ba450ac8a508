"""Server and client processes for the ``wire`` workload.

``server`` runs ``dataclod_spark.server.pgwire`` over one EngineSession with
the sf0.1 tables as views, plus two named spatial views (``wire_points``,
``wire_boxes``, g9's shapes with bbox covering columns).  Named relations
are deliberate: a subquery-form ``JOIN ... ON ST_Intersects`` is outside
``plans/spatial_dispatch.py``'s documented scope and falls back to a
Python-UDF cross product that did not finish in six minutes at sf0.1.

``client`` opens one connection per core and drives them closed-loop, each
waiting for its reply as psql and BI tools do.  A deck is the statement
pool in a seeded order; every connection runs whole decks and checks the
clock only between decks, so ``--seconds`` is the least time of the warmed
phase in whole decks (one deck per connection when a deck takes longer),
and every run has the same statement mix.  Each class is two of the deck's
twelve statements, because no recorded client traffic exists to weight
them by; each stands for a path no other class takes through the server:

* ``catalog``: pg_catalog and information_schema introspection, the
  catalog shims BI tools send on connect;
* ``point``: extended-protocol ``$1`` key lookups (Parse/Bind/Execute and
  parameter binding), one with text and one with binary results;
* ``agg``: small aggregates, a whole-table scan behind a one-page reply;
* ``rows``: 1024-row capped results, where row encoding and send dominate;
* ``spatial``: a dispatched ``JOIN ... ON ST_Intersects`` (the
  ``spatial_dispatch`` rewrite) and scalar ST_* functions;
* ``session``: the SET and BEGIN/COMMIT shims, answered without Spark.

``--verify`` checks each statement's reply once (against DuckDB where the
statement has an oracle, else against the expected catalog or tag) and
records the reply's digest; every later reply must reproduce it.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import os
import random
import signal
import socket
import statistics
import struct
import sys
import threading
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

CLASSES = ("catalog", "point", "agg", "rows", "spatial", "session")
# statements of each class in a deck: an equal share (see the docstring)
PER_CLASS = 2
INT4, INT8, FLOAT8, TEXT, VARCHAR = 23, 20, 701, 25, 1043

_BOXES = """
  SELECT event_id AS box_id,
         CAST(event_id % 97 AS DOUBLE) AS bx, CAST(user_id % 41 AS DOUBLE) AS by,
         CAST(3 + event_id % 5 AS DOUBLE) AS w, CAST(2 + user_id % 3 AS DOUBLE) AS h
  FROM events WHERE event_id % 50 = 0"""
_POINTS = """
  SELECT event_id AS point_id,
         CAST(event_id % 89 AS DOUBLE) AS px, CAST(user_id % 43 AS DOUBLE) AS py
  FROM events"""
_TABLES = sorted(["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"])


def _pool() -> list[dict]:
    """The verified statement pool: one deck."""
    p = []

    def add(key, cls, sql, oracle=None, expect=None, params=None, binary=False):
        p.append({"key": key, "cls": cls, "sql": sql, "oracle": oracle, "expect": expect,
                  "params": params, "binary": binary})

    add("catalog.tables", "catalog",
        "SELECT table_name FROM information_schema.tables "
        f"WHERE table_name IN ({', '.join(repr(t) for t in _TABLES)}) ORDER BY table_name",
        expect=[[t] for t in _TABLES])
    add("catalog.namespaces", "catalog",
        "SELECT oid, nspname FROM pg_catalog.pg_namespace ORDER BY oid",
        expect=[["11", "pg_catalog"], ["2200", "public"], ["13676", "information_schema"]])
    lookups = {
        "orders": ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
                   "FROM orders WHERE o_orderkey = $1", 74_219),
        "customer": ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                     "FROM customer WHERE c_custkey = $1", 12_001),
    }
    for (table, (sql, key)), binary in zip(lookups.items(), (False, True)):
        add(f"point.{table}.{'bin' if binary else 'text'}", "point", sql,
            oracle=sql.replace("$1", str(key)), params=[key], binary=binary)
    add("agg.lineitem_flags", "agg",
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")
    add("agg.event_types", "agg",
        "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users "
        "FROM events GROUP BY event_type ORDER BY event_type")
    add("rows.lineitem_1024", "rows",
        "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_returnflag FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 1600 ORDER BY l_orderkey, "
        "l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag LIMIT 1024")
    add("rows.customer_1024", "rows",
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
        "WHERE c_nationkey < 12 ORDER BY c_custkey LIMIT 1024")
    add("spatial.join", "spatial",
        "SELECT b.box_id AS box_id, count(*) AS n_points FROM wire_points p "
        "JOIN wire_boxes b ON ST_Intersects(p.geom, b.geom) "
        "GROUP BY b.box_id ORDER BY n_points DESC, b.box_id LIMIT 10",
        oracle=f"WITH boxes AS ({_BOXES}), points AS ({_POINTS}) "
        "SELECT box_id, count(*) AS n_points FROM boxes JOIN points "
        "ON px BETWEEN bx AND bx + w AND py BETWEEN by AND by + h "
        "GROUP BY box_id ORDER BY n_points DESC, box_id LIMIT 10")
    add("spatial.scalar", "spatial",
        "SELECT ST_Area(ST_GeomFromText('POLYGON((0 0, 4 0, 4 3, 0 3, 0 0))')) AS area, "
        "ST_X(ST_MakePoint(1.5, 2.5)) AS x, ST_AsText(ST_MakePoint(1.5, 2.5)) AS wkt",
        expect=[["12.0", "1.5", "POINT (1.5 2.5)"]])
    add("session.set", "session", "SET search_path TO public", expect=["SET"])
    add("session.txn", "session", "BEGIN; COMMIT", expect=["BEGIN", "COMMIT"])
    assert all(sum(s["cls"] == c for s in p) == PER_CLASS for c in CLASSES)
    for s in p:
        if s["oracle"] is None and s["expect"] is None:
            s["oracle"] = s["sql"]
    return p


# -- views -------------------------------------------------------------------
def register_views(engine) -> None:
    from pyspark.sql import functions as F

    from dataclod_spark.operators.spatial_join import envelope_wkb, point_wkb

    engine.load_tables(common.data_dir())
    spark = engine.spark
    boxes = spark.sql(_BOXES)
    boxes.select("*", envelope_wkb(F.col("bx"), F.col("by"), F.col("bx") + F.col("w"),
                                   F.col("by") + F.col("h")).alias("geom")
                 ).createOrReplaceTempView("wire_boxes")
    points = spark.sql(_POINTS)
    points.select("*", point_wkb(F.col("px"), F.col("py")).alias("geom")
                  ).createOrReplaceTempView("wire_points")
    engine.register_bbox("wire_points", "geom", "px", "py", "px", "py", exact=True)
    engine.register_bbox("wire_boxes", "geom", "bx", "by", "bx + w", "by + h", exact=True)


# -- client ------------------------------------------------------------------
class Client:
    """A PostgreSQL v3 frontend that times each reply."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=120)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = b""
        self.bytes_in = 0

    def close(self) -> None:
        try:
            self.send(b"X")
        finally:
            self.sock.close()

    def _recv(self, n: int) -> bytes:
        while len(self.buf) < n:
            chunk = self.sock.recv(1 << 16)
            if not chunk:
                raise ConnectionError("server closed the connection")
            self.bytes_in += len(chunk)
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def read(self) -> tuple[bytes, bytes]:
        tag = self._recv(1)
        (n,) = struct.unpack("!i", self._recv(4))
        return tag, self._recv(n - 4)

    def send(self, tag: bytes, body: bytes = b"") -> None:
        self.sock.sendall(tag + struct.pack("!i", len(body) + 4) + body)

    def login(self, user: str = "postgres", password: str = "dataclod") -> None:
        from dataclod_spark.server.pgwire import md5_password_hash

        body = struct.pack("!i", 196608) + f"user\x00{user}\x00database\x00postgres\x00\x00".encode()
        self.sock.sendall(struct.pack("!i", len(body) + 4) + body)
        tag, msg = self.read()
        if tag != b"R" or struct.unpack("!i", msg[:4])[0] != 5:
            raise ConnectionError(f"unexpected auth request {tag!r}")
        self.send(b"p", md5_password_hash(user, password, msg[4:8]).encode() + b"\x00")
        while True:
            tag, msg = self.read()
            if tag == b"E":
                raise ConnectionError(msg.decode("utf-8", "replace"))
            if tag == b"Z":
                return

    def run(self, stmt: dict) -> dict:
        """Send one statement; return its reply messages and timings."""
        b0 = self.bytes_in
        t0 = time.perf_counter()
        if stmt["params"] is None:
            self.send(b"Q", stmt["sql"].encode() + b"\x00")
        else:
            params = [str(v).encode() for v in stmt["params"]]
            self.send(b"P", b"\x00" + stmt["sql"].encode() + b"\x00" + struct.pack("!hi", 1, INT8))
            bind = b"\x00\x00" + struct.pack("!hh", 0, len(params))
            for v in params:
                bind += struct.pack("!i", len(v)) + v
            bind += struct.pack("!hh", 1, 1 if stmt["binary"] else 0)
            self.send(b"B", bind)
            self.send(b"D", b"P\x00")
            self.send(b"E", b"\x00" + struct.pack("!i", 0))
            self.send(b"S")
        msgs, first, first_row = [], None, None
        while True:
            tag, body = self.read()
            if tag in (b"T", b"D") and first is None:
                first = time.perf_counter()
            if tag == b"D" and first_row is None:
                first_row = time.perf_counter()
            if tag == b"Z":
                break
            if tag in (b"T", b"D", b"C", b"E", b"I", b"n"):
                msgs.append((tag, body))
        t1 = time.perf_counter()
        digest = hashlib.sha256(b"".join(t + struct.pack("!i", len(b)) + b for t, b in msgs))
        errors = [_sqlstate(b) for t, b in msgs if t == b"E"]
        return {"msgs": msgs, "digest": digest.hexdigest(), "latency_s": t1 - t0,
                "first_row_s": (first or t1) - t0, "drain_s": t1 - (first_row or t1),
                "bytes_in": self.bytes_in - b0, "errors": errors}


def _sqlstate(body: bytes) -> str:
    for field in body.split(b"\x00"):
        if field[:1] == b"C":
            return field[1:].decode()
    return "?????"


# -- reply decoding for verification ----------------------------------------
def _columns(msgs) -> list[int]:
    for tag, body in msgs:
        if tag == b"T":
            (n,) = struct.unpack("!h", body[:2])
            off, oids = 2, []
            for _ in range(n):
                off = body.index(b"\x00", off) + 1
                oids.append(struct.unpack("!i", body[off + 6: off + 10])[0])
                off += 18
            return oids
    return []


def _rows(msgs, binary: bool) -> list[list]:
    oids, out = _columns(msgs), []
    for tag, body in msgs:
        if tag != b"D":
            continue
        (n,) = struct.unpack("!h", body[:2])
        off, row = 2, []
        for i in range(n):
            (ln,) = struct.unpack("!i", body[off: off + 4])
            off += 4
            raw = None if ln < 0 else body[off: off + ln]
            off += max(ln, 0)
            row.append(_decode_binary(raw, oids[i]) if binary and raw is not None else
                       None if raw is None else raw.decode())
        out.append(row)
    return out


def _decode_binary(raw: bytes, oid: int):
    if oid == INT8:
        return str(struct.unpack("!q", raw)[0])
    if oid == INT4:
        return str(struct.unpack("!i", raw)[0])
    if oid == FLOAT8:
        return repr(struct.unpack("!d", raw)[0])
    if oid in (TEXT, VARCHAR):
        return raw.decode()
    raise ValueError(f"no binary decoder for oid {oid}")


def _pg_text(v) -> str | None:
    """PostgreSQL text output of a DuckDB value."""
    if v is None:
        return None
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, dt.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return s + (f".{v.microsecond:06d}".rstrip("0") if v.microsecond else "")
    return str(v)


def _check(stmt: dict, reply: dict, con) -> str:
    """"ok", or why the reply is wrong."""
    msgs = reply["msgs"]
    if reply["errors"]:
        return f"error {reply['errors']}"
    expect = stmt["expect"]
    if stmt["cls"] == "session":
        tags = [b.rstrip(b"\x00").decode() for t, b in msgs if t == b"C"]
        return "ok" if tags == expect else f"tags {tags} != {expect}"
    got = _rows(msgs, stmt["binary"])
    if expect is None:
        expect = [[_pg_text(v) for v in r] for r in con.execute(stmt["oracle"]).fetchall()]
        if not expect:
            return "oracle returned no rows"
    return "ok" if got == expect else f"rows {got[:3]} != {expect[:3]}"


# -- processes ---------------------------------------------------------------
def _ready(fresh, engine) -> None:
    """Views, a listening server and one accepted login; the server stops
    right after (the session set-up samples only measure getting there)."""
    from dataclod_spark.server.pgwire import PgWireServer

    register_views(engine)
    srv = PgWireServer(engine, port=0)
    srv.start()
    try:
        c = Client(srv.port)
        c.login()
        c.close()
    finally:
        srv.stop()


def serve(a) -> None:
    from dataclod_spark.server.pgwire import PgWireServer

    event_log = os.path.join(common.cache_dir(), "eventlog", a.run_id) if a.trace else None
    spark, engine = common.start_engine("perfbench_wire", event_log)
    register_views(engine)
    srv = PgWireServer(engine, port=0)
    srv.start()
    status = {"port": srv.port}
    common.write_json(a.status, status)
    tracer = None
    if a.trace:
        status["session_setup_samples"] = common.session_setup_samples(spark, _ready)
        tracer = _install_server_tracer(spark, a.run_id)
        signal.signal(signal.SIGUSR1, lambda *_: setattr(tracer, "enabled", True))
    status["serving"] = True
    common.write_json(a.status, status)
    done = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: done.set())
    while not done.wait(0.5):
        pass
    srv.stop()
    spark.stop()
    if tracer is not None:
        from perfbench.trace import event_log_metrics

        status["layer_sums"] = tracer.layer_sums(tracer.spans)
        groups = {s["id"] for s in tracer.spans if s["name"] == "pgwire.statement"}
        status["exec"] = event_log_metrics(event_log, groups)
    common.write_json(a.status, status)


def _install_server_tracer(spark, run_id: str):
    """Spans around each statement the server runs, with its job group."""
    from dataclod_spark.server import pgwire

    from perfbench.trace import Tracer

    tracer = Tracer(run_id)
    tracer.install()
    for name in ("handle_simple", "handle_execute"):
        orig = getattr(pgwire._Connection, name)

        def handler(conn, body, _orig=orig):
            with tracer.span("pgwire.statement") as rec:
                if tracer.enabled:
                    spark.sparkContext.setJobGroup(rec["id"], "pgwire", False)
                return _orig(conn, body)

        setattr(pgwire._Connection, name, handler)
    return tracer


def verify(out: str, only: list[str] | None) -> None:
    from dataclod_spark.server.pgwire import PgWireServer
    from dataclod_spark.testing import duckdb_connection

    spark, engine = common.start_engine("perfbench_wire_verify")
    register_views(engine)
    srv = PgWireServer(engine, port=0)
    srv.start()
    con = duckdb_connection(common.data_dir())
    c = Client(srv.port)
    c.login()
    oracle, content = {}, {}
    for stmt in _pool():
        if only and stmt["key"] not in only:
            continue
        reply = c.run(stmt)
        oracle[stmt["key"]] = _check(stmt, reply, con)
        content[stmt["key"]] = reply["digest"]
    c.close()
    srv.stop()
    spark.stop()
    common.write_json(out, {"data": common.data_digest(), "oracle": oracle, "content": content})


def drive(a) -> None:
    """The cold first pass runs the pool once, in pool order, on one
    connection.  The warmed phase then runs every connection concurrently,
    each through whole decks (the pool in its own seeded order) until
    ``--seconds`` are used: every connection does the same work, so the
    phase's mix and balance do not depend on the seed."""
    pool = {s["key"]: s for s in _pool()}
    conns = [Client(a.port) for _ in range(a.conns)]
    for c in conns:
        c.login()
    ops: list[dict] = []
    lock = threading.Lock()

    def run(c: Client, key: str, phase: str) -> None:
        op = {"phase": phase, "key": key, "cls": pool[key]["cls"]}
        try:
            r = c.run(pool[key])
            op.update({k: r[k] for k in ("latency_s", "first_row_s", "drain_s", "bytes_in",
                                         "errors", "digest")})
        except Exception as exc:  # judged as a failure by run.py
            op["error"] = f"{type(exc).__name__}: {exc}"[:500]
        with lock:
            ops.append(op)

    walls, cpu = {}, {}

    def phase(name: str) -> None:
        """The warmed phase; the server's CPU seconds are kept per deck."""
        t0 = time.perf_counter()
        cpu0 = common.tree_cpu_s(a.server_pid)

        def loop(i: int) -> None:
            rng = random.Random(f"{a.seed}-{name}-{i}")
            while True:
                deck = list(pool)
                rng.shuffle(deck)
                for key in deck:
                    run(conns[i], key, name)
                if time.perf_counter() - t0 >= a.seconds:
                    return

        threads = [threading.Thread(target=loop, args=(i,)) for i in range(len(conns))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        walls[name] = time.perf_counter() - t0
        decks = sum(o["phase"] == name for o in ops) / len(pool)
        cpu[name] = (common.tree_cpu_s(a.server_pid) - cpu0) / decks

    cpu0, t0 = common.tree_cpu_s(a.server_pid), time.perf_counter()
    for key in pool:
        run(conns[0], key, "first")
    first_pass_s = time.perf_counter() - t0
    first_pass_cpu_s = common.tree_cpu_s(a.server_pid) - cpu0
    if a.trace:
        phase("untraced")
        os.kill(a.server_pid, signal.SIGUSR1)
        phase("traced")
    else:
        phase("warm")
    for c in conns:
        c.close()
    common.write_json(a.out, {"first_pass_s": first_pass_s, "first_pass_cpu_s": first_pass_cpu_s,
                              "walls": walls, "deck_cpu_s": cpu, "ops": ops})


def summarize(ops: list[dict], phase: str, wall_s: float) -> dict:
    """End-to-end and pgwire per-layer numbers of one client phase."""
    mine = [o for o in ops if o["phase"] == phase and "latency_s" in o]
    out = common.latency_summary([o["latency_s"] for o in mine], wall_s)
    out["pgwire.first_row_s"] = statistics.median(o["first_row_s"] for o in mine)
    out["pgwire.drain_s"] = sum(o["drain_s"] for o in mine)
    out["pgwire.bytes_in"] = sum(o["bytes_in"] for o in mine)
    errors = [e for o in mine for e in o["errors"]]
    out["pgwire.errors"] = len(errors)
    out["errors_by_sqlstate"] = {e: errors.count(e) for e in sorted(set(errors))}
    for cls in CLASSES:
        xs = [o["latency_s"] for o in mine if o["cls"] == cls]
        out[f"pgwire.{cls}.latency_p50_s"] = statistics.median(xs) if xs else 0.0
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("server", "client"), nargs="?")
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--only", help="comma-separated statement keys to verify")
    ap.add_argument("--out")
    ap.add_argument("--status")
    ap.add_argument("--port", type=int)
    ap.add_argument("--server-pid", type=int)
    ap.add_argument("--conns", type=int, default=1)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-id", default="run")
    a = ap.parse_args()
    if a.verify:
        verify(a.out, a.only.split(",") if a.only else None)
    elif a.mode == "server":
        serve(a)
    else:
        drive(a)


if __name__ == "__main__":
    main()
