"""pgwire endpoint tests — a raw-socket PostgreSQL v3 client drives the
server exactly as psql would (reference parity: server/src/postgres/
handler.rs simple+extended protocol, auth.rs MD5 exchange)."""

from __future__ import annotations

import socket
import struct

import pytest

from dataclod_spark.server.pgwire import PgWireServer, md5_password_hash


class MiniPgClient:
    """Just enough of the frontend protocol for the tests."""

    def __init__(self, port: int):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        self._buf = b""

    def close(self):
        self.sock.close()

    # -- framing --
    def _recv(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("server closed")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def read_message(self) -> tuple[bytes, bytes]:
        tag = self._recv(1)
        (ln,) = struct.unpack("!i", self._recv(4))
        return tag, self._recv(ln - 4)

    def send(self, tag: bytes, payload: bytes = b"") -> None:
        self.sock.sendall(tag + struct.pack("!i", len(payload) + 4) + payload)

    # -- startup & auth --
    def login(self, user: str = "postgres", password: str = "dataclod") -> list:
        params = f"user\x00{user}\x00database\x00postgres\x00\x00".encode()
        payload = struct.pack("!i", 196608) + params
        self.sock.sendall(struct.pack("!i", len(payload) + 4) + payload)
        tag, body = self.read_message()
        assert tag == b"R"
        code = struct.unpack("!i", body[:4])[0]
        assert code == 5, "expected MD5Password request"
        salt = body[4:8]
        pwd = md5_password_hash(user, password, salt)
        self.send(b"p", pwd.encode() + b"\x00")
        msgs = []
        while True:
            tag, body = self.read_message()
            msgs.append((tag, body))
            if tag == b"Z":
                return msgs
            if tag == b"E":
                return msgs

    # -- simple protocol --
    def query(self, sql: str):
        """Returns (columns, rows, tag) via the simple protocol."""
        self.send(b"Q", sql.encode() + b"\x00")
        cols, rows, tag = [], [], None
        while True:
            t, body = self.read_message()
            if t == b"T":
                (n,) = struct.unpack("!h", body[:2])
                off = 2
                for _ in range(n):
                    end = body.index(b"\x00", off)
                    name = body[off:end].decode()
                    off = end + 1 + 18
                    cols.append(name)
            elif t == b"D":
                (n,) = struct.unpack("!h", body[:2])
                off = 2
                row = []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if ln == -1:
                        row.append(None)
                    else:
                        row.append(body[off : off + ln])
                        off += ln
                rows.append(row)
            elif t == b"C":
                tag = body.rstrip(b"\x00").decode()
            elif t == b"E":
                err = body.decode("utf-8", "replace")
                while self.read_message()[0] != b"Z":  # drain to ReadyForQuery
                    pass
                raise RuntimeError(err)
            elif t == b"Z":
                return cols, rows, tag

    # -- extended protocol --
    def extended(
        self,
        sql: str,
        params: list[bytes | None],
        oids: list[int],
        result_formats: list[int] | None = None,
        param_formats: list[int] | None = None,
    ):
        parse = b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", len(oids))
        for o in oids:
            parse += struct.pack("!i", o)
        self.send(b"P", parse)
        pf = param_formats or []
        bind = b"\x00\x00" + struct.pack("!h", len(pf))
        for f in pf:
            bind += struct.pack("!h", f)
        bind += struct.pack("!h", len(params))
        for p in params:
            bind += struct.pack("!i", -1) if p is None else struct.pack("!i", len(p)) + p
        rf = result_formats or []
        bind += struct.pack("!h", len(rf))
        for f in rf:
            bind += struct.pack("!h", f)
        self.send(b"B", bind)
        self.send(b"E", b"\x00" + struct.pack("!i", 0))
        self.send(b"S")
        rows, tag, err = [], None, None
        while True:
            t, body = self.read_message()
            if t == b"D":
                (n,) = struct.unpack("!h", body[:2])
                off = 2
                row = []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", body[off : off + 4])
                    off += 4
                    if ln == -1:
                        row.append(None)
                    else:
                        row.append(body[off : off + ln])
                        off += ln
                rows.append(row)
            elif t == b"C":
                tag = body.rstrip(b"\x00").decode()
            elif t == b"E" and err is None:
                # keep draining to ReadyForQuery so the connection stays
                # usable (real clients do the same), then raise
                err = body.decode("utf-8", "replace")
            elif t == b"Z":
                if err is not None:
                    raise RuntimeError(err)
                return rows, tag


@pytest.fixture(scope="module")
def server(engine):
    srv = PgWireServer(engine, port=0)  # ephemeral port
    srv.start()
    yield srv
    srv.stop()


@pytest.fixture()
def client(server):
    c = MiniPgClient(server.port)
    msgs = c.login()
    assert msgs[-1][0] == b"Z", f"login failed: {msgs}"
    yield c
    c.close()


def test_auth_rejects_bad_password(server):
    c = MiniPgClient(server.port)
    msgs = c.login(password="wrong")
    assert msgs[-1][0] == b"E"
    assert b"28P01" in msgs[-1][1]
    c.close()


def test_auth_rejects_non_postgres_user(server):
    c = MiniPgClient(server.port)
    msgs = c.login(user="alice")
    assert msgs[-1][0] == b"E"
    c.close()


def test_server_parameters_sent(server):
    c = MiniPgClient(server.port)
    msgs = c.login()
    params = {
        m[1].split(b"\x00")[0].decode(): m[1].split(b"\x00")[1].decode()
        for m in msgs
        if m[0] == b"S"
    }
    assert params["server_version"] == "10.0"
    assert params["server_encoding"] == "UTF8"
    assert params["DateStyle"] == "ISO YMD"
    c.close()


def test_backend_key_secrets_are_random(server):
    """BackendKeyData carries a per-connection secret a CancelRequest must
    echo; a constant (or zero) secret would let any client cancel any query."""
    secrets = []
    for _ in range(2):
        c = MiniPgClient(server.port)
        keys = [body for tag, body in c.login() if tag == b"K"]
        c.close()
        assert len(keys) == 1
        _pid, secret = struct.unpack("!ii", keys[0])
        secrets.append(secret)
    assert 0 not in secrets
    assert secrets[0] != secrets[1]


def test_simple_select(client):
    cols, rows, tag = client.query("SELECT 1 + 1 AS two, 'hi' AS s, true AS b")
    assert cols == ["two", "s", "b"]
    assert rows == [[b"2", b"hi", b"t"]]
    assert tag == "SELECT 1"


def test_simple_null_and_float(client):
    _, rows, _ = client.query(
        "SELECT CAST(NULL AS INT) AS a, CAST(2.5 AS DOUBLE) AS f"
    )
    assert rows == [[None, b"2.5"]]


def test_txn_tags(client):
    assert client.query("BEGIN")[2] == "BEGIN"
    assert client.query("COMMIT")[2] == "COMMIT"
    assert client.query("ROLLBACK")[2] == "ROLLBACK"
    assert client.query("abort")[2] == "ROLLBACK"


def test_set_swallowed(client):
    assert client.query("SET search_path = public")[2] == "SET"


def test_spatial_function_through_wire(client):
    _, rows, _ = client.query(
        "SELECT ST_AsText(ST_GeomFromText('POINT(1 2)')) AS wkt"
    )
    assert rows == [[b"POINT (1 2)"]]


def test_row_limit_1024(client):
    _, rows, tag = client.query(
        "SELECT id FROM range(5000)"
    )
    assert len(rows) == 1024  # handler.rs DEFAULT_ROW_LIMIT
    assert tag == "SELECT 1024"


def test_error_then_recovers(client):
    with pytest.raises(RuntimeError):
        client.query("SELECT definitely_not_a_column FROM nonexistent_xyz")
    cols, rows, _ = client.query("SELECT 7 AS ok")
    assert rows == [[b"7"]]


def test_extended_protocol_positional_params(client):
    rows, tag = client.extended(
        "SELECT $1 + $2 AS total", [b"40", b"2"], [23, 23]
    )
    assert rows == [[b"42"]]
    assert tag == "SELECT 1"


def test_extended_text_param(client):
    rows, _ = client.extended("SELECT upper($1) AS u", [b"abc"], [25])
    assert rows == [[b"ABC"]]


def test_pg_catalog_over_wire(client):
    _, rows, _ = client.query(
        "SELECT typname FROM pg_catalog.pg_type WHERE typname = 'int4'"
    )
    assert rows == [[b"int4"]]


def test_information_schema_over_wire(client, engine):
    engine.spark.range(3).createOrReplaceTempView("info_probe_tbl")
    _, rows, _ = client.query(
        "SELECT table_name, table_type FROM information_schema.tables "
        "WHERE table_name = 'info_probe_tbl'"
    )
    assert rows == [[b"info_probe_tbl", b"VIEW"]]
    _, cols_rows, _ = client.query(
        "SELECT column_name, data_type, is_nullable FROM information_schema.columns "
        "WHERE table_name = 'info_probe_tbl'"
    )
    assert cols_rows == [[b"id", b"bigint", b"NO"]]


def test_binary_result_format_primitives(client):
    """Binary-cursor smoke test (types.rs:191-386 binary arm): one format
    code 1 applies to every column; values arrive network-order packed."""
    rows, tag = client.extended(
        "SELECT CAST(7 AS INT) AS i, CAST(8 AS BIGINT) AS l, "
        "CAST(2.5 AS DOUBLE) AS d, true AS b, 'hi' AS s, "
        "CAST(NULL AS INT) AS nul",
        [],
        [],
        result_formats=[1],
    )
    assert tag == "SELECT 1"
    (row,) = rows
    assert struct.unpack("!i", row[0])[0] == 7
    assert struct.unpack("!q", row[1])[0] == 8
    assert struct.unpack("!d", row[2])[0] == 2.5
    assert row[3] == b"\x01"
    assert row[4] == b"hi"
    assert row[5] is None


def test_binary_result_format_temporal_numeric(client):
    """DATE (days since 2000-01-01), TIMESTAMP (micros since 2000-01-01),
    NUMERIC (base-10000 digit groups)."""
    rows, _ = client.extended(
        "SELECT DATE'2000-01-03' AS d, TIMESTAMP'2000-01-01 00:00:01' AS t, "
        "CAST(123.45 AS DECIMAL(10,2)) AS n",
        [],
        [],
        result_formats=[1],
    )
    (row,) = rows
    assert struct.unpack("!i", row[0])[0] == 2
    assert struct.unpack("!q", row[1])[0] == 1_000_000
    ndigits, weight, sign, dscale = struct.unpack("!hhHh", row[2][:8])
    digits = struct.unpack(f"!{ndigits}h", row[2][8:])
    assert (ndigits, weight, sign, dscale) == (2, 0, 0, 2)
    assert digits == (123, 4500)


def test_binary_mixed_per_column_formats(client):
    """Positional format codes: column 0 text, column 1 binary."""
    rows, _ = client.extended(
        "SELECT CAST(5 AS INT) AS a, CAST(6 AS INT) AS b",
        [],
        [],
        result_formats=[0, 1],
    )
    (row,) = rows
    assert row[0] == b"5"
    assert struct.unpack("!i", row[1])[0] == 6


def _unpack_pg_array(buf: bytes):
    """Decode PG binary array format → (elem_oid, [payload|None, ...])."""
    ndim, hasnull, elem_oid = struct.unpack("!iii", buf[:12])
    if ndim == 0:
        return elem_oid, []
    assert ndim == 1
    nelems, lbound = struct.unpack("!ii", buf[12:20])
    assert lbound == 1
    off, out = 20, []
    for _ in range(nelems):
        (ln,) = struct.unpack("!i", buf[off : off + 4])
        off += 4
        if ln == -1:
            out.append(None)
        else:
            out.append(buf[off : off + ln])
            off += ln
    assert off == len(buf)
    return elem_oid, out


def test_binary_array_results(client):
    """1-D arrays of the primitive matrix in binary format (types.rs
    List arm): real array OIDs, int32 header + per-element length/payload,
    NULL elements as -1, empty array as ndim=0."""
    rows, tag = client.extended(
        "SELECT array(1, 2, NULL) AS ia, "
        "array(CAST(1.5 AS DOUBLE), CAST(-2.5 AS DOUBLE)) AS da, "
        "array('x', 'y;z') AS sa, "
        "array(CAST(7 AS INT)) AS i4a, "
        "CAST(array() AS ARRAY<BIGINT>) AS empty",
        [],
        [],
        result_formats=[1],
    )
    assert tag == "SELECT 1"
    (row,) = rows
    oid, elems = _unpack_pg_array(row[0])
    assert oid == 23  # Spark int literals → array<int> → int4[]
    assert [e if e is None else struct.unpack("!i", e)[0] for e in elems] == [1, 2, None]
    oid, elems = _unpack_pg_array(row[1])
    assert oid == 701
    assert [struct.unpack("!d", e)[0] for e in elems] == [1.5, -2.5]
    oid, elems = _unpack_pg_array(row[2])
    assert oid == 25 and elems == [b"x", b"y;z"]
    oid, elems = _unpack_pg_array(row[3])
    assert oid == 23 and struct.unpack("!i", elems[0])[0] == 7
    oid, elems = _unpack_pg_array(row[4])
    assert oid == 20 and elems == []


def test_binary_interval_result(client):
    """INTERVAL binary format: int64 micros-of-day, int32 days, int32
    months; text format renders PG 'postgres' style."""
    sql = "SELECT INTERVAL '1 day 2 hours' AS iv, INTERVAL '-3 hours' AS neg"
    rows, _ = client.extended(sql, [], [], result_formats=[1])
    (row,) = rows
    assert struct.unpack("!qii", row[0]) == (2 * 3_600_000_000, 1, 0)
    assert struct.unpack("!qii", row[1]) == (-3 * 3_600_000_000, 0, 0)
    rows, _ = client.extended(sql, [], [], result_formats=[0])
    (row,) = rows
    assert row[0] == b"1 day 02:00:00"
    assert row[1] == b"-03:00:00"


def test_interval_negative_day_pluralization(client):
    """PG pluralizes on the signed value: '-1 days', '1 day'."""
    rows, _ = client.extended(
        "SELECT INTERVAL '-1 day' AS a, INTERVAL '1 day' AS b, "
        "INTERVAL '-2 days' AS c", [], [], result_formats=[0])
    (row,) = rows
    assert row[0] == b"-1 days" and row[1] == b"1 day" and row[2] == b"-2 days"
    rows, _ = client.extended(
        "SELECT INTERVAL '-1 day' AS a", [], [], result_formats=[1])
    assert struct.unpack("!qii", rows[0][0]) == (0, -1, 0)


def test_array_text_format_unchanged(client):
    """Array columns still render the PG text form in text format even
    though they now carry real array OIDs in RowDescription."""
    cols, rows, tag = client.query("SELECT array(1, 2, NULL) AS ia")
    assert rows[0][0] == b"{1,2,NULL}"


def test_spatial_join_dispatch_over_wire(client, engine):
    """A PostGIS-style JOIN ON ST_Intersects through the wire protocol:
    the server's EngineSession.sql dispatches it to the grid equi-join
    (the reference's whole point: SQL is the only user surface)."""
    from pyspark.sql import types as T

    from dataclod_spark.geo import core as GC
    from dataclod_spark.geo.algos import make_envelope, make_point

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("geom", T.BinaryType())]
    )
    pts = [(i, GC.wkb_write(make_point(float(i % 10), float(i % 7)))) for i in range(60)]
    boxes = [
        (j, GC.wkb_write(make_envelope(float(j), float(j), float(j + 3), float(j + 3))))
        for j in range(5)
    ]
    engine.spark.createDataFrame(pts, schema).withColumnRenamed(
        "id", "pid"
    ).createOrReplaceTempView("wire_pts")
    engine.spark.createDataFrame(boxes, schema).withColumnRenamed(
        "id", "bid"
    ).createOrReplaceTempView("wire_boxes")
    _, rows, _ = client.query(
        "SELECT count(*) AS n FROM wire_pts p "
        "JOIN wire_boxes b ON ST_Intersects(p.geom, b.geom)"
    )
    # brute-force expectation computed in plain Python
    want = 0
    for i in range(60):
        px, py = float(i % 10), float(i % 7)
        for j in range(5):
            if j <= px <= j + 3 and j <= py <= j + 3:
                want += 1
    assert rows == [[str(want).encode()]]


def _raw_exchange(client, sql: str):
    """Send one simple Query and collect (tags, datarows, errors) until Z."""
    client.send(b"Q", sql.encode() + b"\x00")
    tags, rows, errs = [], [], []
    while True:
        t, body = client.read_message()
        if t == b"C":
            tags.append(body.rstrip(b"\x00").decode())
        elif t == b"D":
            rows.append(body)
        elif t == b"E":
            errs.append(body.decode("utf-8", "replace"))
        elif t == b"Z":
            return tags, rows, errs


def test_simple_multi_statement(client):
    """PG simple protocol: each ';'-separated statement executes in order
    with its own CommandComplete; one ReadyForQuery at the end."""
    tags, rows, errs = _raw_exchange(client, "SELECT 1 AS a; SELECT 2 AS b")
    assert tags == ["SELECT 1", "SELECT 1"] and len(rows) == 2 and not errs


def test_simple_multi_statement_txn_mix(client):
    tags, rows, errs = _raw_exchange(client, "BEGIN; SELECT 1 AS x; COMMIT")
    assert tags == ["BEGIN", "SELECT 1", "COMMIT"] and len(rows) == 1 and not errs


def test_semicolon_inside_literal_not_split(client):
    cols, rows, tag = client.query("SELECT 'a;b' AS s")
    assert rows[0][0] == b"a;b" and tag == "SELECT 1"


def test_semicolon_inside_block_comment_not_split(client):
    """A valid single statement containing /* ; */ must not be split
    mid-comment (and nested block comments per the PG lexer)."""
    cols, rows, tag = client.query("SELECT /* ; one */ 1 AS x /* outer /* ; inner */ ; */")
    assert rows[0][0] == b"1" and tag == "SELECT 1"


def test_split_statements_unit():
    """Scanner unit cases: nesting block comments, digit-bearing dollar
    tags ($q1$ is legal in PG), unterminated comment swallows the rest."""
    from dataclod_spark.server.pgwire import _Connection

    split = _Connection._split_statements
    assert split("SELECT /* a; b */ 1; SELECT 2") == ["SELECT /* a; b */ 1", "SELECT 2"]
    assert split("SELECT /* x /* y; */ z; */ 1") == ["SELECT /* x /* y; */ z; */ 1"]
    assert split("SELECT $q1$a;b$q1$; SELECT 2") == ["SELECT $q1$a;b$q1$", "SELECT 2"]
    assert split("SELECT $$a;b$$") == ["SELECT $$a;b$$"]
    assert split("SELECT 1 /* never closed ;") == ["SELECT 1 /* never closed ;"]
    assert split("SELECT 1 -- c; d\n; SELECT 2") == ["SELECT 1 -- c; d", "SELECT 2"]


def test_extended_allows_block_comment_semicolon(client):
    """The extended-protocol single-command check shares the scanner: a
    semicolon inside a block comment is NOT a second command."""
    rows, tag = client.extended("SELECT 1 /* ; */ AS x", [], [])
    assert rows[0][0] == b"1" and tag == "SELECT 1"


def test_multi_statement_error_aborts_rest(client):
    tags, rows, errs = _raw_exchange(
        client, "SELECT 1 AS x; SELECT definitely_not_a_fn_xyz(1); SELECT 2 AS y"
    )
    assert tags == ["SELECT 1"]      # first completed
    assert len(errs) == 1            # second errored
    assert len(rows) == 1            # third never ran


def test_extended_rejects_multi_statement(client):
    """Prepared statements are single-command by protocol rule."""
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="multiple commands"):
        client.extended("SELECT 1; SELECT 2", [], [])


def test_concurrent_clients(server):
    """Thread-per-connection: two clients issue interleaved queries over
    one shared EngineSession without cross-talk."""
    import threading

    results = {}

    def worker(tag, n):
        c = MiniPgClient(server.port)
        try:
            c.login()
            for _ in range(3):
                _, rows, _ = c.query(f"SELECT {n} AS v")
                assert rows[0][0] == str(n).encode()
            results[tag] = True
        finally:
            c.close()

    t1 = threading.Thread(target=worker, args=("a", 41))
    t2 = threading.Thread(target=worker, args=("b", 42))
    t1.start(); t2.start(); t1.join(30); t2.join(30)
    assert results == {"a": True, "b": True}


def test_binary_format_parameters(client):
    """Bind parameters in binary format: int8, float8, numeric, date, and
    a 1-D int4 array — the decode side of the types.rs parameter matrix."""
    import datetime as dt

    # int8 + float8 binary
    rows, _ = client.extended(
        "SELECT $1 + $2 AS s",
        [struct.pack("!q", 40), struct.pack("!d", 2.5)],
        [20, 701],
        param_formats=[1, 1],
    )
    assert rows[0][0] == b"42.5"

    # numeric binary: 123.45 → ndigits=2, weight=0, dscale=2, digits (123, 4500)
    num = struct.pack("!hhHh", 2, 0, 0, 2) + struct.pack("!hh", 123, 4500)
    rows, _ = client.extended(
        "SELECT $1 AS n", [num], [1700], param_formats=[1]
    )
    assert rows[0][0] == b"123.45"

    # date binary: days since 2000-01-01
    days = (dt.date(2024, 3, 1) - dt.date(2000, 1, 1)).days
    rows, _ = client.extended(
        "SELECT $1 AS d", [struct.pack("!i", days)], [1082], param_formats=[1]
    )
    assert rows[0][0] == b"2024-03-01"


def test_binary_array_parameter_roundtrip(client):
    """A 1-D int4[] binary parameter decodes to a list and round-trips
    through the engine back out as a PG text array."""
    arr = struct.pack("!iiiii", 1, 0, 23, 3, 1)
    for v in (7, 8, 9):
        arr += struct.pack("!i", 4) + struct.pack("!i", v)
    rows, _ = client.extended(
        "SELECT $1 AS a", [arr], [1007], param_formats=[1]
    )
    assert rows[0][0] == b"{7,8,9}"


def test_empty_binary_array_parameter_keeps_element_type(client):
    """An EMPTY int4[] binary parameter (ndim=0) must keep its declared
    element type: a bare [] would bind as array<void>/array<string>."""
    empty = struct.pack("!iii", 0, 0, 23)  # ndim=0, hasnull=0, elem oid int4
    rows, _ = client.extended(
        "SELECT $1 AS a, typeof($1) AS t", [empty, empty], [1007, 1007],
        param_formats=[1, 1],
    )
    assert rows[0][0] == b"{}"
    assert rows[0][1] == b"array<int>"
    # and it composes with array functions that need a concrete type
    rows, _ = client.extended(
        "SELECT size(array_union($1, array(1, 2))) AS n",
        [empty], [1007], param_formats=[1],
    )
    assert rows[0][0] == b"2"


def test_bind_failure_enters_skip_until_sync(client):
    """After a Bind failure the server must discard Describe/Execute until
    Sync AND drop the portal being bound — a pipelining client must never
    receive rows from a stale portal bound with the previous parameters
    (PG extended-protocol error recovery)."""
    # 1. successfully bind + execute the unnamed portal with $1 = 111
    rows, _ = client.extended("SELECT $1::int AS x", [b"111"], [23])
    assert rows == [[b"111"]]
    # 2. pipeline: re-Parse, then a Bind whose binary int4 is malformed
    #    (2 bytes), then Describe + Execute of the unnamed portal, then Sync
    parse = b"\x00" + b"SELECT $1::int AS x" + b"\x00" + struct.pack("!hi", 1, 23)
    client.send(b"P", parse)
    bad = struct.pack("!h", 7)  # 2 bytes where int4 needs 4
    bind = b"\x00\x00" + struct.pack("!hh", 1, 1)  # 1 param-format: binary
    bind += struct.pack("!h", 1) + struct.pack("!i", len(bad)) + bad
    bind += struct.pack("!h", 0)
    client.send(b"B", bind)
    client.send(b"D", b"P\x00")
    client.send(b"E", b"\x00" + struct.pack("!i", 0))
    client.send(b"S")
    seen = []
    while True:
        t, body = client.read_message()
        seen.append(t)
        if t == b"Z":
            break
    assert b"E" in seen, seen  # the 22P03 Bind error
    # no RowDescription/DataRow/CommandComplete may follow the error:
    # Describe and Execute were discarded, not run against a stale portal
    after_err = seen[seen.index(b"E") + 1 :]
    assert after_err == [b"Z"], seen
    # 3. connection recovers after Sync
    rows, _ = client.extended("SELECT 5 AS ok", [], [])
    assert rows == [[b"5"]]


def test_empty_binary_array_ndim1_zero_elems_keeps_type(client):
    """Some clients encode an empty array as ndim=1 with one zero-length
    dimension; that spelling must get the same typed-empty treatment."""
    empty = struct.pack("!iiiii", 1, 0, 23, 0, 1)  # ndim=1, 0 elems, lbound 1
    rows, _ = client.extended(
        "SELECT typeof($1) AS t", [empty], [1007], param_formats=[1]
    )
    assert rows[0][0] == b"array<int>"


def test_malformed_parse_body_recovers(client):
    """A Parse body missing its NUL terminators must produce an
    ErrorResponse + skip-until-Sync, not kill the connection."""
    client.send(b"P", b"no_nul_terminators_here")
    client.send(b"S")
    seen = []
    while True:
        t, _ = client.read_message()
        seen.append(t)
        if t == b"Z":
            break
    assert b"E" in seen, seen
    rows, _ = client.extended("SELECT 4 AS ok", [], [])
    assert rows == [[b"4"]]


def test_empty_time_array_parameter_errors_cleanly(client):
    """Spark has no TIME type: an empty time[] binary parameter must be a
    clean 22P03 protocol error, not a silent array<void> bind."""
    import pytest as _pytest

    empty = struct.pack("!iii", 0, 0, 1083)  # ndim=0, elem oid = time
    with _pytest.raises(RuntimeError, match="unsupported element oid 1083"):
        client.extended("SELECT $1 AS a", [empty], [1183], param_formats=[1])
    # connection recovered via the drained Sync
    rows, _ = client.extended("SELECT 6 AS ok", [], [])
    assert rows == [[b"6"]]


def test_unknown_tag_discarded_during_error_state(client):
    """Messages outside the known tag set are also discarded while in the
    error state — answering them with error+ready would desync a
    pipelining client."""
    client.send(b"P", b"\x00SELECT $1::int AS x\x00" + struct.pack("!hi", 1, 23))
    bad = struct.pack("!h", 7)
    bind = b"\x00\x00" + struct.pack("!hh", 1, 1)
    bind += struct.pack("!h", 1) + struct.pack("!i", len(bad)) + bad
    bind += struct.pack("!h", 0)
    client.send(b"B", bind)
    client.send(b"F", b"\x00\x00\x00\x00")  # FunctionCall — unsupported
    client.send(b"S")
    seen = []
    while True:
        t, _ = client.read_message()
        seen.append(t)
        if t == b"Z":
            break
    # exactly one error (the Bind failure), one ready; the F message is
    # silently discarded rather than answered
    assert seen.count(b"E") == 1 and seen.count(b"Z") == 1, seen
    rows, _ = client.extended("SELECT 8 AS ok", [], [])
    assert rows == [[b"8"]]


def test_bind_unknown_statement_drops_portal(client):
    """Bind naming an unknown statement must also drop the portal being
    bound: after Sync, Execute of that portal is 'unknown portal', not a
    replay of the previous Bind's parameters."""
    # bind + execute portal "sp" against a real statement
    client.send(b"P", b"keep\x00SELECT 42 AS x\x00" + struct.pack("!h", 0))
    client.send(
        b"B",
        b"sp\x00keep\x00" + struct.pack("!hhh", 0, 0, 0),
    )
    client.send(b"E", b"sp\x00" + struct.pack("!i", 0))
    client.send(b"S")
    seen = []
    while True:
        t, body = client.read_message()
        seen.append(t)
        if t == b"Z":
            break
    assert b"D" in seen  # the 42 row arrived
    # re-Bind "sp" to a statement that does not exist → 26000, portal dropped
    client.send(
        b"B", b"sp\x00no_such_stmt\x00" + struct.pack("!hhh", 0, 0, 0)
    )
    client.send(b"S")
    while client.read_message()[0] != b"Z":
        pass
    client.send(b"E", b"sp\x00" + struct.pack("!i", 0))
    client.send(b"S")
    msgs = []
    while True:
        t, body = client.read_message()
        msgs.append((t, body))
        if t == b"Z":
            break
    errs = [b for t, b in msgs if t == b"E"]
    assert errs and b"does not exist" in errs[0] and b"34000" in errs[0], msgs
    assert not any(t == b"D" for t, _ in msgs)  # no stale 42 replay


def test_simple_query_discarded_during_error_state(client):
    """PG discards ALL messages until Sync after an extended-protocol
    error — including simple Query.  Running it would emit ReadyForQuery
    while the connection still swallows extended messages."""
    # enter the error state: bind a malformed binary int4
    client.send(b"P", b"\x00SELECT $1::int AS x\x00" + struct.pack("!hi", 1, 23))
    bad = struct.pack("!h", 7)
    bind = b"\x00\x00" + struct.pack("!hh", 1, 1)
    bind += struct.pack("!h", 1) + struct.pack("!i", len(bad)) + bad
    bind += struct.pack("!h", 0)
    client.send(b"B", bind)
    # pipeline a simple Query BEFORE Sync: must be discarded, not run
    client.send(b"Q", b"SELECT 9 AS q\x00")
    client.send(b"S")
    seen = []
    while True:
        t, _ = client.read_message()
        seen.append(t)
        if t == b"Z":
            break
    assert seen.count(b"Z") == 1  # no extra ReadyForQuery from the Query
    assert not any(t in (b"T", b"D") for t in seen), seen  # no rows ran
    # and the connection is healthy afterwards
    _, rows, _ = client.query("SELECT 3 AS ok")
    assert rows == [[b"3"]]


def test_slt_corpus_through_wire_matches_direct(client, engine):
    """Replay the reference's whole spatial SLT corpus through the wire:
    for every record, the pgwire text results must byte-match the same
    SQL run directly on the EngineSession and encoded with the server's
    own text codec — end-to-end proof the server path loses nothing
    (golden-value fidelity itself is covered by test_spatial_slt)."""
    from test_spatial_slt import load_records

    from dataclod_spark.server.pgwire import _text_encode

    mismatches = []
    checked = 0
    for lineno, types, rowsort, sql, expected in load_records():
        try:
            direct = engine.sql(sql).collect()
        except Exception:
            continue  # records the engine can't run are covered elsewhere
        try:
            _, wire_rows, _ = client.query(sql)
        except RuntimeError as e:
            mismatches.append((lineno, f"wire error: {str(e)[:120]}"))
            continue
        # NULL cells are None: Python can't order None vs bytes, so sort
        # with a None-first key instead of raw tuples (a crash here would
        # mask a real mismatch as the corpus grows)
        none_first = lambda t: tuple((v is not None, v) for v in t)  # noqa: E731
        want = sorted(
            (tuple(_text_encode(v) for v in row) for row in direct),
            key=none_first,
        )
        got = sorted((tuple(row) for row in wire_rows), key=none_first)
        if want != got:
            mismatches.append((lineno, f"want {want[:2]} got {got[:2]}"))
        checked += 1
    assert checked >= 80, f"only {checked} records replayed"
    assert not mismatches, mismatches[:5]


def test_describe_does_not_execute_dml(client, engine):
    """psycopg3 sends Describe before every Execute; Describe of an
    INSERT portal must answer NoData WITHOUT running the statement, or
    every INSERT executes twice."""
    import uuid

    tbl = f"dml_desc_{uuid.uuid4().hex[:8]}"
    engine.sql(f"CREATE TABLE {tbl} (id BIGINT) USING parquet")
    try:
        # Parse + Bind + Describe(portal) + Execute + Sync — one cycle
        client.send(
            b"P",
            b"\x00" + f"INSERT INTO {tbl} VALUES (1)".encode() + b"\x00"
            + struct.pack("!h", 0),
        )
        client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
        client.send(b"D", b"P\x00")
        client.send(b"E", b"\x00" + struct.pack("!i", 0))
        client.send(b"S")
        seen = []
        while True:
            t, _ = client.read_message()
            seen.append(t)
            if t == b"Z":
                break
        assert b"n" in seen, seen  # NoData from Describe
        assert b"E" not in seen, seen
        n = engine.sql(f"SELECT count(*) AS n FROM {tbl}").collect()[0][0]
        assert n == 1, f"INSERT ran {n} times (Describe must not execute DML)"
    finally:
        engine.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_describe_invalid_kind_rejected(client):
    """A Describe whose subtype byte is neither S nor P is a protocol
    error — not an accidental describe-and-run of the unnamed portal."""
    client.send(b"D", b"X\x00")
    client.send(b"S")
    seen = []
    while True:
        t, _ = client.read_message()
        seen.append(t)
        if t == b"Z":
            break
    assert b"E" in seen and b"T" not in seen and b"D" not in seen, seen
    rows, _ = client.extended("SELECT 11 AS ok", [], [])
    assert rows == [[b"11"]]


def test_unknown_tag_outside_error_state_fatals(server):
    """PG treats an invalid frontend message type as a protocol violation:
    FATAL + close.  (Skip-until-Sync would deadlock simple-protocol
    clients; error+ready would desync extended ones.)"""
    c = MiniPgClient(server.port)
    c.login()
    c.send(b"@", b"\x00\x00\x00\x00")  # not a PG frontend message type
    t, body = c.read_message()
    assert t == b"E" and b"SFATAL" in body, (t, body)
    # server closes the connection after the FATAL
    import pytest as _pytest

    with _pytest.raises(ConnectionError):
        c.read_message()
    c.close()


def test_simple_query_backslash_literal_not_split(client):
    """Spark tokenization: \\' inside a literal does not end it, so a
    semicolon after it stays inside the string and must not split the
    statement (shared scanner with rewrites)."""
    cols, rows, _ = client.query(r"SELECT 'a\'; b' AS s")
    assert rows == [[b"a'; b"]]


def test_returns_rows_heads():
    from dataclod_spark.server.pgwire import _returns_rows

    assert _returns_rows("SELECT 1")
    assert _returns_rows("  -- lead comment\n /* block /* nested */ */ SELECT 1")
    assert _returns_rows("(SELECT 1) UNION (SELECT 2)")
    assert _returns_rows("WITH t AS (SELECT 1 AS x) SELECT * FROM t")
    assert _returns_rows("EXPLAIN SELECT 1")
    assert not _returns_rows("INSERT INTO t VALUES (1)")
    assert not _returns_rows("/* c */ CREATE TABLE t (x INT) USING parquet")
    assert not _returns_rows("COPY (SELECT 1) TO '/tmp/x'")
    assert not _returns_rows("WITH t AS (SELECT 1) INSERT INTO u SELECT * FROM t")
    # keywords inside literals/comments/CTE bodies never misclassify
    assert _returns_rows(
        "WITH c AS (SELECT * FROM events WHERE op = 'delete') SELECT count(*) FROM c"
    )
    assert _returns_rows("WITH delete AS (SELECT 1) SELECT * FROM delete")
    assert _returns_rows("SELECT 1 -- insert later\n")
    assert _returns_rows("(SELECT 1) UNION (SELECT 2)")
    assert not _returns_rows(
        "WITH a AS (SELECT 1) MERGE INTO t USING a ON 1=1 WHEN MATCHED THEN DELETE"
    )


def test_extended_copy_to_no_datarow_after_nodata(client, tmp_path):
    """Extended-protocol COPY: Describe answers NoData, so Execute must
    not stream the count frame as a DataRow (protocol violation); the
    count surfaces in the CommandComplete tag instead."""
    dest = tmp_path / "copy_out"
    sql = f"COPY (SELECT 1 AS x) TO '{dest}' (FORMAT parquet)"
    client.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
    client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    client.send(b"D", b"P\x00")
    client.send(b"E", b"\x00" + struct.pack("!i", 0))
    client.send(b"S")
    seen = []
    tag = None
    while True:
        t, body = client.read_message()
        seen.append(t)
        if t == b"C":
            tag = body.rstrip(b"\x00").decode()
        if t == b"Z":
            break
    assert b"n" in seen and b"D" not in seen and b"T" not in seen, seen
    assert b"E" not in seen, seen
    assert tag == "COPY 1", tag


def test_parse_failure_drops_statement(client):
    """A failed re-Parse of an existing statement name must drop the old
    statement — otherwise Bind+Execute after Sync silently runs stale SQL."""
    client.send(b"P", b"st\x00SELECT 21 AS x\x00" + struct.pack("!h", 0))
    client.send(b"S")
    while client.read_message()[0] != b"Z":
        pass
    # re-Parse the same name with a multi-statement (42601 error)
    client.send(b"P", b"st\x00SELECT 1; SELECT 2\x00" + struct.pack("!h", 0))
    client.send(b"S")
    while client.read_message()[0] != b"Z":
        pass
    # Bind the old name: must be 'unknown statement', not stale 21
    client.send(b"B", b"\x00st\x00" + struct.pack("!hhh", 0, 0, 0))
    client.send(b"E", b"\x00" + struct.pack("!i", 0))
    client.send(b"S")
    msgs = []
    while True:
        t, body = client.read_message()
        msgs.append((t, body))
        if t == b"Z":
            break
    errs = [b for t, b in msgs if t == b"E"]
    assert errs and b"unknown statement" in errs[0], msgs
    assert not any(t == b"D" for t, _ in msgs), msgs


def test_fastpath_function_call_recoverable(client):
    """FunctionCall ('F') gets a recoverable error + ReadyForQuery — a
    libpq PQfn session must survive, unlike a truly invalid tag."""
    client.send(b"F", b"\x00\x00\x00\x00")
    t, body = client.read_message()
    assert t == b"E" and b"fast-path" in body, (t, body)
    t, _ = client.read_message()
    assert t == b"Z"
    _, rows, _ = client.query("SELECT 12 AS ok")
    assert rows == [[b"12"]]


def test_copy_subprotocol_data_discarded(client):
    """CopyData/CopyDone outside a COPY operation are silently discarded
    (PG behavior) — the connection keeps working."""
    client.send(b"d", b"bytes")
    client.send(b"c", b"")
    _, rows, _ = client.query("SELECT 13 AS ok")
    assert rows == [[b"13"]]


def test_returns_rows_quoted_cte_names():
    from dataclod_spark.server.pgwire import _returns_rows

    assert not _returns_rows("WITH `t` AS (SELECT 1) INSERT INTO u SELECT * FROM t")
    assert _returns_rows("WITH `t` AS (SELECT 1) SELECT * FROM `t`")


def test_returns_rows_new_heads():
    """Round-5 classifier fixes: Hive multi-insert FROM, SET conf reads,
    EXECUTE IMMEDIATE."""
    from dataclod_spark.server.pgwire import _returns_rows

    assert not _returns_rows("FROM src INSERT INTO t SELECT *")
    assert _returns_rows("FROM (SELECT * FROM t) SELECT count(*)")
    assert _returns_rows("FROM t SELECT *")
    # bare SET / SET key read conf rows; assignments are the no-row shim
    assert _returns_rows("SET spark.sql.shuffle.partitions")
    assert _returns_rows("SET -v")
    assert not _returns_rows("SET spark.sql.shuffle.partitions = 8")
    assert not _returns_rows("SET x TO 5")
    # planning EXECUTE IMMEDIATE would execute whatever it wraps
    assert not _returns_rows("EXECUTE IMMEDIATE 'INSERT INTO t VALUES (1)'")


def test_describe_explain_analyze_dml_executes_once(client, engine):
    """EXPLAIN [ANALYZE] <DML> has head 'explain' (row-returning), but
    Describe must answer its static plan schema WITHOUT running the body —
    otherwise psycopg3's Describe-before-Execute inserts twice."""
    import uuid

    tbl = f"exp_dml_{uuid.uuid4().hex[:8]}"
    engine.sql(f"CREATE TABLE {tbl} (id BIGINT) USING parquet")
    try:
        sql = f"EXPLAIN ANALYZE INSERT INTO {tbl} VALUES (1)"
        client.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
        client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
        client.send(b"D", b"P\x00")
        client.send(b"E", b"\x00" + struct.pack("!i", 0))
        client.send(b"S")
        seen, rows = [], []
        while True:
            t, body = client.read_message()
            seen.append(t)
            if t == b"D":
                rows.append(body)
            if t == b"Z":
                break
        assert b"T" in seen and b"E" not in seen, seen  # plan RowDescription
        assert rows, "EXPLAIN ANALYZE streamed no plan row"
        n = engine.sql(f"SELECT count(*) AS n FROM {tbl}").collect()[0][0]
        assert n == 1, f"INSERT ran {n} times (Describe must not run EXPLAIN body)"
    finally:
        engine.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_plain_explain_dml_does_not_execute(client, engine):
    """PG: only EXPLAIN ANALYZE executes the statement; plain EXPLAIN
    plans it.  Spark's ExplainCommand gives the plan without running."""
    import uuid

    tbl = f"exp_plain_{uuid.uuid4().hex[:8]}"
    engine.sql(f"CREATE TABLE {tbl} (id BIGINT) USING parquet")
    try:
        cols, rows, _ = client.query(f"EXPLAIN INSERT INTO {tbl} VALUES (1)")
        assert rows and rows[0][0], "no plan text"
        n = engine.sql(f"SELECT count(*) AS n FROM {tbl}").collect()[0][0]
        assert n == 0, f"plain EXPLAIN executed the INSERT ({n} rows)"
    finally:
        engine.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_set_conf_read_streams_rows(client):
    """`SET <key>` (no value) is a conf READ returning a (key, value) row;
    the extended protocol must describe and stream it, not swallow it
    behind a NoData + bare CommandComplete."""
    rows, tag = client.extended("SET spark.sql.shuffle.partitions", [], [])
    assert rows and rows[0][0] == b"spark.sql.shuffle.partitions", (rows, tag)
    assert tag.startswith("SELECT"), tag


def test_from_insert_multi_table_not_described_as_rows(engine):
    """Hive-style `FROM t INSERT INTO ...` is DML: Describe must classify
    it NoData so it never runs during Describe."""
    from dataclod_spark.server.pgwire import _returns_rows

    assert not _returns_rows(
        "FROM lineitem INSERT INTO a SELECT * INSERT INTO b SELECT *"
    )


def test_execute_immediate_streams_with_late_row_description(client):
    """EXECUTE IMMEDIATE can wrap DML, so Describe answers NoData rather
    than planning (= running) it; Execute must then send the late
    RowDescription and stream the result instead of swallowing it."""
    sql = "EXECUTE IMMEDIATE 'SELECT 7 AS x'"
    client.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
    client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    client.send(b"D", b"P\x00")
    client.send(b"E", b"\x00" + struct.pack("!i", 0))
    client.send(b"S")
    seen, rows, tag = [], [], None
    while True:
        t, body = client.read_message()
        seen.append(t)
        if t == b"D":
            rows.append(body)
        elif t == b"C":
            tag = body.rstrip(b"\x00").decode()
        if t == b"Z":
            break
    assert b"n" in seen, seen          # Describe: NoData (can't plan safely)
    assert b"T" in seen, seen          # Execute: late RowDescription
    assert b"E" not in seen, seen
    assert len(rows) == 1 and rows[0].endswith(b"7"), rows
    assert tag == "SELECT 1", tag


def test_dml_command_tag_not_set(client, engine):
    """Zero-column Spark DML frames must answer PG command tags
    (INSERT 0 0 / CREATE TABLE / DROP TABLE), not a blanket SET —
    PQcmdTuples and ORMs parse these."""
    import uuid

    tbl = f"tag_{uuid.uuid4().hex[:8]}"
    try:
        _, _, tag = client.query(f"CREATE TABLE {tbl} (id BIGINT) USING parquet")
        assert tag == "CREATE TABLE", tag
        _, _, tag = client.query(f"INSERT INTO {tbl} VALUES (1)")
        assert tag == "INSERT 0 0", tag
    finally:
        _, _, tag = client.query(f"DROP TABLE IF EXISTS {tbl}")
        assert tag == "DROP TABLE", tag


def test_portal_suspension_resumes(client):
    """Execute with max_rows streams that many rows then PortalSuspended;
    the next Execute resumes from the stored position (PG cursors /
    JDBC setFetchSize)."""
    sql = "SELECT id FROM range(7) ORDER BY id"
    client.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
    client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    client.send(b"E", b"\x00" + struct.pack("!i", 3))  # fetch 3
    client.send(b"E", b"\x00" + struct.pack("!i", 3))  # fetch 3 more
    client.send(b"E", b"\x00" + struct.pack("!i", 3))  # last 1 + complete
    client.send(b"S")
    events, rows = [], []
    while True:
        t, body = client.read_message()
        events.append(t)
        if t == b"D":
            rows.append(body[-1:])
        if t == b"Z":
            break
    assert events.count(b"s") == 2, events      # two suspensions
    assert events.count(b"C") == 1, events      # one completion
    assert rows == [b"0", b"1", b"2", b"3", b"4", b"5", b"6"], rows
    # completion tag counts only the final chunk's rows (PG semantics)
    assert b"E" not in events, events


def test_statement_head_cte_named_recursive():
    """A CTE literally named `recursive` must not be skipped as the
    RECURSIVE keyword — that would shift the name/AS pairing and classify
    WITH...INSERT as row-returning (double execution via Describe)."""
    from dataclod_spark.server.pgwire import _returns_rows, _statement_head

    assert (
        _statement_head(
            "WITH recursive AS (SELECT 1 AS x) INSERT INTO t SELECT * FROM recursive"
        )
        == "insert"
    )
    assert not _returns_rows(
        "WITH recursive AS (SELECT 1 AS x) INSERT INTO t SELECT * FROM recursive"
    )
    assert _statement_head("WITH RECURSIVE t AS (SELECT 1) SELECT * FROM t") == "select"
    assert _statement_head(
        "WITH RECURSIVE recursive AS (SELECT 1) SELECT * FROM recursive"
    ) == "select"


def test_close_invalid_subtype_rejected(client):
    """Close with a junk subtype byte is a protocol error, not an
    accidental portal drop."""
    client.send(b"C", b"X\x00")
    client.send(b"S")
    seen = []
    while True:
        t, _ = client.read_message()
        seen.append(t)
        if t == b"Z":
            break
    assert b"E" in seen and b"3" not in seen, seen
    rows, _ = client.extended("SELECT 5 AS ok", [], [])
    assert rows == [[b"5"]]


def test_invalid_utf8_query_recovers(client):
    """A Q message with invalid UTF-8 answers a recoverable ErrorResponse
    + ReadyForQuery (PG 22021), not a dead socket."""
    client.send(b"Q", b"SELECT '\xe9'\x00")  # latin-1 e-acute, invalid UTF-8
    seen = []
    while True:
        t, _ = client.read_message()
        seen.append(t)
        if t == b"Z":
            break
    assert b"E" in seen, seen
    cols, rows, _ = client.query("SELECT 3 AS ok")
    assert rows == [[b"3"]]


def test_repeated_execute_does_not_rerun_dml(client, engine):
    """PG never re-executes a completed portal: a pipelined second Execute
    of a bound INSERT portal answers 55000 "portal cannot be run" and the
    row is inserted exactly once."""
    import uuid

    tbl = f"reexec_{uuid.uuid4().hex[:8]}"
    engine.sql(f"CREATE TABLE {tbl} (id BIGINT) USING parquet")
    try:
        sql = f"INSERT INTO {tbl} VALUES (1)"
        client.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
        client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
        client.send(b"E", b"\x00" + struct.pack("!i", 0))
        client.send(b"E", b"\x00" + struct.pack("!i", 0))  # pipelined repeat
        client.send(b"S")
        tags, errs = [], 0
        while True:
            t, body = client.read_message()
            if t == b"C":
                tags.append(body.rstrip(b"\x00").decode())
            elif t == b"E":
                errs += 1
                assert b"55000" in body, body  # PG: portal cannot be run
            if t == b"Z":
                break
        assert tags == ["INSERT 0 0"] and errs == 1, (tags, errs)
        n = engine.sql(f"SELECT count(*) AS n FROM {tbl}").collect()[0][0]
        assert n == 1, f"INSERT ran {n} times (completed portal re-executed)"
    finally:
        engine.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_execute_completed_row_portal_returns_zero_rows(client):
    """Re-Execute of an exhausted row portal answers 0 rows, not a
    re-run of the query."""
    sql = "SELECT id FROM range(2)"
    client.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
    client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    client.send(b"E", b"\x00" + struct.pack("!i", 0))   # full fetch
    client.send(b"E", b"\x00" + struct.pack("!i", 0))   # completed portal
    client.send(b"S")
    tags, n_rows = [], 0
    while True:
        t, body = client.read_message()
        if t == b"D":
            n_rows += 1
        elif t == b"C":
            tags.append(body.rstrip(b"\x00").decode())
        if t == b"Z":
            break
    assert n_rows == 2, n_rows
    assert tags == ["SELECT 2", "SELECT 0"], tags


def test_bounded_fetch_completes_via_probe(client):
    """A single Execute whose limit covers the whole result completes
    with the probe fast path (limit pushed into the plan) — same wire
    behavior, rows + CommandComplete, no suspension."""
    sql = "SELECT id FROM range(3) ORDER BY id"
    client.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
    client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    client.send(b"E", b"\x00" + struct.pack("!i", 10))
    client.send(b"S")
    events, rows, tags = [], [], []
    while True:
        t, body = client.read_message()
        events.append(t)
        if t == b"D":
            rows.append(body[-1:])
        elif t == b"C":
            tags.append(body.rstrip(b"\x00").decode())
        if t == b"Z":
            break
    assert b"s" not in events, events
    assert rows == [b"0", b"1", b"2"] and tags == ["SELECT 3"], (rows, tags)


def test_from_multi_insert_command_tag():
    from dataclod_spark.server.pgwire import _command_tag

    assert _command_tag("FROM src INSERT INTO a SELECT * INSERT INTO b SELECT *") == "INSERT 0 0"
    assert _command_tag("MERGE INTO t USING s ON 1=1 WHEN MATCHED THEN DELETE") == "MERGE 0"


def test_failed_portal_cannot_be_rerun(client):
    """A portal whose Execute raised is FAILED and destroyed at Sync
    (PG drops portals at transaction end): a post-Sync re-Execute answers
    34000 "portal does not exist" instead of re-running a partially
    applied side effect."""
    sql = "SELECT raise_error('boom') FROM range(1)"
    client.send(b"P", b"\x00" + sql.encode() + b"\x00" + struct.pack("!h", 0))
    client.send(b"B", b"\x00\x00" + struct.pack("!hhh", 0, 0, 0))
    client.send(b"E", b"\x00" + struct.pack("!i", 0))
    client.send(b"S")
    codes = []
    while True:
        t, body = client.read_message()
        if t == b"E":
            codes.append(body)
        if t == b"Z":
            break
    assert len(codes) == 1, codes
    # re-Execute the same (failed) portal in a fresh cycle
    client.send(b"E", b"\x00" + struct.pack("!i", 0))
    client.send(b"S")
    codes = []
    while True:
        t, body = client.read_message()
        if t == b"E":
            codes.append(body)
        if t == b"Z":
            break
    assert len(codes) == 1 and b"34000" in codes[0], codes
    rows, _ = client.extended("SELECT 9 AS ok", [], [])
    assert rows == [[b"9"]]


def test_simple_copy_answers_copy_tag(client, tmp_path):
    """Simple-protocol COPY: psql expects the "COPY <n>" tag, not a
    one-row count result set — consistent with the extended path."""
    dest = tmp_path / "copy_simple"
    cols, rows, tag = client.query(f"COPY (SELECT 1 AS x) TO '{dest}' (FORMAT parquet)")
    assert rows == [] and tag == "COPY 1", (cols, rows, tag)


def test_extended_protocol_garbage_fuzz(server):
    """Deterministic frame-level fuzz: random extended-protocol messages
    with garbage payloads must never hang or kill the connection thread —
    every round ends with Sync, the server answers ReadyForQuery, and a
    clean query still works afterwards."""
    import random

    rng = random.Random(1234)
    c = MiniPgClient(server.port)
    assert c.login()[-1][0] == b"Z"
    tags = [b"P", b"B", b"D", b"E", b"C", b"H", b"S"]
    for round_no in range(30):
        for _ in range(rng.randint(1, 6)):
            tag = rng.choice(tags)
            if tag == b"S":
                continue  # sync sent explicitly below
            kind = rng.random()
            if kind < 0.4:
                payload = bytes(rng.randrange(256) for _ in range(rng.randint(0, 40)))
            elif kind < 0.7:
                # plausible-looking null-terminated names + junk
                payload = (
                    rng.choice([b"", b"s1\x00", b"\x00", b"p\xff\x00"])
                    + bytes(rng.randrange(256) for _ in range(rng.randint(0, 12)))
                )
            else:
                payload = b"\x00" * rng.randint(0, 8)
            c.send(tag, payload)
        c.send(b"S")  # Sync: the server must discard and recover
        # drain until ReadyForQuery — bounded by the socket timeout
        while True:
            t, _ = c.read_message()
            if t == b"Z":
                break
    cols, rows, tag = c.query("SELECT 1 AS ok")
    assert rows == [[b"1"]] and tag == "SELECT 1"
    c.close()


def test_groups_frame_through_wire(client):
    """The GROUPS-frame SQL rewrite runs inside EngineSession.sql, so the
    pg front door accepts the syntax too — peer semantics verified on an
    inline VALUES relation (CTE body path of the rewrite)."""
    cols, rows, _ = client.query(
        "WITH t AS (SELECT * FROM VALUES (1, 10), (1, 20), (2, 5) AS v(k, x)) "
        "SELECT k, sum(x) OVER (ORDER BY k "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s "
        "FROM t ORDER BY k, s"
    )
    assert cols == ["k", "s"]
    assert rows == [[b"1", b"30"], [b"1", b"30"], [b"2", b"35"]]


# ---------- round 10: protocol review fixes ----------------------------------


def test_empty_query_gets_empty_query_response(client):
    """PG protocol: an empty query string answers EmptyQueryResponse
    ('I'), not CommandComplete SET — libpq drivers branch on
    PGRES_EMPTY_QUERY."""
    for q in ("", ";", " ; ", "-- only a comment", "; -- done"):
        client.send(b"Q", q.encode() + b"\x00")
        seen = []
        while True:
            t, _ = client.read_message()
            seen.append(t)
            if t == b"Z":
                break
        assert seen == [b"I", b"Z"], (q, seen)


def test_trailing_comment_after_semicolon_not_executed(client):
    """'SELECT 1; -- done': PG ignores the comment-only tail; executing
    it as a statement raised a spurious parse error before r10."""
    tags, rows, errs = _raw_exchange(client, "SELECT 1 AS a; -- done")
    assert tags == ["SELECT 1"] and len(rows) == 1 and not errs


def test_parse_single_statement_with_trailing_comment(client):
    """Extended Parse of 'SELECT 1;\\n-- audit' is ONE command — the
    comment-only segment must not trip the multi-command 42601."""
    rows, tag = client.extended("SELECT 1 AS x;\n-- audit tag", [], [])
    assert rows == [[b"1"]] and tag == "SELECT 1"


def test_dollar_param_inside_comment_not_counted(client):
    """$2 inside a comment is not a parameter: Bind of ONE param must
    succeed (before r10 n_params counted the $2 and Bind failed)."""
    rows, _ = client.extended(
        "SELECT $1 + 0 AS v -- fallback for $2", [b"5"], [23]
    )
    assert rows == [[b"5"]]


def test_text_format_array_param(client):
    """psycopg3's default TEXT format for an int4[] param: '{1,2,3}'
    with OID 1007 must bind as a real array, not the raw string."""
    rows, _ = client.extended(
        "SELECT array_contains($1, 2) AS c, size($1) AS n",
        [b"{1,2,3}"], [1007],
    )
    assert rows == [[b"t", b"3"]]


def test_text_format_array_param_quoted_and_null(client):
    """Text arrays with quoted elements (escapes, commas) and NULL."""
    rows, _ = client.extended(
        "SELECT element_at($1, 2) AS two, element_at($1, 1) AS one, "
        "element_at($1, 3) AS three, size($1) AS n",
        [b'{"a,b",NULL,"c\\"d"}'], [1009],
    )
    assert rows == [[None, b"a,b", b'c"d', b"3"]]


def test_text_format_empty_array_param(client):
    rows, _ = client.extended("SELECT size($1) AS n", [b"{}"], [1007])
    assert rows == [[b"0"]]


def test_array_result_quotes_null_string(client):
    """A real string 'NULL' in an array result must be quoted on the
    wire or clients read it back as SQL NULL."""
    _, rows, _ = client.query("SELECT array('NULL', 'x') AS a")
    assert rows[0][0] == b'{"NULL",x}'


def test_invalid_message_length_closes_cleanly(server):
    """A header with length < 4 must fail the connection at the framing
    layer instead of negative-slicing the buffer and desyncing."""
    c = MiniPgClient(server.port)
    try:
        c.login()
        # tag 'Q' with impossible length 3
        c.sock.sendall(b"Q" + struct.pack("!i", 3))
        # server should drop the connection (no garbage parsing)
        c.sock.settimeout(10)
        try:
            data = c.sock.recv(65536)
        except (ConnectionError, OSError):
            data = b""
        assert data == b""  # clean close, no further frames
    finally:
        c.close()


def test_binary_array_param_with_null_element(client):
    """A binary int4[] whose middle element is NULL (-1 length) binds via
    the typed-fragment path — Spark's args validator rejects a Python
    list containing None, so before r10 this raised INVALID_SQL_ARG."""
    arr = struct.pack("!iiiii", 1, 1, 23, 3, 1)
    arr += struct.pack("!i", 4) + struct.pack("!i", 7)
    arr += struct.pack("!i", -1)  # NULL element
    arr += struct.pack("!i", 4) + struct.pack("!i", 9)
    rows, _ = client.extended(
        "SELECT element_at($1, 2) AS mid, size($1) AS n, $1 AS a",
        [arr], [1007], param_formats=[1],
    )
    assert rows == [[None, b"3", b"{7,NULL,9}"]]


def test_text_array_param_string_escaping_not_injectable(client):
    """String elements in the NULL-carrying fragment path are escaped:
    a quote-bearing element must come back verbatim, not break the
    statement."""
    rows, _ = client.extended(
        "SELECT element_at($1, 1) AS s, element_at($1, 2) AS t",
        [b"{\"it's'); DROP--\",NULL}"], [1009],
    )
    assert rows == [[b"it's'); DROP--", None]]
