"""HTTP front-door tests (sources/httpwire.py).

The golden strings mirror the PUBLIC upstream-ClickHouse HTTP interface
semantics: ``?query=`` / POST-body queries, FORMAT output grammars (TSV
escapes, CSV quoting, the JSON envelope with quoted 64-bit integers,
Values literals, RowBinary layout), ``param_*`` binding, per-request
settings scope, ``session_id``, gzip + the CH-internal LZ4 ``compress=1``
framing (shared byte-exactly with the native protocol codec,
sources/chnative.py), and ``X-ClickHouse-*`` response headers.

The reference itself ships native-TCP + MySQL front doors
(crates/server/src/server.rs, crates/server_mysql/) — HTTP is the
beyond-reference surface stock-ClickHouse users expect first.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import threading
import uuid
from decimal import Decimal

import pytest

from tensorbase_spark.engine import TensorBaseEngine
from tensorbase_spark.sources.chnative import Reader, read_frame
from tensorbase_spark.sources.httpwire import (
    HttpClient,
    canonical_format,
    decode_body_rows,
    decode_native,
    decode_rowbinary_with_names_and_types,
    encode_rows,
    serve_http,
    tsv_escape,
    tsv_unescape,
    _fmt_float,
    _parse_array_text,
)


# ---------------------------------------------------------------------------
# unit: text rendering / format encoders (no Spark)
# ---------------------------------------------------------------------------


def test_tsv_escape_roundtrip():
    s = "a\tb\nc\\d\re\0f\bg\fh"
    assert tsv_unescape(tsv_escape(s)) == s
    assert tsv_escape("a\tb") == "a\\tb"
    # whole-field \N is NULL and is handled BEFORE unescape; as a mere
    # escape sequence it passes through untouched
    assert tsv_unescape("\\N") == "\\N"


def test_float_format():
    assert _fmt_float(1.0) == "1"
    assert _fmt_float(1.5) == "1.5"
    assert _fmt_float(float("nan")) == "nan"
    assert _fmt_float(float("inf")) == "inf"
    assert _fmt_float(float("-inf")) == "-inf"
    assert _fmt_float(0.1) == "0.1"


ROWS = [
    (1, "a\tb", 1.5, dt.date(2020, 1, 2), None),
    (2, "x", 3.0, dt.date(2021, 5, 6), "ok"),
]
NAMES = ["i", "s", "f", "d", "n"]
TYPES = ["Int64", "String", "Float64", "Date", "Nullable(String)"]


def _enc(fmt, rows=ROWS, **kw):
    return b"".join(encode_rows(fmt, NAMES, TYPES, iter(rows), **kw)).decode()


def test_tabseparated_golden():
    assert _enc("TabSeparated") == (
        "1\ta\\tb\t1.5\t2020-01-02\t\\N\n2\tx\t3\t2021-05-06\tok\n"
    )


def test_tsv_with_names_and_types_golden():
    out = _enc("TabSeparatedWithNamesAndTypes")
    lines = out.split("\n")
    assert lines[0] == "i\ts\tf\td\tn"
    assert lines[1] == "Int64\tString\tFloat64\tDate\tNullable(String)"
    assert lines[2].startswith("1\t")


def test_csv_golden():
    assert _enc("CSV") == (
        '1,"a\tb",1.5,"2020-01-02",\\N\n2,"x",3,"2021-05-06","ok"\n'
    )


def test_jsoneachrow_quote64():
    out = _enc("JSONEachRow")
    first = json.loads(out.splitlines()[0])
    # Int64 quoted per CH default output_format_json_quote_64bit_integers=1
    assert first["i"] == "1" and first["n"] is None
    out0 = _enc("JSONEachRow", quote64=False)
    assert json.loads(out0.splitlines()[0])["i"] == 1


def test_json_envelope():
    doc = json.loads(_enc("JSON"))
    assert doc["meta"] == [
        {"name": n, "type": t} for n, t in zip(NAMES, TYPES)
    ]
    assert doc["rows"] == 2
    assert doc["data"][0]["s"] == "a\tb"
    compact = json.loads(_enc("JSONCompact"))
    assert compact["data"][1] == ["2", "x", 3.0, "2021-05-06", "ok"]


def test_values_golden():
    assert _enc("Values") == (
        "(1,'a\\tb',1.5,'2020-01-02',NULL),(2,'x',3,'2021-05-06','ok')\n"
    )


def test_pretty_shapes():
    compact = _enc("PrettyCompact")
    assert compact.startswith("┌─i─┬─s")
    assert "ᴺᵁᴸᴸ" in compact
    full = _enc("Pretty")
    assert full.startswith("┏━━━┳")
    assert full.count("│ 2 │") == 1


def test_null_format_consumes():
    assert _enc("Null") == ""


def test_canonical_format():
    assert canonical_format("tsv") == "TabSeparated"
    assert canonical_format("NDJSON") == "JSONEachRow"
    with pytest.raises(ValueError):
        canonical_format("NotAFormat")


def test_rowbinary_roundtrip():
    types = [
        "Int64", "Nullable(String)", "Float64", "Date", "DateTime",
        "Decimal(9,2)", "Decimal(18,4)", "Array(Int32)", "UInt8",
    ]
    names = [f"c{i}" for i in range(len(types))]
    rows = [
        (1, "héllo", 1.25, dt.date(2020, 1, 1),
         dt.datetime(2021, 3, 4, 5, 6, 7), Decimal("12.34"),
         Decimal("-7.0001"), [1, 2, 3], 255),
        (-5, None, -0.5, dt.date(1970, 1, 1),
         dt.datetime(1970, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc),
         Decimal("-0.01"), Decimal("0.0000"), [], 0),
    ]
    payload = b"".join(
        encode_rows("RowBinaryWithNamesAndTypes", names, types, iter(rows))
    )
    got_names, got_types, got = decode_rowbinary_with_names_and_types(payload)
    assert got_names == names and got_types == types
    assert got[0][0] == 1 and got[0][1] == "héllo"
    assert got[0][5] == Decimal("12.34") and got[0][6] == Decimal("-7.0001")
    assert got[0][7] == [1, 2, 3]
    assert got[1][1] is None and got[1][7] == []
    assert got[1][3] == dt.date(1970, 1, 1)


def test_native_format_roundtrip_unit():
    """FORMAT Native is the native-protocol block stream; the payload
    must decode with the chnative Block codec directly (one shared
    implementation)."""
    from tensorbase_spark.sources.chnative import Block, Reader

    types = ["Int64", "Nullable(String)", "Float64", "Date"]
    names = ["a", "b", "c", "d"]
    rows = [
        (1, "x", 0.5, dt.date(2020, 1, 1)),
        (2, None, -1.5, dt.date(2021, 2, 3)),
    ]
    payload = b"".join(encode_rows("Native", names, types, iter(rows)))
    blk = Block.decode_body(Reader(payload))
    assert [c[0] for c in blk.columns] == names and blk.nrows == 2
    got_names, got_types, got = decode_native(payload)
    assert got_names == names and got_types == types
    assert got == rows
    # empty result still carries the structure block
    empty = b"".join(encode_rows("Native", names, types, iter([])))
    n2, t2, r2 = decode_native(empty)
    assert n2 == names and r2 == []


def test_arrow_formats_roundtrip_unit():
    """Arrow / ArrowStream / Parquet payloads open with stock pyarrow and
    carry the typed values (UInt64 -> uint64, Decimal -> decimal128)."""
    import pyarrow as pa

    from tensorbase_spark.sources.httpwire import decode_arrow_body

    types = ["Int64", "Nullable(String)", "Float64", "Date",
             "Decimal(9,2)", "UInt64"]
    names = ["a", "s", "f", "d", "dec", "u"]
    rows = [
        (1, "x", 0.5, dt.date(2020, 1, 1), Decimal("1.25"),
         Decimal(2**63 + 9)),
        (2, None, -1.5, dt.date(2021, 2, 3), Decimal("-0.01"), Decimal(7)),
    ]
    for fmt in ("Arrow", "ArrowStream", "Parquet"):
        payload = b"".join(encode_rows(fmt, names, types, iter(rows)))
        got_names, got = decode_arrow_body(fmt, payload)
        assert got_names == names
        assert got[0][0] == 1 and got[1][1] is None
        assert got[0][4] == Decimal("1.25")
        assert got[0][5] == 2**63 + 9  # uint64 survives beyond i64
    # the stream format is plain pyarrow IPC — open it directly
    payload = b"".join(encode_rows("ArrowStream", names, types, iter(rows)))
    t = pa.ipc.open_stream(payload).read_all()
    assert t.schema.field("u").type == pa.uint64()
    assert t.schema.field("d").type == pa.date32()


def test_rowbinary_range_checks():
    with pytest.raises(ValueError):
        b"".join(encode_rows("RowBinary", ["d"], ["Date"],
                             iter([(dt.date(1969, 12, 31),)])))
    with pytest.raises(ValueError):
        b"".join(encode_rows(
            "RowBinary", ["t"], ["DateTime"],
            iter([(dt.datetime(1969, 1, 1, tzinfo=dt.timezone.utc),)]),
        ))


# ---------------------------------------------------------------------------
# unit: INSERT body decoders
# ---------------------------------------------------------------------------


def test_decode_csv_body():
    rows, names = decode_body_rows(
        "CSVWithNames", b'a,b\n1,"x,y"\n2,\\N\n3,"with ""q"""\n'
    )
    assert names == ["a", "b"]
    assert rows == [["1", "x,y"], ["2", None], ["3", 'with "q"']]


def test_decode_tsv_body():
    rows, names = decode_body_rows("TabSeparated", b"1\ta\\tb\n2\t\\N\n")
    assert names is None
    assert rows == [["1", "a\tb"], ["2", None]]


def test_decode_jsoneachrow_body():
    rows, names = decode_body_rows(
        "JSONEachRow",
        b'{"a": 1, "b": "x"}\n{"a": 2, "b": null}\n',
    )
    assert names == ["a", "b"]
    assert rows == [[1, "x"], [2, None]]


def test_parse_array_text():
    assert _parse_array_text("[1,2,3]") == ["1", "2", "3"]
    assert _parse_array_text("['a,b','c\\'d',NULL]") == ["a,b", "c'd", None]
    assert _parse_array_text("[]") == []


# ---------------------------------------------------------------------------
# e2e over a real socket
# ---------------------------------------------------------------------------


@pytest.fixture()
def engine(spark):
    eng = TensorBaseEngine(spark)
    db = f"httpdb_{uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    yield eng
    spark.catalog.setCurrentDatabase("default")
    eng.sql(f"drop database if exists {db}")


@pytest.fixture()
def served(engine):
    srv, port = serve_http(engine)
    yield engine, port
    srv.shutdown()
    srv.server_close()


def test_health_endpoints(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        assert c.ping()
        st, _h, data = c.raw(path="/replicas_status")
        assert st == 200 and data == b"Ok.\n"
        st, _h, data = c.raw(path="/")  # bare GET / -> Ok.
        assert st == 200 and data == b"Ok.\n"


def test_select_headers_and_formats(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        st, h, data = c.raw(query="select 1 as x, 'a' as s FORMAT TSV")
        assert st == 200
        assert h["X-ClickHouse-Format"] == "TabSeparated"
        assert "X-ClickHouse-Query-Id" in h
        assert h["X-ClickHouse-Server-Display-Name"] == "tensorbase-spark"
        assert data == b"1\ta\n"
        st, _h, data = c.raw(query="select 1 as x FORMAT JSONEachRow")
        assert json.loads(data)["x"] == 1  # Int32: unquoted
        st, _h, data = c.raw(
            query="select 1 as x", params={"default_format": "Values"})
        assert data == b"(1)\n"


def test_insert_select_per_type_roundtrip(served):
    """Every §1.2 basic type through the HTTP wire: INSERT JSONEachRow
    body -> typed SELECT back via TSVWithNamesAndTypes."""
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute(
            "create table wide (i8 Int8, i16 Int16, i32 Int32, i64 Int64, "
            "f32 Float32, f64 Float64, s String, d Date, t DateTime, "
            "dec Decimal(9,2), big Decimal(18,4))"
        )
        rows = [
            (-128, -32768, -2147483648, -9223372036854775808,
             0.5, 2.25, "fünky\tstring\nline", dt.date(1970, 1, 1),
             dt.datetime(2021, 6, 7, 8, 9, 10), Decimal("123.45"),
             Decimal("-9999.0001")),
            (127, 32767, 2147483647, 9223372036854775807,
             -1.5, -0.125, "", dt.date(2149, 6, 6),
             dt.datetime(1970, 1, 1, 0, 0, 1), Decimal("-0.01"),
             Decimal("0.0000")),
        ]
        names = ["i8", "i16", "i32", "i64", "f32", "f64", "s", "d", "t",
                 "dec", "big"]
        c.insert_rows("wide", names, rows)
        got_names, got_types, got = c.execute(
            "select * from wide order by i8")
        assert got_names == names
        assert got[0][0] == -128 and got[1][3] == 9223372036854775807
        assert got[0][6] == "fünky\tstring\nline"
        assert got[1][7] == dt.date(2149, 6, 6)
        assert got[0][8] == dt.datetime(2021, 6, 7, 8, 9, 10)
        assert got[0][9] == Decimal("123.45")
        assert got[1][10] == Decimal("0.0000")


def test_insert_csv_and_tsv_bodies(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table t2 (a Int64, b String)")
        st, h, _ = c.raw(
            query="INSERT INTO t2 (a, b) FORMAT CSV",
            body=b'1,"x"\n2,"y,z"\n',
        )
        assert st == 200
        assert json.loads(h["X-ClickHouse-Summary"])["written_rows"] == "2"
        st, _h, _ = c.raw(
            query="INSERT INTO t2 (a, b) FORMAT TabSeparated",
            body=b"3\ttab\\there\n",
        )
        assert st == 200
        _n, _t, got = c.execute("select a, b from t2 order by a")
        assert got == [(1, "x"), (2, "y,z"), (3, "tab\there")]


def test_insert_query_entirely_in_body(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table t3 (a Int64)")
        st, _h, _ = c.raw(
            body=b'INSERT INTO t3 (a) FORMAT JSONEachRow\n{"a": 7}\n{"a": 8}\n'
        )
        assert st == 200
        assert c.execute("select sum(a) as s from t3")[2] == [(15,)]


def test_insert_values_passthrough(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table t4 (a Int64, b String)")
        st, _h, _ = c.raw(
            query="INSERT INTO t4 VALUES (1, 'x'), (2, 'y')")
        assert st == 200
        assert c.execute("select count(*) as n from t4")[2] == [(2,)]


def test_rowbinary_insert_bodies(served):
    """INSERT bodies in RowBinary (headerless — layout from the target
    table schema) and RowBinaryWithNamesAndTypes (self-describing,
    column subset + reorder honored) round-trip typed values."""
    _eng, port = served
    rows = [
        (1, "héllo", 1.25),
        (2, None, -0.5),
    ]
    with HttpClient(port=port) as c:
        c.execute(
            "create table trb (a Int64, s Nullable(String), f Float64)")
        payload = b"".join(encode_rows(
            "RowBinary", ["a", "s", "f"],
            ["Int64", "Nullable(String)", "Float64"], iter(rows)))
        st, _h, _ = c.raw(
            query="INSERT INTO trb FORMAT RowBinary", body=payload)
        assert st == 200
        # self-describing variant, reordered subset of columns
        payload2 = b"".join(encode_rows(
            "RowBinaryWithNamesAndTypes", ["f", "a"],
            ["Float64", "Int64"], iter([(9.5, 3)])))
        st, _h, _ = c.raw(
            query="INSERT INTO trb (a, f) FORMAT RowBinaryWithNamesAndTypes",
            body=payload2)
        assert st == 200
        _n, _t, got = c.execute("select a, s, f from trb order by a")
        assert got == [(1, "héllo", 1.25), (2, None, -0.5), (3, None, 9.5)]


def test_streaming_native_insert_bounded(engine, monkeypatch):
    """A FORMAT Native INSERT body larger than the classification
    prefix decodes block by block off the stream with bounded
    buffering, and the values land exactly."""
    from tensorbase_spark.sources.httpwire import serve_http

    monkeypatch.setenv("TB_HTTP_INSERT_BATCH_BYTES", "65536")
    srv, port = serve_http(engine)
    try:
        n = 60_000
        rows = [(i, f"nat-{i}") for i in range(n)]
        with HttpClient(port=port) as c:
            c.execute("create table tnat (a Int64, s String)")
            c.insert_rows("tnat", ["a", "s"], rows, fmt="Native",
                          ch_types=["Int64", "String"])
            _n, _t, got = c.execute(
                "select count(*) as n, cast(sum(a) as bigint) as sa, "
                "count(distinct s) as d from tnat")
            assert got == [(n, n * (n - 1) // 2, n)]
        assert 0 < srv.max_insert_buffer < (4 << 20)
    finally:
        srv.shutdown()
        srv.server_close()


def test_body_reader_multimember_gzip():
    """`cat a.gz b.gz` is a valid gzip stream — all members decode."""
    import io

    from tensorbase_spark.sources.httpwire import _BodyReader

    comp = gzip.compress(b"alpha\n") + gzip.compress(b"beta\n")
    br = _BodyReader(io.BytesIO(comp),
                     {"Content-Length": str(len(comp)),
                      "Content-Encoding": "gzip"}, {})
    assert b"".join(iter(br.read_piece, b"")) == b"alpha\nbeta\n"


def test_tsv_raw_insert_no_unescape(served):
    """TabSeparatedRaw INSERT bodies pass bytes through — a literal
    backslash-n stays two characters and \\N is NOT a NULL."""
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table traw (a Int64, s String)")
        st, _h, _ = c.raw(
            query="INSERT INTO traw FORMAT TabSeparatedRaw",
            body=b"1\ta\\nb\n2\t\\N\n")
        assert st == 200
        _n, _t, got = c.execute(
            "select a, length(s) as n from traw order by a")
        assert got == [(1, 4), (2, 2)]


def test_duplicate_query_id_rejected(served):
    """Two in-flight queries sharing a query_id would corrupt the
    registry (first finisher pops the shared key) — the second is
    rejected with CH's already-running error."""
    import threading
    import time

    eng, port = served
    res = {}

    def victim():
        try:
            with HttpClient(port=port) as c:
                res["v"] = c.raw(
                    query="select sum(cityHash64(toString(number)) "
                          "% 1000000) as s from numbers(20000000000) "
                          "FORMAT TSV",
                    params={"query_id": "dup-1"})
        except Exception as e:
            res["verr"] = repr(e)

    t = threading.Thread(target=victim, daemon=True)
    t.start()
    deadline = time.time() + 30
    with eng._proc_lock:
        pass
    while time.time() < deadline:
        with eng._proc_lock:
            if "dup-1" in eng._processes:
                break
        time.sleep(0.05)
    with HttpClient(port=port) as c:
        st, _h, data = c.raw(query="select 1 as x FORMAT TSV",
                             params={"query_id": "dup-1"})
        assert st != 200 and b"already running" in data
        c.execute("kill query where query_id = 'dup-1' sync")
    t.join(20)
    assert not t.is_alive()


def test_line_batcher_csv_quote_boundaries():
    """Batches split only at row boundaries OUTSIDE quoted CSV fields —
    embedded newlines and doubled quotes never split a row — and the
    concatenation is lossless."""
    from tensorbase_spark.sources.httpwire import _LineBatcher

    src = b'1,"a\nb"\n2,"c""d,\n"\n3,x\n4,"y"\n'
    for cut in range(1, len(src)):
        b = _LineBatcher(True, batch_bytes=6)
        out = list(b.feed(src[:cut])) + list(b.feed(src[cut:]))
        out += list(b.finish())
        assert b"".join(out) == src
        whole = []
        for chunk in out:
            rows, _ = decode_body_rows("CSV", chunk)
            whole += rows
        assert whole == [
            ["1", "a\nb"], ["2", 'c"d,\n'], ["3", "x"], ["4", "y"]]


def test_line_batcher_stray_midfield_quote():
    """A bare quote inside an UNQUOTED field (e.g. a"b,c) is literal —
    CH and Python's csv agree — and must not desync the boundary scan:
    batch boundaries still land at real row ends (ADVICE r10)."""
    from tensorbase_spark.sources.httpwire import _LineBatcher

    src = b'1,a"b,c\n2,x"y\n3,"q,\n""z"\n4,plain\n5,t"\n'
    for cut in range(1, len(src)):
        b = _LineBatcher(True, batch_bytes=4)
        out = list(b.feed(src[:cut])) + list(b.feed(src[cut:]))
        out += list(b.finish())
        assert b"".join(out) == src
        # every batch ends exactly at a row boundary (the quoted row
        # with the embedded newline stays whole inside one batch)
        for chunk in out[:-1]:
            assert chunk.endswith(b"\n")
        whole = []
        for chunk in out:
            rows, _ = decode_body_rows("CSV", chunk)
            whole += rows
        assert [r[0] for r in whole] == ["1", "2", "3", "4", "5"]
        assert whole[2][1] == 'q,\n"z'


def test_body_reader_truncated_bodies_raise():
    """Client disconnect mid-Content-Length, mid-chunk, or mid-gzip-
    member must RAISE (CH: UNEXPECTED_END_OF_FILE / CANNOT_DECOMPRESS),
    never silently commit the batches received so far (ADVICE r10)."""
    import io

    import pytest as _pt

    from tensorbase_spark.sources.httpwire import _BodyReader

    # Content-Length promises more than the transport delivers
    br = _BodyReader(io.BytesIO(b"1,a\n2,"),
                     {"Content-Length": "100"}, {})
    with _pt.raises(ValueError, match="end of request body"):
        b"".join(iter(br.read_piece, b""))

    # chunked framing cut inside a chunk
    br = _BodyReader(io.BytesIO(b"20\r\n1,a\n"),
                     {"Transfer-Encoding": "chunked"}, {})
    with _pt.raises(ValueError, match="chunk"):
        b"".join(iter(br.read_piece, b""))

    # chunked framing cut AT a chunk boundary (complete chunk, then
    # EOF where the next size line / terminating 0-chunk belongs)
    br = _BodyReader(io.BytesIO(b"8\r\n1,a\n2,b\r\n"),
                     {"Transfer-Encoding": "chunked"}, {})
    with _pt.raises(ValueError, match="boundary"):
        b"".join(iter(br.read_piece, b""))

    # gzip member truncated (flush() alone would not error)
    comp = gzip.compress(b"1,a\n" * 1000)
    cut = comp[: len(comp) - 8]
    br = _BodyReader(io.BytesIO(cut),
                     {"Content-Length": str(len(cut)),
                      "Content-Encoding": "gzip"}, {})
    with _pt.raises(ValueError, match="gzip"):
        b"".join(iter(br.read_piece, b""))

    # …but a COMPLETE gzip body still decodes clean (no false positive)
    br = _BodyReader(io.BytesIO(comp),
                     {"Content-Length": str(len(comp)),
                      "Content-Encoding": "gzip"}, {})
    assert b"".join(iter(br.read_piece, b"")) == b"1,a\n" * 1000


def test_body_reader_gzip_bounded_pieces():
    """A tiny gzip body expanding to tens of MB comes out of _BodyReader
    in bounded pieces (the decompression-bomb guard), losslessly."""
    import io

    from tensorbase_spark.sources.httpwire import _BodyReader

    raw = b"ab" * (24 << 20)  # 48 MB, compresses to ~100 KB
    comp = gzip.compress(raw)
    rfile = io.BytesIO(comp)
    headers = {"Content-Length": str(len(comp)),
               "Content-Encoding": "gzip"}
    br = _BodyReader(rfile, headers, {})
    total, biggest, n = 0, 0, 0
    while True:
        piece = br.read_piece()
        if not piece:
            break
        total += len(piece)
        biggest = max(biggest, len(piece))
        n += 1
    assert total == len(raw) and n > 1
    assert biggest <= 8 << 20


def test_streaming_insert_bounded_memory(engine, monkeypatch):
    """A POST body far larger than the batch cap is decoded + inserted
    in bounded batches — peak in-server buffering stays near the cap,
    never the body size — and the values are hash-equal to the buffered
    path (VERDICT r9 #2)."""
    from tensorbase_spark.sources.httpwire import serve_http

    cap = 64 << 10
    monkeypatch.setenv("TB_HTTP_INSERT_BATCH_BYTES", str(cap))
    srv, port = serve_http(engine)
    try:
        n = 60_000
        body = b"".join(
            b'%d,"str-%d,\xc3\xa9"\n' % (i, i) for i in range(n)
        )
        assert len(body) > 10 * cap
        with HttpClient(port=port) as c:
            c.execute("create table tstream (a Int64, s String)")
            st, _h, _ = c.raw(
                query="INSERT INTO tstream FORMAT CSV", body=body)
            assert st == 200
            _n, _t, got = c.execute(
                "select count(*) as n, sum(a) as s, "
                "count(distinct s) as d from tstream")
            assert got == [(n, n * (n - 1) // 2, n)]
        # bounded: batch cap + one transport chunk + one row of slack
        assert 0 < srv.max_insert_buffer <= cap + (256 << 10) + 1024
    finally:
        srv.shutdown()
        srv.server_close()


def test_streaming_insert_withnames_gzip(engine, monkeypatch):
    """Streamed INSERT keeps the CSVWithNames header only in the first
    batch, and works through the incremental gzip content decoding
    (chunked transfer goes through the same reader —
    test_chunked_request_body)."""
    import gzip as _gz

    from tensorbase_spark.sources.httpwire import serve_http

    monkeypatch.setenv("TB_HTTP_INSERT_BATCH_BYTES", "4096")
    srv, port = serve_http(engine)
    try:
        n = 5000
        body = b"s,a\n" + b"".join(
            b"row-%d,%d\n" % (i, i) for i in range(n)
        )
        with HttpClient(port=port) as c:
            c.execute("create table tsw (a Int64, s String)")
            st, _h, _ = c.raw(
                query="INSERT INTO tsw FORMAT CSVWithNames",
                body=_gz.compress(body),
                headers={"Content-Encoding": "gzip"},
            )
            assert st == 200
            _n, _t, got = c.execute(
                "select count(*) as n, sum(a) as sa, min(s) as lo "
                "from tsw")
            assert got == [(n, n * (n - 1) // 2, "row-0")]
    finally:
        srv.shutdown()
        srv.server_close()


def test_progress_headers_stream_during_query(served):
    """send_progress_in_http_headers=1: X-ClickHouse-Progress headers
    stream out WHILE the query runs (before the body), with the final
    response still intact (VERDICT r9 #6)."""
    import socket as _socket

    _eng, port = served
    q = ("select sum(cityHash64(toString(number)) % 1000) as s "
         "from numbers(120000000) FORMAT TSV")
    from urllib.parse import quote as _q

    path = (f"/?query={_q(q)}&send_progress_in_http_headers=1"
            f"&http_headers_progress_interval_ms=50&query_id=prog-1")
    with _socket.create_connection(("127.0.0.1", port), timeout=120) as s:
        s.sendall(
            f"GET {path} HTTP/1.1\r\nHost: x\r\n"
            "Connection: close\r\n\r\n".encode()
        )
        buf = b""
        while True:
            piece = s.recv(65536)
            if not piece:
                break
            buf += piece
    head, _, body = buf.partition(b"\r\n\r\n")
    prog = [ln for ln in head.split(b"\r\n")
            if ln.lower().startswith(b"x-clickhouse-progress:")]
    assert prog and prog[0].endswith(
        b'{"read_rows":"0","read_bytes":"0","total_rows_to_read":"0"}')
    # progress payloads are well-formed JSON with the CH field names
    for ln in prog:
        doc = json.loads(ln.split(b":", 1)[1].strip())
        assert set(doc) == {"read_rows", "read_bytes", "total_rows_to_read"}
    # the chunked body still carries the complete result (one TSV int)
    import re as _re

    assert _re.fullmatch(rb"-?\d+\n", body.split(b"\r\n")[1])


def test_session_timeout_and_check(served):
    """Sessions expire after session_timeout seconds (swept on the next
    request); session_check=1 on a missing/expired session errors with
    CH's SESSION_NOT_FOUND shape instead of silently starting fresh."""
    import time

    _eng, port = served
    with HttpClient(port=port) as c:
        # unknown session + session_check=1 -> loud error
        st, _h, data = c.raw(
            query="select 1 as x",
            params={"session_id": "nope", "session_check": "1"})
        assert st != 200 and b"not found" in data
        # create a session with a 1-second timeout, bind a param in it
        st, _h, _ = c.raw(
            query="set param_p = 7",
            params={"session_id": "sess-t", "session_timeout": "1"})
        assert st == 200
        st, _h, data = c.raw(
            query="select {p:Int64} as v FORMAT TSV",
            params={"session_id": "sess-t", "session_timeout": "1",
                    "session_check": "1"})
        assert st == 200 and data == b"7\n"
        time.sleep(1.3)
        st, _h, data = c.raw(
            query="select 1 as x",
            params={"session_id": "sess-t", "session_check": "1"})
        assert st != 200 and b"not found" in data


def test_processlist_and_kill_over_http(served):
    """E2e: a long scan started over HTTP is visible in system.processes
    from a second connection and KILL QUERY … SYNC cancels it mid-flight;
    the victim's response dies instead of completing (VERDICT r9 #1)."""
    import re
    import threading
    import time

    eng, port = served
    result = {}

    def victim():
        try:
            with HttpClient(port=port) as c:
                st, _h, data = c.raw(
                    query="select sum(cityHash64(toString(number)) % 1000000) as s "
                          "from numbers(30000000000) FORMAT TSV",
                    params={"query_id": "http-victim"},
                )
                result["status"], result["data"] = st, data
        except Exception as e:
            result["error"] = repr(e)

    t = threading.Thread(target=victim, daemon=True)
    t.start()
    sc = eng.spark.sparkContext
    deadline = time.time() + 30
    seen = False
    with HttpClient(port=port) as c:
        while time.time() < deadline:
            _n, _t2, rows = c.execute(
                "select query_id, interface from system.processes "
                "where query_id = 'http-victim'")
            if rows and sc.statusTracker().getJobIdsForGroup(
                    eng.job_group_for("http-victim")):
                seen = True
                break
            time.sleep(0.1)
        assert seen, "victim never appeared in the live processlist"
        assert rows == [("http-victim", "http")]
        _n, _t2, krows = c.execute(
            "kill query where query_id = 'http-victim' sync")
        assert krows == [("finished", "http-victim", "default")]
        t.join(20)
        assert not t.is_alive()
        # the victim's response must NOT be a completed result: either the
        # chunked stream aborted (error), or the body is not a plain sum
        assert "error" in result or not re.fullmatch(
            rb"\d+\n", result.get("data", b""))
        # registry drained again from the second connection's view
        _n, _t2, rows = c.execute("show processlist")
        assert rows == []


def test_response_ends_after_processlist_exit(served):
    """The last bytes of every response kind (final chunk, gzip tail,
    exception body, empty 200) leave the door only after the request's
    processlist entry is gone — deterministic here: each entry lingers
    0.5 s before it leaves."""
    import contextlib
    import time as _time

    eng, port = served
    track = eng.track_query

    @contextlib.contextmanager
    def slow_exit(*a, **kw):
        with track(*a, **kw) as qid:
            yield qid
            _time.sleep(0.5)

    eng.track_query = slow_exit
    try:
        with HttpClient(port=port) as c, HttpClient(port=port) as probe:
            for query, params in (
                ("select 1 as x FORMAT TSV", {}),
                ("select 2 as x FORMAT TSV", {"enable_http_compression": "1"}),
                ("select no_such_column from numbers(1)", {}),
                ("create table hold_t (a Int64)", {}),
            ):
                c.raw(query=query, params=params,
                      headers={"Accept-Encoding": "gzip"})
                # a second connection: the door serves it concurrently
                assert probe.execute("show processlist")[2] == [], query
    finally:
        del eng.track_query


def test_max_execution_time_over_http(served):
    """Per-request max_execution_time URL setting: a scan that blows the
    budget dies with CH's TIMEOUT_EXCEEDED shape; a query under budget
    answers normally and the registry drains (VERDICT r10 #6)."""
    _eng, port = served
    with HttpClient(port=port) as c:
        st, _h, data = c.raw(
            query="select count(*) as n from numbers(100) FORMAT TSV",
            params={"max_execution_time": "30"})
        assert st == 200 and data == b"100\n"
        st, _h, data = c.raw(
            query="select sum(cityHash64(toString(number)) % 1000000) "
                  "as s from numbers(30000000000) FORMAT TSV",
            params={"max_execution_time": "1"})
        assert st != 200 and b"Timeout exceeded" in data
        # budget was per-request: the next request is unlimited again
        st, _h, data = c.raw(
            query="select count(*) as n from numbers(100) FORMAT TSV")
        assert st == 200 and data == b"100\n"
        # the last response bytes go out after the registry entry is
        # gone, so nothing but this statement itself can be listed
        _n, _t, rows = c.execute("show processlist")
        assert rows == []
        # a budget passed WITH a session_id persists for the session
        # (resolved at track time, never through the shared engine
        # global — a concurrent door must not inherit it)
        st, _h, data = c.raw(
            query="select 1 as x FORMAT TSV",
            params={"session_id": "met-sess", "max_execution_time": "1"})
        assert st == 200
        st, _h, data = c.raw(
            query="select sum(cityHash64(toString(number)) % 1000000) "
                  "as s from numbers(30000000000) FORMAT TSV",
            params={"session_id": "met-sess"})
        assert st != 200 and b"Timeout exceeded" in data
        # CH session settings persist for the session LIFETIME: a
        # successful request that omits the parameter must not drop the
        # budget for requests after it (ADVICE r11)
        st, _h, data = c.raw(
            query="select 2 as x FORMAT TSV",
            params={"session_id": "met-sess"})
        assert st == 200 and data == b"2\n"
        st, _h, data = c.raw(
            query="select sum(cityHash64(toString(number)) % 1000000) "
                  "as s from numbers(30000000000) FORMAT TSV",
            params={"session_id": "met-sess"})
        assert st != 200 and b"Timeout exceeded" in data
        # an explicit 0 DISABLES the session budget (presence, not
        # truthiness — ADVICE r11)
        st, _h, data = c.raw(
            query="select 3 as x FORMAT TSV",
            params={"session_id": "met-sess", "max_execution_time": "0"})
        assert st == 200
        st, _h, data = c.raw(
            query="select count(*) as n from numbers(3000000) FORMAT TSV",
            params={"session_id": "met-sess"})
        assert st == 200 and data == b"3000000\n"
        # an unparseable value is BAD_ARGUMENT, not silently unlimited
        st, _h, data = c.raw(
            query="select 1 as x FORMAT TSV",
            params={"max_execution_time": "ten"})
        assert st != 200 and b"max_execution_time" in data


def test_kill_async_over_http(served):
    """KILL QUERY … ASYNC (the CH default mode) answers 'waiting'
    immediately; the victim's job group is cancelled and the registry
    drains shortly after (VERDICT r10 #6)."""
    import threading
    import time

    _eng, port = served
    result = {}

    def victim():
        try:
            with HttpClient(port=port) as c:
                result["resp"] = c.raw(
                    query="select sum(cityHash64(toString(number)) "
                          "% 1000000) as s from numbers(30000000000) "
                          "FORMAT TSV",
                    params={"query_id": "http-async-victim"})
        except Exception as e:
            result["error"] = repr(e)

    t = threading.Thread(target=victim, daemon=True)
    t.start()
    with HttpClient(port=port) as c:
        seen = False
        deadline = time.time() + 30
        while time.time() < deadline:
            _n, _t2, rows = c.execute(
                "select query_id from system.processes "
                "where query_id = 'http-async-victim'")
            if rows:
                seen = True
                break
            time.sleep(0.1)
        assert seen
        _n, _t2, krows = c.execute(
            "kill query where query_id = 'http-async-victim' async")
        assert krows == [("waiting", "http-async-victim", "default")]
        # fresh budget for the drain: the ASYNC kill's reaper re-cancels
        # until the victim exits, so this converges quickly even when
        # the kill landed before the victim's first job registered
        deadline = time.time() + 30
        while time.time() < deadline:
            _n, _t2, rows = c.execute("show processlist")
            if not rows:
                break
            time.sleep(0.1)
        assert rows == []
    t.join(60)
    assert not t.is_alive()


def test_kill_during_streamed_insert(engine, monkeypatch):
    """KILL QUERY lands BETWEEN batches of a streamed INSERT body: the
    upload aborts with an error response, the batches committed before
    the kill stay (CH per-block semantics), and nothing after the kill
    is ingested (VERDICT r10 #6)."""
    import socket
    import threading
    import time

    from tensorbase_spark.sources.httpwire import serve_http

    monkeypatch.setenv("TB_HTTP_INSERT_BATCH_BYTES", "4096")
    srv, port = serve_http(engine)
    try:
        with HttpClient(port=port) as c:
            c.execute("create table tkill (a Int64, s String)")

        # the server classifies after buffering a 64 KiB prefix — the
        # first chunk must exceed that so processing starts while the
        # transfer is still open (and it spans many 4 KiB batches)
        n_first = 8_000
        first = b"".join(b"%d,first-%d\n" % (i, i) for i in range(n_first))
        assert len(first) > (64 << 10)
        rest = b"".join(
            b"%d,late-%d\n" % (i, i) for i in range(n_first, n_first + 500))

        sk = socket.create_connection(("127.0.0.1", port), timeout=60)
        head = (
            b"POST /?query=INSERT%20INTO%20tkill%20FORMAT%20CSV"
            b"&query_id=ins-victim HTTP/1.1\r\n"
            b"Host: localhost\r\nTransfer-Encoding: chunked\r\n\r\n"
        )
        sk.sendall(head)
        sk.sendall(b"%x\r\n" % len(first) + first + b"\r\n")

        # wait until the INSERT is visible in the registry and the first
        # batches have committed, then kill it from a second connection
        deadline = time.time() + 30
        committed = 0
        with HttpClient(port=port) as c:
            while time.time() < deadline:
                _n, _t, rows = c.execute(
                    "select query_id from system.processes "
                    "where query_id = 'ins-victim'")
                _n, _t, cnt = c.execute(
                    "select count(*) as n from tkill")
                committed = cnt[0][0]
                if rows and committed > 0:
                    break
                time.sleep(0.1)
            assert committed > 0, "no batch committed before the kill"
            _n, _t, krows = c.execute(
                "kill query where query_id = 'ins-victim' async")
            assert krows == [("waiting", "ins-victim", "default")]

        # keep uploading: the server must abort at the next batch check
        sk.sendall(b"%x\r\n" % len(rest) + rest + b"\r\n0\r\n\r\n")
        resp = b""
        sk.settimeout(60)
        try:
            while b"\r\n\r\n" not in resp:
                piece = sk.recv(65536)
                if not piece:
                    break
                resp += piece
        finally:
            sk.close()
        # the recv loop stops at end-of-headers, so judge the STATUS
        # LINE (the 'cancelled' body may not have arrived yet): any
        # non-200 means the upload was aborted server-side
        status = resp.split(b"\r\n", 1)[0]
        assert status.startswith(b"HTTP/1.1 ") and b" 200" not in status

        with HttpClient(port=port) as c:
            _n, _t, cnt = c.execute(
                "select count(*) as total, "
                "sum(case when s like 'late-%' then 1 else 0 end) as late "
                "from tkill")
            total, late = cnt[0]
            assert 0 < total <= n_first  # partial commit, pre-kill only
            assert late == 0
            _n, _t, rows = c.execute("show processlist")
            assert rows == []
    finally:
        srv.shutdown()
        srv.server_close()


def test_insert_format_values_idiom(served):
    """The standard CH HTTP Values-insert: `INSERT INTO t FORMAT Values
    (…)` in the query parameter, or split with the data in the body —
    both route through the engine's VALUES parser (ADVICE r9)."""
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table tfv (a Int64, b String)")
        st, _h, _ = c.raw(query="INSERT INTO tfv FORMAT Values (1, 'x'), (2, 'y')")
        assert st == 200
        st, _h, _ = c.raw(
            query="INSERT INTO tfv (a, b) FORMAT Values",
            body=b"(3, 'z''q'), (4, concat('w', 'v'))",
        )
        assert st == 200
        _n, _t, got = c.execute("select a, b from tfv order by a")
        assert got == [(1, "x"), (2, "y"), (3, "z'q"), (4, "wv")]


def test_settings_value_quote_and_comma(served):
    """A URL parameter value containing a quote plus a comma must bind
    verbatim — the server applies settings via the parsed-value engine
    API, never by re-serializing to SQL (ADVICE r9 injection fix)."""
    eng, port = served
    with HttpClient(port=port) as c:
        st, _h, data = c.raw(
            query="select {s:String} as v FORMAT TSV",
            params={"param_s": "a',b"},
        )
        assert st == 200 and data == b"a',b\n"
    assert eng._params == {}


def test_insert_arity_mismatch_rejected(served):
    """CSV rows wider or narrower than the target column list must be
    rejected loudly with the row number, not silently truncated."""
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table tar (a Int64, b String)")
        st, _h, data = c.raw(
            query="INSERT INTO tar FORMAT CSV",
            body=b"1,x\n2,y,EXTRA\n",
        )
        assert st != 200 and b"row 2" in data and b"2 columns" in data
        st, _h, data = c.raw(
            query="INSERT INTO tar FORMAT CSV", body=b"1\n")
        assert st != 200 and b"row 1" in data
        _n, _t, got = c.execute("select count(*) as n from tar")
        assert got == [(0,)]


def test_param_binding_and_settings_restore(served):
    eng, port = served
    with HttpClient(port=port) as c:
        st, _h, data = c.raw(
            query="select {p:Int64} * 2 as v FORMAT TSV",
            params={"param_p": "21"},
        )
        assert st == 200 and data == b"42\n"
    # per-request scope: the engine's own params must not leak
    assert eng._params == {}


def test_insert_path_restores_state(served):
    """The INSERT-with-data path must restore per-request database and
    settings exactly like the SELECT path (the per-request scope
    contract)."""
    eng, port = served
    home = eng.spark.catalog.currentDatabase()
    with HttpClient(port=port) as c:
        c.raw(query="create database http_ins_db")
        try:
            c.raw(
                query="create table http_ins_db.it (a Int64)",
            )
            st, _h, _ = c.raw(
                query="INSERT INTO it (a) FORMAT JSONEachRow",
                body=b'{"a": 1}\n',
                params={"database": "http_ins_db", "param_zz": "5"},
            )
            assert st == 200
            assert eng.spark.catalog.currentDatabase() == home
            assert eng._params == {}
            _n, _t, got = c.execute(
                "select count(*) as n from http_ins_db.it")
            assert got == [(1,)]
        finally:
            c.raw(query="drop database http_ins_db")


def test_chunked_request_body(served):
    """A chunked INSERT body (no Content-Length) decodes fully — silent
    0-row inserts from streaming clients would be data loss."""
    import http.client

    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table chk (a Int64)")
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    body_iter = iter([b'{"a": 1}\n', b'{"a": 2}\n', b'{"a": 3}\n'])
    conn.request(
        "POST", "/?query=INSERT%20INTO%20chk%20(a)%20FORMAT%20JSONEachRow",
        body=body_iter, encode_chunked=True,
        headers={"Transfer-Encoding": "chunked"},
    )
    resp = conn.getresponse()
    assert resp.status == 200
    summary = json.loads(resp.getheaders()
                         and dict(resp.getheaders())["X-ClickHouse-Summary"])
    assert summary["written_rows"] == "3"
    resp.read()
    conn.close()
    with HttpClient(port=port) as c:
        assert c.execute("select sum(a) as s from chk")[2] == [(6,)]


def test_arrow_datetime_roundtrip_symmetric(served):
    """engine -> Arrow -> engine must not shift DateTime instants."""
    import pyarrow as pa

    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table adt (t DateTime)")
        c.insert_rows("adt", ["t"], [(dt.datetime(2021, 3, 4, 5, 6, 7),)])
        _st, _h, data = c.raw(query="select t from adt FORMAT ArrowStream")
        vals = pa.ipc.open_stream(data).read_all().column("t").to_pylist()
        assert vals == [dt.datetime(2021, 3, 4, 5, 6, 7)]
        # re-insert the Arrow payload: the value must come back identical
        st, _h2, _ = c.raw(
            query="INSERT INTO adt (t) FORMAT ArrowStream", body=data)
        assert st == 200
        _n, _t, got = c.execute("select t from adt order by t")
        assert got == [(dt.datetime(2021, 3, 4, 5, 6, 7),)] * 2


def test_database_param_and_session(served):
    eng, port = served
    home = eng.spark.catalog.currentDatabase()
    with HttpClient(port=port) as c:
        c.raw(query="create database http_sess_db")
        try:
            with HttpClient(port=port, session_id="sess_a") as s:
                s.raw(query="use http_sess_db")
                _n, _t, got = s.execute("select currentDatabase() as db")
                assert got == [("http_sess_db",)]
            with HttpClient(port=port, database="http_sess_db") as d:
                _n, _t, got = d.execute("select currentDatabase() as db")
                assert got == [("http_sess_db",)]
            # the shared engine state is untouched afterwards
            assert eng.spark.catalog.currentDatabase() == home
        finally:
            c.raw(query="drop database http_sess_db")


def test_errors(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        st, h, data = c.raw(query="select * from missing_table_xyz")
        assert st == 404
        assert h["X-ClickHouse-Exception-Code"] == "60"
        assert data.startswith(b"Code: 60. DB::Exception:")
        st, h, _ = c.raw(query="select 1 FORMAT NotAFormat")
        assert st == 400
        with pytest.raises(RuntimeError):
            c.execute("select * from missing_table_xyz")


def test_gzip_response_and_request(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table gz (a Int64)")
        # gzip request body
        body = gzip.compress(b'{"a": 5}\n{"a": 6}\n')
        st, _h, _ = c.raw(
            query="INSERT INTO gz (a) FORMAT JSONEachRow",
            body=body, headers={"Content-Encoding": "gzip"},
        )
        assert st == 200
        # gzip response (client's raw() un-gzips transparently)
        st, h, data = c.raw(
            query="select a from gz order by a FORMAT CSV",
            params={"enable_http_compression": "1"},
            headers={"Accept-Encoding": "gzip"},
        )
        assert st == 200 and h.get("Content-Encoding") == "gzip"
        assert data == b"5\n6\n"


def test_lz4_compress_both_directions(served):
    """``compress=1`` responses and ``decompress=1`` request bodies use
    the CH-internal LZ4 frame codec shared with the native protocol."""
    _eng, port = served
    with HttpClient(port=port, compress=True) as c:
        c.execute("create table lz (a Int64, s String)")
        c.insert_rows("lz", ["a", "s"], [(1, "x" * 200), (2, "y" * 200)])
        _n, _t, got = c.execute("select a, s from lz order by a")
        assert got[0] == (1, "x" * 200) and got[1][0] == 2
    # decompress=1: LZ4-framed INSERT body
    from tensorbase_spark.sources.chnative import compress_frame
    with HttpClient(port=port) as c:
        framed = compress_frame(b'{"a": 3, "s": "z"}\n')
        st, _h, _ = c.raw(
            query="INSERT INTO lz (a, s) FORMAT JSONEachRow",
            body=framed, params={"decompress": "1"},
        )
        assert st == 200
        assert c.execute("select count(*) as n from lz")[2] == [(3,)]


def test_lz4_response_frames_verify(served):
    """The compress=1 response body is genuine CH framing: decode it with
    the native codec's read_frame directly."""
    _eng, port = served
    with HttpClient(port=port) as c:
        st, h, raw = c.raw(
            query="select 42 as v FORMAT TSV", params={"compress": "1"})
        assert st == 200
        r = Reader(raw)
        out = bytearray()
        while not r.at_end():
            out += read_frame(r)
        assert bytes(out) == b"42\n"


def test_rowbinary_over_wire(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table rb (a Int64, b String, d Date)")
        c.insert_rows("rb", ["a", "b", "d"],
                      [(1, "x", dt.date(2020, 2, 2))])
        st, _h, data = c.raw(
            query="select a, b, d from rb FORMAT RowBinaryWithNamesAndTypes")
        names, types, rows = decode_rowbinary_with_names_and_types(data)
        assert names == ["a", "b", "d"]
        assert rows == [(1, "x", dt.date(2020, 2, 2))]


def test_native_format_over_wire(served):
    """INSERT FORMAT Native body + SELECT FORMAT Native response — the
    typed block stream both directions through the HTTP socket."""
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table nat (a Int64, s String, d Date)")
        c.insert_rows(
            "nat", ["a", "s", "d"],
            [(1, "x", dt.date(2020, 5, 5)), (2, "y\tz", dt.date(2021, 6, 6))],
            fmt="Native", ch_types=["Int64", "String", "Date"],
        )
        st, h, data = c.raw(
            query="select a, s, d from nat order by a FORMAT Native")
        assert st == 200 and h["X-ClickHouse-Format"] == "Native"
        names, types, rows = decode_native(data)
        assert names == ["a", "s", "d"]
        assert rows == [
            (1, "x", dt.date(2020, 5, 5)), (2, "y\tz", dt.date(2021, 6, 6)),
        ]


def test_arrow_formats_over_wire(served):
    """SELECT FORMAT ArrowStream/Parquet responses open with pyarrow;
    INSERT FORMAT ArrowStream body decodes into typed rows."""
    import pyarrow as pa

    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table arw (a Int64, s String, d Date)")
        # INSERT body as an Arrow IPC stream
        batch = pa.record_batch(
            {
                "a": pa.array([1, 2], pa.int64()),
                "s": pa.array(["x", "y"], pa.string()),
                "d": pa.array(
                    [dt.date(2020, 5, 5), dt.date(2021, 6, 6)], pa.date32()),
            }
        )
        sink = __import__("io").BytesIO()
        with pa.ipc.new_stream(sink, batch.schema) as w:
            w.write_batch(batch)
        st, _h, _ = c.raw(
            query="INSERT INTO arw (a, s, d) FORMAT ArrowStream",
            body=sink.getvalue(),
        )
        assert st == 200
        st, _h, data = c.raw(
            query="select a, s, d from arw order by a FORMAT ArrowStream")
        t = pa.ipc.open_stream(data).read_all()
        assert t.column("a").to_pylist() == [1, 2]
        assert t.column("d").to_pylist() == [
            dt.date(2020, 5, 5), dt.date(2021, 6, 6)]
        st, _h, data = c.raw(
            query="select count(*) as n from arw FORMAT Parquet")
        import pyarrow.parquet as pq
        tp = pq.read_table(__import__("io").BytesIO(data))
        assert tp.column("n").to_pylist() == [2]


def test_streaming_many_rows(served):
    """A result bigger than one write buffer streams out chunked."""
    _eng, port = served
    with HttpClient(port=port) as c:
        st, _h, data = c.raw(
            query="select number, number * 2 as d from numbers(50000) "
                  "FORMAT TSV")
        assert st == 200
        lines = data.decode().rstrip("\n").split("\n")
        assert len(lines) == 50000
        assert lines[0] == "0\t0" and lines[-1] == "49999\t99998"


def test_concurrent_clients(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table cc (a Int64)")
        c.insert_rows("cc", ["a"], [(i,) for i in range(100)])
    results, errors = [], []

    def worker(k):
        try:
            with HttpClient(port=port) as c:
                _n, _t, got = c.execute(
                    f"select sum(a) + {k} as s from cc")
                results.append(got[0][0])
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert sorted(results) == [4950 + k for k in range(6)]


# ---------------------------------------------------------------------------
# e2e ports of the reference's integration suite shapes, through HTTP —
# the same sanity_checks.rs / sanity_checks_mysql.rs cases the native and
# MySQL endpoints mirror, so all three protocols carry one test family
# ---------------------------------------------------------------------------


def test_http_insert_select_funky_strings(served):
    """sanity_checks_mysql.rs:65-141 shape: numeric insert-select + the
    quote-escaped funky strings, through the HTTP door."""
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table ht1 (a UInt64, b UInt8)")
        c.execute("create table ht2 (a UInt64, b UInt8)")
        c.execute("insert into ht1 values (1, 3), (2, 4), (3, 5)")
        c.execute("insert into ht2 select * from ht1")
        _n, _t, rows = c.execute("select * from ht2 order by a")
        assert [(int(a), int(b)) for a, b in rows] == [
            (1, 3), (2, 4), (3, 5)]
        c.execute("create table ht3 (a String)")
        data = ["aelvbs a1 233 🀄️", "b^&#*-['&**%%%", "c;;;;\n\t"]
        c.insert_rows("ht3", ["a"], [(s,) for s in data])
        _n, _t, rows = c.execute("select a from ht3 order by a limit 1")
        assert rows == [("aelvbs a1 233 🀄️",)]
        _n, _t, rows = c.execute("select count(*) as n from ht3")
        assert rows == [(3,)]


def test_http_partition_prune(served):
    """sanity_checks_mysql.rs:1069-1092 shape: partitioned table through
    the wire."""
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute(
            "create table hpt (a UInt64, b UInt64) "
            "engine=BaseStorage partition by a"
        )
        c.execute("insert into hpt values (1,1), (2,2)")
        _n, _t, rows = c.execute("select a from hpt where b = 1")
        assert len(rows) == 1 and int(rows[0][0]) == 1


def test_http_ddl_stress(served):
    """sanity_checks_mysql.rs DDL-stress shape: create/insert/read/drop a
    table family in a loop over one connection."""
    _eng, port = served
    with HttpClient(port=port) as c:
        for i in range(6):
            c.execute(f"create table hds_{i} (a Int64)")
            c.execute(f"insert into hds_{i} values ({i})")
        _n, cols_t, rows = c.execute("show tables")
        # Spark SHOW TABLES shape: (namespace, tableName, isTemporary)
        names = {r[1] for r in rows}
        assert {f"hds_{i}" for i in range(6)} <= names
        for i in range(6):
            _n, _t, got = c.execute(f"select a from hds_{i}")
            assert got == [(i,)]
            c.execute(f"drop table hds_{i}")
        _n, _t, rows = c.execute("show tables")
        assert not any(r[1].startswith("hds_") for r in rows)


def test_http_date_cast_filter(served):
    """sanity_checks_mysql.rs date-cast shape: Date roundtrip + filter by
    a cast literal."""
    _eng, port = served
    with HttpClient(port=port) as c:
        c.execute("create table hdt (d Date, v Int64)")
        c.execute(
            "insert into hdt values ('2020-01-01', 1), ('2021-06-15', 2)")
        _n, _t, rows = c.execute(
            "select v from hdt where d > cast('2020-12-31' as Date)")
        assert rows == [(2,)]
        _n, _t, rows = c.execute(
            "select toYYYYMM(d) as ym from hdt order by d")
        assert [int(r[0]) for r in rows] == [202001, 202106]


def test_http_uuid_and_cast_family(served):
    """sanity_checks_mysql.rs UUID/cast shapes through HTTP: UUID text
    functions and CAST to BQL type names."""
    _eng, port = served
    with HttpClient(port=port) as c:
        _n, _t, rows = c.execute(
            "select toUUID('61f0c404-5cb3-11e7-907b-a6006ad3dba0') as u")
        assert rows == [("61f0c404-5cb3-11e7-907b-a6006ad3dba0",)]
        _n, _t, rows = c.execute(
            "select cast('42' as UInt64) as a, cast(1.9 as Int32) as b, "
            "cast('2020-02-02' as Date) as d")
        assert int(rows[0][0]) == 42 and rows[0][1] == 1
        assert rows[0][2] == dt.date(2020, 2, 2)


def test_ddl_empty_body_and_summary(served):
    _eng, port = served
    with HttpClient(port=port) as c:
        st, h, data = c.raw(query="create table ddl1 (a Int64)")
        assert st == 200 and data == b""
        assert "X-ClickHouse-Summary" in h
        st, _h, data = c.raw(query="show tables FORMAT TSV")
        assert b"ddl1" in data


# ---------------------------------------------------------------------------
# the reference's sql_test_runner.rs script shape, THROUGH the HTTP door:
# one session (session_id pins USE/SET state), every statement over the
# wire, the same :expected assertions as tests/test_sql_scripts.py
# ---------------------------------------------------------------------------

_HTTP_SCRIPTS = [
    "basic_checks.sql", "cast_checks.sql", "partition_prune.sql",
    "ddl_stress.sql", "select_all_prune.sql",
]


@pytest.mark.parametrize("script", _HTTP_SCRIPTS)
def test_sql_script_over_http(served, script):
    import math
    import pathlib

    from tests.test_sql_scripts import parse_script

    def _norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6g}"
        if isinstance(v, Decimal):
            return f"{float(v):.6g}"
        return str(v)

    _eng, port = served
    path = pathlib.Path(__file__).parent / "sql_scripts" / script
    blocks = parse_script(path.read_text())
    with HttpClient(port=port, session_id=f"script_{script}") as c:
        for i, (expected, expect_error, stmt) in enumerate(blocks):
            if expect_error:
                with pytest.raises(RuntimeError):
                    c.execute(stmt)
                continue
            try:
                _n, _t, rows = c.execute(stmt)
            except RuntimeError as e:
                raise AssertionError(
                    f"{script} statement#{i} failed over HTTP: {e}\n{stmt}"
                ) from e
            if expected is not None:
                got = sorted(",".join(_norm(x) for x in r) for r in rows)
                want = sorted(e.replace(", ", ",") for e in expected)
                assert got == want, (
                    f"{script} statement#{i} over HTTP:\n{stmt}\n"
                    f"expected {want}\n     got {got}"
                )


def test_concurrent_sessions_and_inserts_stress(served):
    """Race the per-request state machinery: parallel clients with
    DISTINCT session databases interleave USE-dependent selects, data
    inserts, and settings-scoped reads; every thread must see exactly
    its own state (the lock serializes engine mutation, streaming runs
    outside it)."""
    eng, port = served
    home = eng.spark.catalog.currentDatabase()
    with HttpClient(port=port) as c:
        for i in range(3):
            c.raw(query=f"create database http_race_{i}")
            c.raw(query=f"create table http_race_{i}.t (a Int64)")
    errors = []

    def worker(i):
        try:
            with HttpClient(port=port, session_id=f"race_{i}") as c:
                c.raw(query=f"use http_race_{i}")
                for k in range(5):
                    c.raw(
                        query="INSERT INTO t (a) FORMAT JSONEachRow",
                        body=f'{{"a": {i * 100 + k}}}\n'.encode(),
                    )
                    _n, _t, got = c.execute(
                        "select count(*) as n, max(a) as m, "
                        "currentDatabase() as db from t")
                    n, m, db = got[0]
                    assert db == f"http_race_{i}", (i, db)
                    assert n == k + 1 and m == i * 100 + k, (i, k, got)
        except Exception as e:
            errors.append((i, repr(e)))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert eng.spark.catalog.currentDatabase() == home
    with HttpClient(port=port) as c:
        for i in range(3):
            _n, _t, got = c.execute(
                f"select count(*) as n from http_race_{i}.t")
            assert got == [(5,)]
            c.raw(query=f"drop database http_race_{i}")
