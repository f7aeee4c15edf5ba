"""Property-based tests (hypothesis) for the pure-Python layers: the dialect
translator and the BQL type mapper.  These are the layers where a parser edge
case silently corrupts queries, so they get generative coverage on top of the
golden tests.  The partition-pruning rewrite gets the same treatment end to
end: random WHEREs over a partitioned table must answer like its plain copy.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from hypothesis import given, settings, strategies as st

from tensorbase_spark.engine import translate_sql
from tensorbase_spark.functions import clickhouse as ch
from tensorbase_spark.types import parse_bql_type

_ident = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
_mapped_fn = st.sampled_from(
    ["toYear", "toMonth", "toDayOfWeek", "toYYYYMMDD", "log", "strpos",
     "to_hex", "sha512", "endsWith", "lower", "abs", "unknown_fn"]
)


@given(
    st.lists(st.tuples(_mapped_fn, _ident), min_size=1, max_size=5),
    st.text(alphabet="abc()'%,. ", max_size=20),
)
@settings(max_examples=200, deadline=None)
def test_translate_sql_idempotent_and_literal_safe(calls, lit):
    frags = [f"{fn}({arg})" for fn, arg in calls]
    lit_sql = "'" + lit.replace("'", "") + "'"
    sql = f"select {', '.join(frags)}, {lit_sql} from t"
    once = translate_sql(sql)
    # translating already-translated SQL must be a fixpoint
    assert translate_sql(once) == once
    # string literals survive verbatim
    assert lit_sql in once


@given(st.sampled_from(["UInt8", "UInt16", "UInt32", "UInt64"]))
def test_unsigned_types_hold_full_range(name):
    import pyspark.sql.types as T

    p = parse_bql_type(name)
    bits = int(name[4:])
    maxval = 2**bits - 1
    # the mapped signed/decimal type must represent the unsigned max exactly
    ranges = {
        T.ShortType(): 2**15 - 1, T.IntegerType(): 2**31 - 1,
        T.LongType(): 2**63 - 1, T.DecimalType(20, 0): 10**20 - 1,
    }
    assert ranges[p.spark_type] >= maxval


@given(st.sampled_from(["Int32", "Float64", "String", "Date", "DateTime", "UUID"]))
def test_nullable_wrapping(name):
    inner = parse_bql_type(name)
    outer = parse_bql_type(f"Nullable({name})")
    assert outer.spark_type == inner.spark_type
    assert outer.nullable and not inner.nullable


@given(st.dates(min_value=dt.date(1970, 1, 1), max_value=dt.date(2105, 12, 31)))
@settings(max_examples=300, deadline=None)
def test_partition_key_python_mirror(d):
    """The driver-side ptk evaluators in engine.py must agree with the
    reference semantics toYYYYMMDD(d) = y*10000+m*100+d (write.rs:548-571
    golden: toYYYYMMDD(epoch 0) == 19700101)."""
    from tensorbase_spark.engine import _MONOTONIC_PTK_FNS

    assert _MONOTONIC_PTK_FNS["toYYYYMMDD"](d) == d.year * 10000 + d.month * 100 + d.day
    assert _MONOTONIC_PTK_FNS["toYYYYMM"](d) == d.year * 100 + d.month
    assert _MONOTONIC_PTK_FNS["toYear"](d) == d.year


def test_ptk_spark_python_agreement(spark):
    """Spark-evaluated CH_FUNCTIONS ptk columns == Python evaluators on a
    deterministic 400-date sweep (the two sides of partition pruning)."""
    from pyspark.sql import functions as F
    from tensorbase_spark.engine import _MONOTONIC_PTK_FNS

    dates = [dt.date(1970, 1, 1) + dt.timedelta(days=37 * i) for i in range(400)]
    df = spark.createDataFrame([(d,) for d in dates], "d: date")
    got = df.select(
        "d",
        ch.CH_FUNCTIONS["toYYYYMMDD"](F.col("d")).cast("long").alias("ymd"),
        ch.CH_FUNCTIONS["toYYYYMM"](F.col("d")).cast("long").alias("ym"),
        ch.CH_FUNCTIONS["toYear"](F.col("d")).cast("long").alias("y"),
    ).collect()
    for r in got:
        assert r.ymd == _MONOTONIC_PTK_FNS["toYYYYMMDD"](r.d)
        assert r.ym == _MONOTONIC_PTK_FNS["toYYYYMM"](r.d)
        assert r.y == _MONOTONIC_PTK_FNS["toYear"](r.d)


@given(
    st.integers(min_value=-50, max_value=50),
    st.integers(min_value=1, max_value=60),
    st.integers(min_value=1, max_value=7),
)
@settings(max_examples=100, deadline=None)
def test_with_fill_domain_arithmetic(frm, span, step):
    """The fill-domain extractor must parse any FROM/TO/STEP combination and
    preserve the base SQL byte-for-byte."""
    from tensorbase_spark.engine import _extract_with_fill

    to = frm + span
    base = "select d, n from t group by d"
    got = _extract_with_fill(
        f"{base} order by d with fill from {frm} to {to} step {step}"
    )
    assert got is not None
    b, col, desc, f_, t_, s_, interp = got
    assert (b, col, desc, f_, t_, s_, interp) == (base, "d", False, frm, to, step, [])
    # expected fill values, CH contract: FROM inclusive, TO exclusive
    expected = list(range(frm, to, step))
    assert all(frm <= v < to for v in expected)


@given(st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True))
@settings(max_examples=100, deadline=None)
def test_sample_rewrite_ident_safe(tbl):
    """SAMPLE parsing must never fire on identifiers that merely contain
    'sample', and fraction forms 0.25 and 1/4 must parse identically."""
    from tensorbase_spark.engine import _SAMPLE_RE

    assert _SAMPLE_RE.search(f"select * from {tbl}_sample where x = 1") is None
    m1 = _SAMPLE_RE.search(f"select * from {tbl} sample 0.25")
    m2 = _SAMPLE_RE.search(f"select * from {tbl} sample 1/4")
    assert m1 and m2 and m1.group("tbl") == tbl == m2.group("tbl")


@given(st.lists(st.sampled_from(["countEqual", "arrayProduct", "bitTest",
                                 "locate", "exp2", "ord", "mid"]),
                min_size=1, max_size=4))
@settings(max_examples=100, deadline=None)
def test_tier3_templates_fixpoint(fns):
    sql = "select " + ", ".join(f"{f}(a, b)" for f in fns) + " from t"
    once = translate_sql(sql)
    assert translate_sql(once) == once


# --- native wire codec properties (sources/chnative.py) --------------------
# Pure-Python layer, so hypothesis can hammer it without a SparkSession.

_WIRE_VALUE_STRATEGIES = [
    ("Int8", st.integers(-128, 127)),
    ("Int64", st.integers(-(2**63), 2**63 - 1)),
    ("UInt64", st.integers(0, 2**64 - 1)),
    ("Float64", st.floats(allow_nan=False, allow_infinity=False, width=64)),
    ("String", st.text(max_size=40)),
    ("Nullable(Int64)", st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1))),
    ("Nullable(String)", st.one_of(st.none(), st.text(max_size=20))),
    ("Array(Int64)", st.lists(st.integers(-(2**63), 2**63 - 1), max_size=8)),
    ("Array(String)", st.lists(st.text(max_size=10), max_size=6)),
]


@given(
    st.integers(0, len(_WIRE_VALUE_STRATEGIES) - 1).flatmap(
        lambda i: st.tuples(
            st.just(_WIRE_VALUE_STRATEGIES[i][0]),
            st.lists(_WIRE_VALUE_STRATEGIES[i][1], min_size=1, max_size=20),
        )
    )
)
@settings(max_examples=200, deadline=None)
def test_wire_column_codec_roundtrip_property(tv):
    """encode_column -> decode_column is the identity for every supported
    type, arbitrary values, arbitrary row counts."""
    from tensorbase_spark.sources.chnative import Block, Reader

    ch_type, values = tv
    blk = Block([("c", ch_type, values)], bucket=0)
    got = Block.decode_body(Reader(blk.encode_body()))
    assert got.columns[0] == ("c", ch_type, values)


@given(st.binary(max_size=4096))
@settings(max_examples=200, deadline=None)
def test_wire_frame_roundtrip_property(payload):
    """compress_frame -> read_frame is the identity for arbitrary bytes
    (LZ4 literals encode + full-grammar decode + CityHash verification),
    and any single-byte corruption of a non-empty frame is caught."""
    from tensorbase_spark.sources.chnative import Reader, compress_frame, read_frame

    frame = compress_frame(payload)
    assert read_frame(Reader(frame)) == payload


@given(st.binary(min_size=1, max_size=512), st.integers())
@settings(max_examples=100, deadline=None)
def test_wire_frame_corruption_detected(payload, flip_seed):
    import pytest as _pytest

    from tensorbase_spark.sources.chnative import Reader, compress_frame, read_frame

    frame = bytearray(compress_frame(payload))
    # flip one bit somewhere in the LZ4 body (past the 25-byte header) so
    # sizes stay plausible and the checksum must be what catches it
    pos = 25 + (flip_seed % (len(frame) - 25))
    frame[pos] ^= 0x01
    with _pytest.raises(ValueError):
        read_frame(Reader(bytes(frame)))


@given(st.integers(0, 2**64 - 1))
@settings(max_examples=300, deadline=None)
def test_wire_varint_roundtrip_property(v):
    from tensorbase_spark.sources.chnative import Reader, write_varint

    out = bytearray()
    write_varint(out, v)
    r = Reader(bytes(out))
    assert r.read_varint() == v and r.at_end()


def test_wire_empty_varbytes_golden():
    """messages.rs:741-748 test_write_bytes: empty varbytes encodes as one
    zero byte."""
    from tensorbase_spark.sources.chnative import write_varbytes

    out = bytearray()
    write_varbytes(out, b"")
    assert bytes(out) == b"\x00"


# ---------------------------------------------------------------------------
# HTTP format codecs (sources/httpwire.py) — encode/decode round trips
# ---------------------------------------------------------------------------


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_http_tsv_escape_roundtrip(s):
    from tensorbase_spark.sources.httpwire import tsv_escape, tsv_unescape

    assert tsv_unescape(tsv_escape(s)) == s


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.one_of(st.none(), st.text(max_size=40)),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.dates(min_value=dt.date(1970, 1, 1),
                     max_value=dt.date(2149, 6, 6)),
            st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                     max_size=5),
        ),
        max_size=20,
    )
)
@settings(max_examples=80, deadline=None)
def test_http_rowbinary_property_roundtrip(rows):
    from tensorbase_spark.sources.httpwire import (
        decode_rowbinary_with_names_and_types,
        encode_rows,
    )

    names = ["a", "s", "f", "d", "arr"]
    types = ["Int64", "Nullable(String)", "Float64", "Date", "Array(Int32)"]
    payload = b"".join(
        encode_rows("RowBinaryWithNamesAndTypes", names, types, iter(rows))
    )
    got_names, got_types, got = decode_rowbinary_with_names_and_types(payload)
    assert got_names == names and got_types == types
    assert [tuple(r) for r in got] == [
        (a, s, f, d, list(arr)) for a, s, f, d, arr in rows
    ]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.one_of(st.none(), st.text(max_size=40)),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
        max_size=20,
    )
)
@settings(max_examples=80, deadline=None)
def test_http_native_format_property_roundtrip(rows):
    from tensorbase_spark.sources.httpwire import decode_native, encode_rows

    names = ["a", "s", "f"]
    types = ["Int64", "Nullable(String)", "Float64"]
    payload = b"".join(encode_rows("Native", names, types, iter(rows)))
    got_names, got_types, got = decode_native(payload)
    assert got_names == names
    assert [tuple(r) for r in got] == [tuple(r) for r in rows]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.one_of(
                st.none(),
                # \r excluded: universal-newline ambiguity in the csv
                # module; a bare "\N" string is CH's unquoted NULL token
                st.text(max_size=40).filter(
                    lambda s: "\r" not in s and s != "\\N"),
            ),
        ),
        max_size=20,
    )
)
@settings(max_examples=100, deadline=None)
def test_http_csv_body_roundtrip(rows):
    """CSV INSERT-body decode inverts the CSV encoder, including quoted
    fields that embed commas, quotes, and NEWLINES (stateful csv parse,
    not a splitlines)."""
    from tensorbase_spark.sources.httpwire import (
        decode_body_rows,
        encode_rows,
    )

    names, types = ["a", "s"], ["Int64", "Nullable(String)"]
    payload = b"".join(encode_rows("CSV", names, types, iter(rows)))
    got, _names = decode_body_rows("CSV", payload)
    assert [(int(r[0]), r[1]) for r in got] == [tuple(r) for r in rows]


@given(
    st.lists(
        st.lists(
            st.text(
                alphabet=st.sampled_from(list('ab,"\n\'x0 ')),
                max_size=8,
            ),
            min_size=1,
            max_size=3,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(1, 64),
    st.integers(1, 24),
)
@settings(max_examples=150, deadline=None)
def test_line_batcher_parses_like_csv_module(rows, batch_bytes, cut):
    """_LineBatcher's C-speed boundary scan must agree with Python's
    stateful csv parser for ANY field content — embedded newlines,
    doubled quotes, and stray quotes inside unquoted fields — at any
    batch size and any transport split point: re-parsing the batches
    independently yields exactly the whole-document parse (ADVICE r10)."""
    import csv
    import io

    from tensorbase_spark.sources.httpwire import _LineBatcher

    out = io.StringIO()
    csv.writer(out, lineterminator="\n").writerows(rows)
    src = out.getvalue().encode()
    # sprinkle stray (unquoted) quotes after a non-delimiter byte: the
    # csv module treats them as literal field bytes
    src = src.replace(b"x", b'x"')
    expect = list(csv.reader(io.StringIO(src.decode())))

    b = _LineBatcher(True, batch_bytes=batch_bytes)
    pieces = [src[i:i + cut] for i in range(0, len(src), cut)]
    batches = []
    for p in pieces:
        batches.extend(b.feed(p))
    batches.extend(b.finish())
    assert b"".join(batches) == src
    got = []
    for chunk in batches:
        got.extend(csv.reader(io.StringIO(chunk.decode())))
    assert got == expect


# -- partition pruning: a partitioned table answers like an unpartitioned one

_PRUNE_ROWS = [
    (a, (a * a) % 13, dt.date(2024, 1, 1) + dt.timedelta(days=2 * (a + 20)))
    for a in range(-20, 21)
]
_PRUNE_TABLES = {  # name -> PARTITION BY clause; "pu" is the plain copy
    "pr": "partition by rem(a, 7)",
    "pm": "partition by toYYYYMM(d)",
    "pu": "",
}
_CMP_OPS = ("=", "<", "<=", ">", ">=", "!=", "<>")


def _rand_where(rng, depth: int = 0) -> str:
    """A random WHERE over (a, b, d): source-column comparisons, BETWEEN,
    IN, arithmetic, both tables' partition expressions, joined by
    and/or/not with and without parentheses."""
    if depth < 3 and rng.random() < 0.55:
        kind = rng.choice(("and", "or", "not"))
        left = _rand_where(rng, depth + 1)
        if kind == "not":
            return f"not ({left})" if rng.random() < 0.5 else f"not {left}"
        right = _rand_where(rng, depth + 1)
        if rng.random() < 0.5:
            left, right = f"({left})", f"({right})"
        return f"{left} {kind} {right}"
    k = rng.randint(-25, 25)

    def day() -> str:
        return f"'2024-0{rng.randint(1, 3)}-{rng.randint(1, 28):02d}'"

    ints = ", ".join(str(rng.randint(-25, 25)) for _ in range(3))
    atoms = (
        f"a {rng.choice(_CMP_OPS)} {k}",
        f"b {rng.choice(_CMP_OPS)} {rng.randint(0, 12)}",
        f"a {rng.choice(('', 'not '))}between {k} and {k + rng.randint(0, 12)}",
        f"a {rng.choice(('in', 'not in'))} ({ints})",
        f"rem(a, 7) {rng.choice(_CMP_OPS)} {rng.randint(-7, 7)}",
        f"a % 7 in ({rng.randint(-6, 6)}, {rng.randint(-6, 6)})",
        f"a = {k} + {rng.randint(-5, 5)}",
        f"d {rng.choice(_CMP_OPS)} {day()}",
        f"d between {day()} and {day()}",
        f"toYYYYMM(d) {rng.choice(_CMP_OPS)} 20240{rng.randint(1, 3)}",
    )
    return rng.choice(atoms)


def _prune_tables(eng, prefix: str = "") -> None:
    values = ", ".join(f"({a}, {b}, '{d}')" for a, b, d in _PRUNE_ROWS)
    for name, part in _PRUNE_TABLES.items():
        eng.sql(f"drop table if exists {prefix}{name}")
        eng.sql(f"create table {prefix}{name} (a Int64, b Int64, d Date) {part}")
        eng.sql(f"insert into {prefix}{name} values {values}")


@pytest.fixture(scope="module")
def prune_engine(spark):
    import uuid

    from tensorbase_spark.engine import TensorBaseEngine

    eng = TensorBaseEngine(spark)
    db = f"prop_{uuid.uuid4().hex[:8]}"
    eng.sql(f"create database {db}")
    eng.sql(f"use {db}")
    _prune_tables(eng)
    yield eng
    spark.catalog.setCurrentDatabase("default")
    eng.sql(f"drop database if exists {db}")


def _rows(eng, sql: str) -> list[tuple]:
    return sorted(tuple(r) for r in eng.sql(sql).collect())


@given(st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=40, deadline=None, derandomize=True)
def test_partition_prune_matches_unpartitioned(prune_engine, seed):
    where = _rand_where(random.Random(seed))
    want = _rows(prune_engine, f"select a, b, d from pu where {where}")
    for t in ("pr", "pm"):
        got = _rows(prune_engine, f"select a, b, d from {t} where {where}")
        assert got == want, (t, where)


def test_partition_prune_property_exercises_pruning(prune_engine):
    """The random WHEREs above do reach the __ptk rewrite on both tables."""
    from tensorbase_spark.engine import PTK_COL

    for t in ("pr", "pm"):
        hits = sum(
            PTK_COL in prune_engine._translate_query(
                f"select a from {t} where {_rand_where(random.Random(s))}")
            for s in range(200)
        )
        assert hits >= 20, (t, hits)


@given(st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=5, deadline=None, derandomize=True)
def test_alter_delete_partitioned_matches_unpartitioned(prune_engine, seed):
    where = _rand_where(random.Random(seed))
    _prune_tables(prune_engine, "del_")
    left = {}
    for t in _PRUNE_TABLES:
        prune_engine.sql(f"alter table del_{t} delete where {where}")
        left[t] = _rows(prune_engine, f"select a, b, d from del_{t}")
    assert left["pr"] == left["pu"] and left["pm"] == left["pu"], where
