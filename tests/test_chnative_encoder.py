"""The columnar native encoder against the per-value encoder it replaced.

``_oracle_*`` below is the previous ``chnative`` encoder, kept verbatim as
a test-local oracle: one ``struct.pack`` per value.  The properties:

- ``encode_block`` on Python lists gives the oracle's bytes, and the
  bytes decode back (``decode_block``/``decode_column``) to the values a
  server would store;
- Arrow arrays of the types Spark hands ``mapInArrow`` (int32 into
  UInt16, float32, date32, UTC timestamps, decimal(20,0), sliced arrays
  with NULLs) encode to the oracle's bytes for the same Python values;
- values the wire type cannot hold raise in both encoders: an oversize
  FixedString, an out-of-range or negative int, and a finite float that
  overflows Float32.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import struct

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from grower_spark.sinks.chnative import (
    REV_BLOCK_INFO,
    ProtocolError,
    Reader,
    decode_block,
    decode_column,
    encode_block,
    encode_column,
    write_string,
    write_varint,
)

# --- the previous per-value encoder (oracle) --------------------------------

_FIXED_FMT = {
    "UInt8": "<B", "UInt16": "<H", "UInt32": "<I", "UInt64": "<Q",
    "Int8": "<b", "Int16": "<h", "Int32": "<i", "Int64": "<q",
    "Float32": "<f", "Float64": "<d",
    "Date": "<H",
    "DateTime": "<I",
}


def _oracle_value(t: str, v) -> bytes:
    if t == "String":
        return write_string("" if v is None else
                            (v if isinstance(v, (str, bytes)) else str(v)))
    if t.startswith("FixedString("):
        n = int(t[len("FixedString("):-1])
        b = (v or "").encode("utf-8") if not isinstance(v, bytes) else v
        if len(b) > n:
            raise ProtocolError(f"value of {len(b)} bytes too large for {t}")
        return b.ljust(n, b"\x00")
    fmt = _FIXED_FMT[t]
    if v is None:
        v = 0
    if t == "DateTime" and hasattr(v, "timestamp"):
        if getattr(v, "tzinfo", None) is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        v = int(v.timestamp())
    if t == "Date" and hasattr(v, "toordinal"):
        v = v.toordinal() - 719163
    if t.startswith(("UInt", "Int", "Date")):
        v = int(v)
    return struct.pack(fmt, v)


def _oracle_column(t: str, values) -> bytes:
    if t.startswith("Nullable("):
        inner = t[len("Nullable("):-1]
        return (bytes(1 if v is None else 0 for v in values)
                + _oracle_column(inner, values))
    return b"".join(_oracle_value(t, v) for v in values)


def _oracle_block(columns, revision: int) -> bytes:
    out = b""
    if revision >= REV_BLOCK_INFO:
        out += write_varint(1) + b"\x00"
        out += write_varint(2) + struct.pack("<i", -1)
        out += write_varint(0)
    n_rows = len(columns[0][2]) if columns else 0
    out += write_varint(len(columns)) + write_varint(n_rows)
    for name, t, values in columns:
        out += write_string(name) + write_string(t) + _oracle_column(t, values)
    return out


# --- strategies ---------------------------------------------------------------

_INT_BOUNDS = {
    "UInt8": (0, 2**8 - 1), "UInt16": (0, 2**16 - 1),
    "UInt32": (0, 2**32 - 1), "UInt64": (0, 2**64 - 1),
    "Int8": (-2**7, 2**7 - 1), "Int16": (-2**15, 2**15 - 1),
    "Int32": (-2**31, 2**31 - 1), "Int64": (-2**63, 2**63 - 1),
}
_F32_MAX = struct.unpack("<f", b"\xff\xff\x7f\x7f")[0]
_STRING_LENGTHS = (0, 1, 127, 128, 16383, 16384)


def _ints(t):
    lo, hi = _INT_BOUNDS[t]
    return st.one_of(st.sampled_from([lo, hi, 0, lo + 1, hi - 1]),
                     st.integers(lo, hi))


_strings = st.one_of(
    st.text(max_size=40),  # multi-byte UTF-8 included
    st.sampled_from(_STRING_LENGTHS).map(lambda n: "é" * (n // 2) + "x" * (n % 2)),
    st.sampled_from(_STRING_LENGTHS).map(lambda n: "x" * n),
    st.text(max_size=40).map(str.encode),  # bytes values pass through
)
_naive_datetimes = st.datetimes(
    min_value=dt.datetime(1970, 1, 2), max_value=dt.datetime(2106, 2, 5))
_offsets = st.integers(-14 * 60, 14 * 60).map(
    lambda m: dt.timezone(dt.timedelta(minutes=m)))
_aware_datetimes = st.builds(lambda d, tz: d.replace(tzinfo=tz),
                             _naive_datetimes, _offsets)
_dates = st.dates(min_value=dt.date(1970, 1, 1), max_value=dt.date(2149, 6, 6))

_VALUES = {
    "String": _strings,
    "FixedString(16)": st.text(max_size=4),  # at most 16 UTF-8 bytes
    "Float32": st.one_of(st.floats(-_F32_MAX, _F32_MAX),
                         st.sampled_from([0.1, 1 / 3, 2.0**-149, -0.0, _F32_MAX]),
                         st.floats(allow_nan=True, allow_infinity=True).filter(
                             lambda f: not math.isfinite(f))),
    "Float64": st.floats(),
    "DateTime": st.one_of(_naive_datetimes, _aware_datetimes,
                          st.integers(0, 2**32 - 1)),
    "Date": st.one_of(_dates, st.integers(0, 2**16 - 1)),
    **{t: _ints(t) for t in _INT_BOUNDS},
}
_TYPES = sorted(_VALUES)


@st.composite
def _blocks(draw):
    n_rows = draw(st.integers(0, 30))
    cols = []
    for i, t in enumerate(draw(st.lists(st.sampled_from(_TYPES), min_size=1,
                                        max_size=5))):
        nullable = draw(st.booleans())
        # None in a non-Nullable column encodes as the zero value
        vals = st.one_of(st.none(), _VALUES[t]) if draw(st.booleans()) else _VALUES[t]
        values = draw(st.lists(vals, min_size=n_rows, max_size=n_rows))
        cols.append((f"c{i}", f"Nullable({t})" if nullable else t, values))
    return cols


def _stored(t: str, v):
    """What a server stores for Python value ``v`` in a ``t`` column, as
    ``decode_column`` reads it back."""
    if t.startswith("Nullable("):
        return None if v is None else _stored(t[len("Nullable("):-1], v)
    if t == "String" or t.startswith("FixedString("):
        b = b"" if v is None else v if isinstance(v, bytes) else v.encode()
        s = b.decode("utf-8")
        return s.rstrip("\x00") if t.startswith("FixedString(") else s
    if t.startswith("Float"):
        fmt = _FIXED_FMT[t]
        return struct.unpack(fmt, struct.pack(fmt, v or 0.0))[0]
    return struct.unpack(_FIXED_FMT[t], _oracle_value(t, v))[0]


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return a == b


# --- properties ---------------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(_blocks())
def test_block_bytes_match_oracle_and_round_trip(cols):
    body = encode_block(cols, REV_BLOCK_INFO)
    assert body == _oracle_block(cols, REV_BLOCK_INFO)
    for name, t, values in cols:
        assert encode_column(t, values) == _oracle_column(t, values)
    decoded = decode_block(Reader(data=body), REV_BLOCK_INFO)
    assert [(n, t) for n, t, _ in decoded] == [(n, t) for n, t, _ in cols]
    for (_, t, values), (_, _, got) in zip(cols, decoded):
        want = [_stored(t, v) for v in values]
        assert all(_same(w, g) for w, g in zip(want, got)), (t, values, got)


def _decode_one(t: str, values) -> list:
    return decode_column(t, len(values), Reader(data=encode_column(t, values)))


@pytest.mark.parametrize("n", _STRING_LENGTHS)
def test_string_length_prefix_boundaries(n):
    values = ["x" * n, "é" * n, "", None]
    assert encode_column("String", values) == _oracle_column("String", values)
    assert _decode_one("String", values) == ["x" * n, "é" * n, "", ""]


# Arrow arrays shaped like Spark's mapInArrow batches: (ClickHouse type,
# Arrow type, strategy of Python values the Arrow type holds)
_ARROW_CASES = [
    ("Int8", pa.int8(), _ints("Int8")),
    ("Int16", pa.int16(), _ints("Int16")),
    ("Int32", pa.int32(), _ints("Int32")),
    ("Int64", pa.int64(), _ints("Int64")),
    ("UInt8", pa.int16(), _ints("UInt8")),      # caster widening
    ("UInt16", pa.int32(), _ints("UInt16")),
    ("UInt32", pa.int64(), _ints("UInt32")),
    ("UInt64", pa.decimal128(20, 0), _ints("UInt64")),
    ("Float32", pa.float32(), st.floats(width=32)),
    ("Float32", pa.float64(), st.floats(-_F32_MAX, _F32_MAX)),
    ("Float64", pa.float64(), st.floats()),
    ("String", pa.string(), st.text(max_size=30)),
    ("String", pa.large_binary(), st.binary(max_size=30)),
    ("FixedString(8)", pa.string(), st.text(max_size=2)),
    ("Date", pa.date32(), _dates),
    ("DateTime", pa.timestamp("us", tz="UTC"), _aware_datetimes),
    ("DateTime", pa.timestamp("us"), _naive_datetimes),
    ("Int32", pa.float64(), st.floats(-2.0**31, 2.0**31 - 1)),  # int() truncation
    ("UInt8", pa.bool_(), st.booleans()),
]


@settings(max_examples=40, deadline=None)
@given(data=st.data())
@pytest.mark.parametrize("ch_type,arrow_type,values", _ARROW_CASES,
                         ids=[f"{c[0]}<-{c[1]}" for c in _ARROW_CASES])
def test_arrow_input_matches_oracle(ch_type, arrow_type, values, data):
    """Arrow input, sliced so that offsets and validity bitmaps start
    mid-byte, encodes to the oracle's bytes for the same Python values."""
    vals = data.draw(st.lists(st.one_of(st.none(), values), max_size=40))
    lo = data.draw(st.integers(0, 9))
    if pa.types.is_decimal(arrow_type):
        py = [None if v is None else decimal.Decimal(v) for v in vals]
    elif pa.types.is_timestamp(arrow_type) and arrow_type.tz:
        # Spark's batches carry UTC instants; pa.array does not convert
        # fixed-offset datetimes itself
        py = [None if v is None else v.astimezone(dt.timezone.utc) for v in vals]
    else:
        py = vals
    arr = pa.array([None] * lo + py, arrow_type).slice(lo)
    for t in (ch_type, f"Nullable({ch_type})"):
        assert encode_column(t, arr) == _oracle_column(t, vals), t


@pytest.mark.parametrize("t", ["String", "FixedString(2)", "UInt16", "Float32",
                               "Date", "DateTime"])
def test_all_null_arrow_column(t):
    """A Spark NullType column arrives as an Arrow NullArray (no buffers)."""
    for typ in (t, f"Nullable({t})"):
        assert encode_column(typ, pa.nulls(3)) == _oracle_column(typ, [None] * 3)


@pytest.mark.parametrize("t,bad", [
    ("FixedString(3)", "abcd"),
    ("FixedString(3)", "ééé"),  # 3 characters, 6 UTF-8 bytes
    ("UInt8", 256),
    ("UInt32", -1),
    ("UInt64", 2**64),
    ("Int8", -129),
    ("Int64", 2**63),
    ("Date", 2**16),
    ("DateTime", dt.datetime(1969, 12, 31, 23, 0)),
    ("Float32", 3.5e38),
    ("Float32", -1e39),
])
def test_unrepresentable_values_raise_like_oracle(t, bad):
    with pytest.raises((ProtocolError, struct.error, OverflowError)):
        _oracle_column(t, [bad])
    for typ in (t, f"Nullable({t})"):
        with pytest.raises(ProtocolError):
            encode_column(typ, ["ok" if "String" in t else 0, bad])


@pytest.mark.parametrize("ch_type,arrow", [
    ("UInt16", pa.array([1, 70000], pa.int32())),
    ("UInt32", pa.array([-1], pa.int64())),
    ("UInt64", pa.array([decimal.Decimal(-1)], pa.decimal128(20, 0))),
    ("UInt64", pa.array([decimal.Decimal(2**64)], pa.decimal128(20, 0))),
    ("Float32", pa.array([1e39], pa.float64())),
    ("FixedString(2)", pa.array(["abc"])),
])
def test_unrepresentable_arrow_values_raise(ch_type, arrow):
    with pytest.raises(ProtocolError):
        encode_column(ch_type, arrow)


def test_float32_rounds_like_struct():
    values = [0.1, 1 / 3, 16777217.0, 1e-46, _F32_MAX * (1 + 2**-25)]
    assert encode_column("Float32", values) == _oracle_column("Float32", values)
