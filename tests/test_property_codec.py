"""Property fuzz of the binary row-image codec (P4/P5, SURVEY §1.4).

test_binary_codec pins the reference's own boundary fixture
(sql/informixcdc_test.sql); this suite fuzzes the full value space —
random values of every supported wire type, random NULL placement —
and requires exact roundtrip through encode_row_image/decode_row_image.
Pure Python (no Spark jobs), so the example budget is cheap.
Derandomized like the rest of the property suite.
"""

from __future__ import annotations

import datetime as dt
import string
from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from informixcdc_spark.cdc.binary import decode_row_image, encode_row_image
from informixcdc_spark.cdc.typemap import parse_ddl
from tests.conftest import examples, iterations  # noqa: E402

DDL = (
    "c_serial8 serial8, c_int8 int8, c_bigint bigint, c_char char(16), "
    "c_date date, c_datetime datetime year to fraction, "
    "c_decimal decimal(32,16), c_float float, c_integer integer, "
    "c_smallfloat smallfloat, c_smallint smallint, "
    "c_varchar varchar(255,16), c_lvarchar lvarchar(256), c_bool boolean, "
    "c_interval interval day(5) to fraction(5), "
    "c_interval_ym interval year(6) to month"
)
COLS = parse_ddl(DDL)

_I64 = 9223372036854775807
_ASCII = string.ascii_letters + string.digits + string.punctuation

# CHAR(16): fixed 16-byte field, space-padded; generate ascii with no
# trailing space (padding makes trailing spaces unobservable by design)
_char16 = (
    st.text(alphabet=_ASCII + " ", max_size=16)
    .map(lambda s: s.rstrip(" "))
)
# VARCHAR/LVARCHAR: length-prefixed UTF-8; cap the BYTE length
_text = st.text(max_size=60).filter(lambda s: len(s.encode()) <= 240)

_STRATS = {
    "c_serial8": st.integers(-_I64, _I64),
    "c_int8": st.integers(-_I64, _I64),
    "c_bigint": st.integers(-_I64, _I64),
    "c_char": _char16,
    "c_date": st.dates(dt.date(1900, 1, 1), dt.date(2199, 12, 31)),
    "c_datetime": st.datetimes(
        dt.datetime(1900, 1, 1), dt.datetime(2199, 12, 31, 23, 59, 59, 999999)
    ),
    # decimal(32,16): any value with <= 16 integer and exactly 16
    # fractional digits — generated as a scaled 32-digit integer
    "c_decimal": st.integers(-(10**32 - 1), 10**32 - 1).map(
        lambda n: Decimal(n).scaleb(-16)
    ),
    "c_float": st.floats(allow_nan=False, allow_infinity=False, width=64),
    "c_integer": st.integers(-2147483647, 2147483647),
    "c_smallfloat": st.floats(allow_nan=False, allow_infinity=False, width=32),
    "c_smallint": st.integers(-32767, 32767),
    "c_varchar": _text,
    "c_lvarchar": _text,
    "c_bool": st.booleans(),
    # day-time interval: signed micros span, ±~292k years fits int64;
    # bound to ±10^5 days to stay inside timedelta's range
    "c_interval": st.integers(-(10**5) * 86400_000_000, (10**5) * 86400_000_000).map(
        lambda us: dt.timedelta(microseconds=us)
    ),
    # year-month interval: signed total MONTH count (int32 on the wire)
    "c_interval_ym": st.integers(-2147483647, 2147483647),
}


@st.composite
def row_values(draw):
    return {
        name: (None if draw(st.booleans()) and draw(st.booleans()) else draw(s))
        for name, s in _STRATS.items()
    }


@settings(max_examples=examples(300), derandomize=True, deadline=None)
@given(row_values())
def test_row_image_roundtrip_fuzz(values):
    out = decode_row_image(COLS, encode_row_image(COLS, values), 0)
    for name, v in values.items():
        got = out[name]
        if v is None:
            assert got is None, name
        elif name == "c_char":
            # fixed-width: padded to 16, never trimmed (ec:905)
            assert got == v.ljust(16), name
            assert len(got) == 16
        else:
            assert got == v, (name, v, got)


# ---- stream framing fuzz (P1/P2): random record sequences survive
# concatenation + re-framing; truncated tails are never yielded ----

from informixcdc_spark.cdc.binary import (  # noqa: E402
    encode_record,
    split_stream,
)
from informixcdc_spark.cdc.model import RecordType  # noqa: E402

_REC = st.sampled_from(
    [
        RecordType.BEGINTX,
        RecordType.COMMTX,
        RecordType.RBTX,
        RecordType.DISCARD,
        RecordType.TRUNCATE,
        RecordType.TIMEOUT,
    ]
)


@st.composite
def record_stream(draw):
    recs = []
    for seq, rt in enumerate(draw(st.lists(_REC, max_size=12)), start=1):
        recs.append(
            encode_record(
                rt,
                seq=seq,
                txid=draw(st.integers(0, 1 << 30)),
                tabid=draw(st.integers(0, 1 << 20)),
            )
        )
    return recs


@settings(max_examples=examples(200), derandomize=True, deadline=None)
@given(record_stream())
def test_split_stream_reframes_concatenation(recs):
    assert list(split_stream(b"".join(recs))) == recs


@settings(max_examples=examples(200), derandomize=True, deadline=None)
@given(record_stream(), st.data())
def test_split_stream_never_yields_truncated_tail(recs, data):
    buf = b"".join(recs)
    if not buf:
        return
    cut = data.draw(st.integers(0, len(buf) - 1))
    got = list(split_stream(buf[:cut]))
    # every yielded frame is one of the complete originals, in order
    assert got == recs[: len(got)]
    # and the cut frame itself was withheld, not emitted short
    assert sum(len(r) for r in got) <= cut


# ---- fail-closed framing and record decode (corrupt input) ----

import itertools  # noqa: E402
import struct  # noqa: E402

import pytest  # noqa: E402

from informixcdc_spark.cdc.binary import decode_record  # noqa: E402


@st.composite
def envelope_soup(draw):
    """Arbitrary bytes, biased towards scheme-66 envelopes with arbitrary
    (also zero and negative) sizes, so the walk gets past the scheme
    check and meets the size checks."""
    parts = []
    for _ in range(draw(st.integers(0, 6))):
        if draw(st.booleans()):
            parts.append(
                struct.pack(
                    ">iiii",
                    draw(st.integers(-40, 60)),
                    draw(st.integers(-40, 60)),
                    draw(st.sampled_from([66, 66, 66, 0])),
                    draw(st.integers(-(1 << 31), (1 << 31) - 1)),
                )
            )
        parts.append(draw(st.binary(max_size=48)))
    return b"".join(parts)


@settings(max_examples=examples(300), derandomize=True, deadline=None)
@given(envelope_soup(), st.booleans())
def test_split_stream_fails_closed_on_arbitrary_bytes(buf, strict):
    """On any input split_stream terminates, raises nothing but
    ValueError, and yields frames of at least 16 bytes that tile the
    buffer contiguously from offset 0."""
    frames = []
    try:
        for frame in split_stream(buf, strict=strict):
            frames.append(frame)
            assert len(frames) <= len(buf) // 16, "walk did not advance"
    except ValueError:
        pass
    assert all(len(f) >= 16 for f in frames)
    assert b"".join(frames) == buf[: sum(len(f) for f in frames)]


@settings(max_examples=examples(300), derandomize=True, deadline=None)
@given(
    st.one_of(
        st.sampled_from([t.value for t in RecordType]),
        st.integers(-(1 << 31), (1 << 31) - 1),
    ),
    st.binary(max_size=64),
)
def test_decode_record_decodes_or_raises_value_error(tag, tail):
    """A valid envelope followed by an arbitrary tail either decodes or
    raises ValueError — never a raw struct.error."""
    rec = struct.pack(">iiii", 16, len(tail), 66, tag) + tail
    try:
        out = decode_record(rec, registry=None)
    except ValueError:
        return
    assert out["record_type"] == RecordType(tag).name


def test_corrupt_frames_raise_value_error_naming_the_problem():
    # islice bounds the walk: a walk that does not advance must not hang
    zero = struct.pack(">iiii", 0, 0, 66, 201)
    with pytest.raises(ValueError, match="at offset 0"):
        list(itertools.islice(split_stream(zero), 4))
    ok = encode_record(RecordType.TIMEOUT, seq=1)
    negative = ok + struct.pack(">iiii", 16, -32, 66, 201)
    with pytest.raises(ValueError, match="at offset 24"):
        list(itertools.islice(split_stream(negative), 4))
    short_insert = struct.pack(">iiii", 16, 0, 66, RecordType.INSERT.value)
    with pytest.raises(ValueError, match="INSERT record of 16 bytes"):
        decode_record(short_insert)
    with pytest.raises(ValueError, match="unknown record tag 99"):
        decode_record(struct.pack(">iiii", 16, 0, 66, 99))
