"""Differential test of the vectorized ``date`` and ``julian`` decoders
(layout.py) against a small pure-Python scalar reference decoder.

The reference below is the specification: it reads one field's bytes and
returns days since 1970-01-01, or None when the value is not a date.
Hypothesis feeds both decoders random and adversarial bytes: calendar
edges, out-of-range months and days, blank and space-padded fields,
non-canonical and non-ASCII text, and EBCDIC (cp037) records.  In
permissive mode the values and null positions must agree; in failfast
mode a chunk must raise exactly when the reference rejects one of its
values."""

from __future__ import annotations

import calendar
import datetime

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from hadoop_fixedlengthinputformat_spark.sources.layout import (
    FieldSpec,
    decode_chunk,
)

_EPOCH = datetime.date(1970, 1, 1).toordinal()
_DIGITS = b"0123456789"


def _epoch_day(year: int, month: int, day: int) -> int:
    # datetime has no year 0; the Gregorian calendar repeats every 400
    # years (146097 days), so year 0 is read as year 400, shifted back
    if year == 0:
        return _epoch_day(400, month, day) - 146097
    return datetime.date(year, month, day).toordinal() - _EPOCH


def ref_date(text: bytes) -> int | None:
    """``YYYY-MM-DD`` after trimming spaces, and a real Gregorian day."""
    s = text.strip(b" ")
    if len(s) != 10 or s[4:5] != b"-" or s[7:8] != b"-":
        return None
    digits = s[:4] + s[5:7] + s[8:]
    if not all(c in _DIGITS for c in digits):
        return None
    year, month, day = int(s[:4]), int(s[5:7]), int(s[8:])
    if not 1 <= month <= 12:
        return None
    month_days = calendar.mdays[month] + (month == 2 and calendar.isleap(year))
    if not 1 <= day <= month_days:
        return None
    return _epoch_day(year, month, day)


def ref_julian(text: bytes) -> int | None:
    """YYDDD (YY >= 70 -> 19YY, else 20YY) or YYYYDDD filling the field,
    with DDD a day of that year."""
    s = text.strip(b" ")
    if len(s) != len(text) or not all(c in _DIGITS for c in s):
        return None
    year, ddd = int(s[:-3]), int(s[-3:])
    if len(s) == 5:
        year += 1900 if year >= 70 else 2000
    if not 1 <= ddd <= 365 + calendar.isleap(year):
        return None
    return _epoch_day(year, 1, 1) + ddd - 1


_REFERENCE = {"date": ref_date, "julian": ref_julian}


def _decode(values: list[bytes], ftype: str, encoding: str, permissive: bool):
    width = len(values[0])
    f = FieldSpec("d", 0, width, ftype)
    batch = decode_chunk(
        b"".join(values), width, [f], 0, False, None,
        pa.schema([pa.field("d", f.arrow_type())]),
        permissive=permissive, encoding=encoding,
    )
    return batch.column(0).view(pa.int32()).to_pylist()


def _check(values: list[bytes], ftype: str, encoding: str) -> None:
    # the reference reads ASCII; cp037 maps onto Latin-1 one byte to one
    want = [
        _REFERENCE[ftype](v if encoding == "utf-8" else v.decode(encoding).encode("latin-1"))
        for v in values
    ]
    assert _decode(values, ftype, encoding, permissive=True) == want
    if None in want:
        with pytest.raises(ValueError, match="fixedlen: .* 'd'"):
            _decode(values, ftype, encoding, permissive=False)
    else:
        assert _decode(values, ftype, encoding, permissive=False) == want
    for v, w in zip(values, want):  # failfast value by value
        if w is None:
            with pytest.raises(ValueError):
                _decode([v], ftype, encoding, permissive=False)
        else:
            assert _decode([v], ftype, encoding, permissive=False) == [w]


_ODD_BYTES = st.sampled_from(list(b" -/+.:0129aZ") + [0x00, 0x09, 0x7F, 0x80, 0xC3, 0xFF])


@st.composite
def _field(draw, text: st.SearchStrategy, width: int) -> bytes:
    """Text placed in a ``width``-byte field with random space padding on
    either side (cut to the field when too long), sometimes with one byte
    overwritten."""
    s = draw(text)[:width]
    left = draw(st.integers(0, width - len(s)))
    out = bytearray(b" " * left + s + b" " * (width - len(s) - left))
    if draw(st.integers(0, 4)) == 0:
        out[draw(st.integers(0, width - 1))] = draw(_ODD_BYTES)
    return bytes(out)


_DATE_TEXT = st.one_of(
    st.builds(
        lambda y, m, d: f"{y:04d}-{m:02d}-{d:02d}".encode(),
        st.integers(0, 9999), st.integers(0, 13), st.integers(0, 32),
    ),
    st.builds(
        lambda y, d: f"{y:04d}-02-{d:02d}".encode(),
        st.sampled_from([0, 1, 4, 100, 1900, 2000, 2023, 2024, 2100, 2400, 9999]),
        st.integers(27, 30),
    ),
    st.sampled_from([
        b"", b"2021-1-5", b"2021-01-5", b"21-01-05", b"20210105", b"2021/01/05",
        b"+021-01-05", b"-021-01-05", b"2021-01-05T00", b"2021 01 05",
        "２０２１-01-05".encode(), "2021-01-0é".encode(), b"2021-01-05\x00",
    ]),
    st.binary(min_size=0, max_size=12),
)

_DDD = st.one_of(st.integers(0, 999), st.sampled_from([0, 1, 59, 60, 365, 366, 367]))
_JULIAN_TEXT = st.one_of(
    st.builds(lambda y, d: f"{y:02d}{d:03d}".encode(), st.integers(0, 99), _DDD),
    st.builds(lambda y, d: f"{y:04d}{d:03d}".encode(), st.integers(0, 9999), _DDD),
    st.sampled_from([b"", b"1234", b"-1001", b"+1001", b"95 01", b"1995-01", b"\x0095001"]),
    st.binary(min_size=0, max_size=7),
)


@settings(max_examples=300, deadline=None)
@given(st.data(), st.sampled_from([10, 12]), st.sampled_from(["utf-8", "cp037"]))
def test_date_matches_reference(data, width, encoding):
    values = data.draw(st.lists(_field(_DATE_TEXT, width), min_size=1, max_size=20))
    if encoding != "utf-8":  # the same text as EBCDIC bytes
        values = [v.decode("latin-1").encode(encoding) for v in values]
    _check(values, "date", encoding)


@settings(max_examples=300, deadline=None)
@given(st.data(), st.sampled_from([5, 7]), st.sampled_from(["utf-8", "cp037"]))
def test_julian_matches_reference(data, width, encoding):
    values = data.draw(st.lists(_field(_JULIAN_TEXT, width), min_size=1, max_size=20))
    if encoding != "utf-8":
        values = [v.decode("latin-1").encode(encoding) for v in values]
    _check(values, "julian", encoding)


@pytest.mark.parametrize(
    "text, want",
    [
        (b"0000-02-29", _epoch_day(2000, 2, 29) - 5 * 146097),
        (b"0001-01-01", -719162),
        (b"1900-02-29", None),
        (b"0100-02-29", None),
        (b"2000-02-29", 11016),
        (b"9999-12-31", 2932896),
        (b"2021-00-10", None),
        (b"2021-13-10", None),
        (b"2021-04-00", None),
        (b"2021-04-31", None),
        (b"2021-1-5", None),
    ],
)
def test_date_calendar_edges(text, want):
    assert ref_date(text) == want
    _check([text.ljust(12)], "date", "utf-8")


def test_date_wide_blank_and_padded_fields():
    values = [b" " * 12, b" 2024-02-29 ", b"  2024-02-29", b"2024-02-29  ", b"2024-02-29 x"]
    assert [ref_date(v) for v in values] == [None, 19782, 19782, 19782, None]
    _check(values, "date", "utf-8")


def test_reference_agrees_with_numpy_calendar():
    """The reference's epoch days equal numpy's datetime64 arithmetic."""
    days = np.arange(-719528, 2932897, 997)  # 0000-01-01 .. 9999-12-31
    text = np.datetime_as_string(days.astype("datetime64[D]"))
    assert [ref_date(t.encode()) for t in text] == days.tolist()


@pytest.mark.parametrize(
    "text, want, error",
    [
        (b"00366", _epoch_day(2000, 12, 31), None),
        (b"99365", _epoch_day(1999, 12, 31), None),
        (b"99366", None, "day-of-year out of range"),
        (b"0000366", _epoch_day(0, 12, 31), None),
        (b"1900366", None, "day-of-year out of range"),
        (b"2024000", None, "day-of-year out of range"),
        (b"1234 ", None, "narrower than field width"),
        (b"     ", None, "narrower than field width"),
        (b"-1001", None, "non-digit"),
        (b"+1001", None, "non-digit"),
    ],
)
def test_julian_edges(text, want, error):
    assert ref_julian(text) == want
    _check([text], "julian", "utf-8")
    if error:
        with pytest.raises(ValueError, match=error):
            _decode([text], "julian", "utf-8", permissive=False)
