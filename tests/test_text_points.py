"""The reference-format text parse (``sources.text_points``) against Spark's
own cast: every line parses as ``split`` on ``,\\s*`` then ``try_cast`` to
double of each token, bit for bit, NULL elements included, and the
CLI's ``dim`` rule makes a NULL vector of exactly the lines that are not
``dim`` non-NULL numbers."""

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from k_means_in_mapreduce_spark.sources.text_points import (
    parse_points,
    parse_points_df,
)


def _spark_parse(col: str):
    """The reference implementation: Catalyst's split and an element-wise
    ``try_cast``, as the package parsed before the Arrow kernel."""
    toks = F.split(F.regexp_replace(F.trim(F.col(col)), "[<>]", ""), ",\\s*")
    return F.transform(toks, lambda s: s.try_cast("double"))


def _spark_parse_dim(col: str, dim: int):
    """The reference implementation of the ``dim`` rule: a vector that is
    not exactly ``dim`` non-NULL numbers is NULL."""
    f = _spark_parse(col)
    return F.when((F.size(f) == dim) & ~F.exists(f, lambda x: x.isNull()), f)


def _bits(vec):
    """A vector as its doubles' bit patterns, NULLs kept."""
    if vec is None:
        return None
    return [None if v is None else struct.pack("<d", v) for v in vec]


def _assert_same(spark, lines):
    df = spark.createDataFrame([(s,) for s in lines], "value string")
    rows = parse_points_df(df).select(
        "value", "features", _spark_parse("value").alias("want")
    ).collect()
    for r in rows:
        assert _bits(r["features"]) == _bits(r["want"]), (
            r["value"], r["features"], r["want"])


def _any_case(word: str):
    return st.lists(st.booleans(), min_size=len(word), max_size=len(word)).map(
        lambda up: "".join(c.upper() if u else c.lower() for c, u in zip(word, up))
    )


_digits = st.text("0123456789", max_size=5)
_sign = st.sampled_from(["", "", "+", "-", "+-"])
_decimal = st.builds(
    lambda a, dot, b, exp: a + dot + b + exp,
    _digits, st.sampled_from(["", "."]), _digits,
    st.one_of(st.just(""), st.builds(lambda e, s, d: e + s + d,
                                     st.sampled_from("eE"), _sign, _digits)),
)
_hex = st.builds(
    lambda x, a, dot, b, exp: "0" + x + a + dot + b + exp,
    st.sampled_from("xX"), st.text("0123456789abcdefABCDEF", max_size=3),
    st.sampled_from(["", "."]), st.text("0123456789abcdef", max_size=2),
    st.one_of(st.just(""), st.builds(lambda p, s, d: p + s + d,
                                     st.sampled_from("pP"), _sign, _digits)),
)
_special = st.one_of(*map(_any_case, ["nan", "inf", "infinity"]))
_junk = st.text("0123456789._e+-xp \t١٣<>", max_size=6)
_body = st.one_of(
    _decimal, _hex, _special, _junk, st.just(""),
    st.floats().map(repr), st.floats(width=32).map(repr),
)
_token = st.builds(
    lambda pad, sign, body, suf, end: pad + sign + body + suf + end,
    st.sampled_from(["", "", " ", "\t"]), _sign, _body,
    st.sampled_from(["", "", "", "d", "f", "D", "F"]),
    st.sampled_from(["", "", " ", "\t"]),
)
_sep = st.sampled_from([", ", ", ", ",", ",\t", ", \t ", " , ", ",\x0b"])


@st.composite
def _line(draw, token=_token):
    toks = draw(st.lists(token, min_size=1, max_size=6))
    line = toks[0]
    for t in toks[1:]:
        line += draw(_sep) + t
    left, right = draw(st.sampled_from([("<", ">"), ("<", ">"), ("", ""),
                                        (" <", "> "), ("<", "")]))
    return left + line + right


@settings(max_examples=30, deadline=None)
@given(st.lists(_line(), min_size=1, max_size=60))
def test_parse_matches_spark_cast(spark, lines):
    """Any spelling: digits, signs, exponents, NaN/Infinity/inf in any
    case, d/f suffixes, hex floats, blanks around a token, ``_``, Unicode
    digits, the empty token."""
    _assert_same(spark, lines)


@settings(max_examples=10, deadline=None)
@given(st.lists(_line(st.floats(allow_nan=False, allow_infinity=False)
                      .map(repr)), min_size=1, max_size=60))
def test_plain_numbers_match_spark_cast(spark, lines):
    """Lines of finite ``repr`` numbers, the spelling the vectorized cast
    takes, with the separators that send a batch token by token."""
    _assert_same(spark, lines)


LITERAL_LINES = [
    "<-0.0, 4.9e-324>",
    "<1e308, -1e308>",
    "<1e400, -1e400>",
    "<1d, 0x1p3>",
    "< 7 , 1_000>",
    "<١, 2>",
    "",
    "   ",
    "\t",
    "<>",
    "1.5, 2.5",
    "<NaN, -Infinity>",
]


@pytest.mark.parametrize("newline", ["\n", "\r\n"])
def test_literal_lines_match_spark_cast(spark, tmp_path, newline):
    """Extreme and unusual spellings, blank, space-only and tab-only lines,
    ``<>``, a line without brackets, and CRLF endings, read from a file:
    the parse equals Spark's cast, and with ``dim`` each vector is NULL
    exactly where the CLI's rule makes it NULL."""
    path = tmp_path / "pts.txt"
    path.write_bytes(newline.join(LITERAL_LINES).encode() + newline.encode())
    text = spark.read.text(str(path)).filter(F.length(F.trim("value")) > 0)
    want = [r[0] for r in text.select(_spark_parse("value")).collect()]
    got = [r[0] for r in parse_points(spark, str(path)).collect()]
    assert [_bits(v) for v in got] == [_bits(v) for v in want]
    # the blank and space-only lines are dropped; the tab-only one is not
    assert len(got) == len(LITERAL_LINES) - 2
    assert got[3] == [1.0, 8.0] and got[4] == [7.0, None]
    assert got[5] == [None, 2.0] and got[6] == [None] and got[7] == [None]

    want = [r[0] for r in text.select(_spark_parse_dim("value", 2)).collect()]
    got = [r[0] for r in parse_points(spark, str(path), dim=2).collect()]
    assert [_bits(v) for v in got] == [_bits(v) for v in want]
    assert [v is None for v in got] == [
        False, False, False, False, True, True, True, True, False, False]
