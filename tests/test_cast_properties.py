"""Property-based cast-matrix tests (SURVEY.md §5.4): the declared cast
semantics (functions/casts.py — trim-before-parse, truthy booleans,
null-on-invalid) hold for arbitrary inputs.

Each hypothesis example is a BATCH of values run through ONE Spark job
(per-example jobs would be 100× slower); the expected result is an
independent pure-Python implementation of the documented contract.
"""
import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_load_spark.functions.casts import cast_column

_INT_RE = re.compile(r"^[+-]?\d+$")
_FLOAT_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_I64_MIN, _I64_MAX = -(1 << 63), (1 << 63) - 1
_TRUTHY, _FALSY = {"true", "1", "y", "yes"}, {"false", "0", "n", "no"}


def ref_bigint(s):
    s = s.strip(" ")
    if _INT_RE.match(s):
        v = int(s)
        return v if _I64_MIN <= v <= _I64_MAX else None
    return None


def ref_double(s):
    s = s.strip(" ")
    if _FLOAT_RE.match(s):
        return float(s)
    if s.lower() in ("infinity", "+infinity", "-infinity", "nan"):
        return float(s.lower().replace("infinity", "inf"))
    return None


def ref_boolean(s):
    t = s.strip(" ").lower()
    if t in _TRUTHY:
        return True
    if t in _FALSY:
        return False
    d = ref_double(s)
    if d is not None and d == d:          # NaN != 0 would be True; exclude
        return d != 0
    if d is not None:
        return True                        # NaN != 0
    return None


# ASCII-only: Python's int()/float() accept non-ASCII unicode digits,
# Spark's parser does not — that divergence is out of contract.
_VALUES = st.one_of(
    st.integers(min_value=-(1 << 70), max_value=1 << 70).map(str),
    st.floats(allow_nan=False, allow_infinity=False).map(repr),
    st.text(alphabet="0123456789+-. eE", max_size=12),
    st.sampled_from(["true", "TRUE", " Yes ", "y", "N", "no", "0", "1",
                     " 1 ", "x", "", "  ", "+", "-", ".", "1.5e3", "1e",
                     "9223372036854775807", "9223372036854775808",
                     "-9223372036854775808", "-9223372036854775809"]),
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=10),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_VALUES, min_size=1, max_size=80))
def test_cast_matrix_matches_reference_semantics(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = (df.select(
        "s",
        cast_column(F.col("s"), "bigint").alias("b"),
        cast_column(F.col("s"), "double").alias("d"),
        cast_column(F.col("s"), "boolean").alias("t"))
        .collect())
    for row in got:
        assert row.b == ref_bigint(row.s), f"bigint({row.s!r})"
        want_d = ref_double(row.s)
        if want_d is not None and want_d != want_d:   # NaN
            assert row.d != row.d, f"double({row.s!r})"
        else:
            assert row.d == want_d, f"double({row.s!r})"
        assert row.t == ref_boolean(row.s), f"boolean({row.s!r})"


@settings(max_examples=8, deadline=None)
@given(st.lists(st.sampled_from(
    ["2024-03-05", "2024-03-05 10:11:12", "2024-03-05T10:11:12",
     "  2024-03-05  ", "not a date", "", "2024-13-40", "05/03/2024"]),
    min_size=1, max_size=20))
def test_date_cast_truncates_time(spark, values):
    """DATE truncates any time part (ETLCoreMappingProcessor.java:223);
    invalid input → NULL (routed, never an ANSI throw)."""
    import datetime as dt
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = df.select("s", cast_column(F.col("s"), "date").alias("d")).collect()
    for row in got:
        s = row.s.strip(" ")
        if s.startswith("2024-03-05"):
            assert row.d == dt.date(2024, 3, 5), f"date({row.s!r})"
        else:
            assert row.d is None, f"date({row.s!r})"


# ---------------------------------------------------------------------------
# S8 CSV quote/escape round-trip property (SURVEY §5.4)
# ---------------------------------------------------------------------------

_CSV_ALPHABET = st.characters(
    codec="utf-8",
    categories=("L", "N", "P", "S", "Zs"),
    include_characters=',";\n \t|',
)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet=_CSV_ALPHABET, max_size=40),
                min_size=1, max_size=25))
def test_csv_quote_escape_roundtrip(spark, tmp_root, values):
    """Arbitrary strings — embedded delimiters, quotes, newlines, unicode,
    leading/trailing whitespace — survive an engine CSV write+read cycle
    byte-for-byte. Null and empty both render as '' (the reference's
    null-as-empty contract, ETLCoreCsvFileWriter.java:161-171) and read
    back as null; everything else must round-trip exactly."""
    import tempfile
    from etl_load_spark.sources.readers import read_file
    from etl_load_spark.sources.writers import write_file

    path = tempfile.mkdtemp(dir=tmp_root, prefix="csvprop")
    rows = [(i, v) for i, v in enumerate(values)] + [(len(values), None)]
    df = spark.createDataFrame(rows, "id bigint, v string")
    write_file(df, {"path": path}, "csv")
    back = read_file(spark, {"path": path, "multiline": True}, "csv")
    got = {int(r["id"]): r["v"] for r in back.collect()}
    assert len(got) == len(rows)
    for i, v in rows:
        expect = None if v in (None, "") else v
        assert got[i] == expect, (i, repr(v), repr(got[i]))


@settings(max_examples=6, deadline=None)
@given(st.lists(st.integers(min_value=-99999, max_value=999999), min_size=2,
                max_size=40),
       st.lists(st.integers(min_value=-99999, max_value=999999), min_size=2,
                max_size=40))
def test_band_join_exactly_matches_between(spark, lcents, rcents):
    """Property (the r3 sf0.1 bug class): band_join's bucket blocking +
    BETWEEN residual must return EXACTLY the pairs a plain
    `r BETWEEN l-w AND l+w` cross join returns — on cents-valued doubles,
    including exact band-edge differences (the case where an
    `abs(l-r) <= w` residual disagrees by 1 ulp)."""
    from etl_load_spark.operators.range_join import band_join
    lv = [(i, c / 100.0) for i, c in enumerate(lcents)]
    rv = [(i, c / 100.0) for i, c in enumerate(rcents)]
    # plant guaranteed exact-edge pairs: r = l ± 50.00 in decimal
    lv.append((900, lcents[0] / 100.0))
    rv.append((900, (lcents[0] + 5000) / 100.0))
    rv.append((901, (lcents[0] - 5000) / 100.0))
    l = spark.createDataFrame(lv, "l_id int, l_val double")
    r = spark.createDataFrame(rv, "r_id int, r_val double")
    got = sorted((x.l_id, x.r_id)
                 for x in band_join(l, r, "l_val", "r_val", 50.0).collect())
    want = sorted((x.l_id, x.r_id) for x in l.crossJoin(r).filter(
        (F.col("r_val") >= F.col("l_val") - 50.0)
        & (F.col("r_val") <= F.col("l_val") + 50.0)).collect())
    assert got == want
