"""Golden parity suite: every assertion from the reference's
TestJsonSchemaFinder.java, re-expressed against our pure-Python lattice.

Each test cites the reference lines it pins. ``j()`` parses a JSON literal
keeping numbers lexical (LazilyParsedNumber parity).
"""

import pytest

from hive_json_spark.types import (
    BooleanT,
    Kind,
    ListT,
    NullT,
    NumericT,
    StringT,
    StructT,
    UnionT,
    infer_type,
    loads_first,
    merge_types,
)


def j(text):
    return infer_type(loads_first(text))


def m(a, b):
    return str(merge_types(a, b))


# --- testBinaryPatterns (TestJsonSchemaFinder.java:32-44) --------------------

@pytest.mark.parametrize(
    "text,expected",
    [
        ('"00000000"', "binary"),
        ('"0000000"', "string"),
        ('""', "string"),
        ('"0123456789abcdefABCDEF"', "binary"),
        ('"00x0"', "string"),
    ],
)
def test_binary_patterns(text, expected):
    assert str(j(text)) == expected


# --- testTimestampPatterns (:46-58) ------------------------------------------

@pytest.mark.parametrize(
    "text,expected",
    [
        ('"2016-01-05T12:34:56Z"', "timestamp"),
        ('"2016/01/05 12:34:56"', "timestamp"),
        ('"2016/01/05"', "string"),  # date-only → string (DATE never produced)
        ('"2016-01-01 56:00:00 +08"', "timestamp"),  # no semantic validation
        ('"2016-01-01 56:00:00 -08:30"', "timestamp"),
    ],
)
def test_timestamp_patterns(text, expected):
    assert str(j(text)) == expected


# --- testBooleans (:60-68) ---------------------------------------------------

def test_booleans():
    assert str(j("true")) == "boolean"
    assert str(j("null")) == "void"
    assert str(j("false")) == "boolean"


# --- testNumbers (:70-117) ---------------------------------------------------

@pytest.mark.parametrize(
    "text,expected",
    [
        ("120", "tinyint"),
        ("-128", "tinyint"),
        ("-24120", "smallint"),
        ("128", "smallint"),  # asymmetric open upper bound: value < 128
        ("60000", "int"),
        ("-4294967296", "bigint"),
        ("-9223372036854775808", "bigint"),
        ("9223372036854775807", "bigint"),
        ("9223372036854775808", "decimal(19,0)"),  # 19-digit long overflow
        ("-9223372036854775809", "decimal(19,0)"),
        ("1234.567890", "decimal(10,6)"),
        ("-1234567890.1234567890", "decimal(20,10)"),
        ("1.2e9", "float"),  # scientific notation skips the decimal path
        ("1234567890123456789012345678901234567890", "double"),  # 40 digits
        ("1.2E40", "double"),  # > Float.MAX_VALUE
    ],
)
def test_numbers(text, expected):
    assert str(j(text)) == expected


# float/double quirk beyond the reference tests: Java Float.MIN_VALUE is the
# smallest *positive* float, so negative scientific-notation numbers are
# DOUBLE (JsonSchemaFinder.java:91-96).
def test_negative_scientific_is_double():
    assert str(j("-1.2e9")) == "double"
    assert str(j("0.0e0")) == "double"


# --- testLists (:119-132) ----------------------------------------------------

def test_lists():
    assert str(j("[]")) == "list<void>"
    assert str(j("[50000]")) == "list<int>"
    assert str(j("[127, 50000, 50000000000, -100]")) == "list<bigint>"


# --- testStructs (:134-147) --------------------------------------------------

def test_structs():
    assert str(j("{}")) == "struct<>"
    assert str(j('{"bool": true}')) == "struct<bool:boolean>"
    # alphabetical field order (TreeMap parity, StructType.java:29)
    assert str(j('{"str": "value", "i": 124567}')) == "struct<i:int,str:string>"


# --- testNullMerges (:149-177) -----------------------------------------------

def test_null_merges():
    assert m(NullT(), NullT()) == "void"
    assert m(BooleanT(), NullT()) == "boolean"
    assert m(NullT(), NumericT(Kind.INT, 4, 0)) == "int"
    assert m(NullT(), StringT(Kind.STRING)) == "string"
    assert m(StructT((("i", NumericT(Kind.INT, 5, 0)),)), NullT()) == "struct<i:int>"
    assert m(ListT(NumericT(Kind.INT, 5, 0)), NullT()) == "list<int>"
    assert m(UnionT((NumericT(Kind.INT, 5, 0),)), NullT()) == "uniontype<int>"


# --- testBooleanMerges (:179-204) --------------------------------------------

def test_boolean_merges():
    assert m(BooleanT(), BooleanT()) == "boolean"
    assert m(BooleanT(), NumericT(Kind.INT, 4, 0)) == "uniontype<boolean,int>"
    assert m(BooleanT(), StringT(Kind.STRING)) == "uniontype<boolean,string>"
    # operand-order-dependent branch order pinned by the reference
    assert (
        m(StructT((("i", NumericT(Kind.INT, 5, 0)),)), BooleanT())
        == "uniontype<struct<i:int>,boolean>"
    )
    assert (
        m(ListT(NumericT(Kind.INT, 5, 0)), BooleanT())
        == "uniontype<list<int>,boolean>"
    )
    assert (
        m(UnionT((NumericT(Kind.INT, 5, 0),)), BooleanT())
        == "uniontype<int,boolean>"
    )


# --- testNumericMerges (:206-250) --------------------------------------------

def test_numeric_merges():
    assert m(NumericT(Kind.BYTE, 2, 0), NumericT(Kind.SHORT, 4, 0)) == "smallint"
    assert m(NumericT(Kind.INT, 6, 0), NumericT(Kind.SHORT, 4, 0)) == "int"
    assert m(NumericT(Kind.INT, 6, 0), NumericT(Kind.LONG, 10, 0)) == "bigint"
    # decimal precision max-merge: smallint(4,0) ∨ decimal(20,0) → decimal(20,0)
    assert m(NumericT(Kind.SHORT, 4, 0), NumericT(Kind.DECIMAL, 20, 0)) == "decimal(20,0)"
    # float swallows decimal — precision discarded
    assert m(NumericT(Kind.FLOAT, 21, 4), NumericT(Kind.DECIMAL, 20, 0)) == "float"
    assert m(NumericT(Kind.DOUBLE, 31, 4), NumericT(Kind.DECIMAL, 20, 10)) == "double"
    assert (
        m(NumericT(Kind.DECIMAL, 20, 10), StringT(Kind.STRING))
        == "uniontype<decimal(30,10),string>"
    )
    assert (
        m(StructT((("i", NumericT(Kind.INT, 5, 0)),)), NumericT(Kind.SHORT, 4, 0))
        == "uniontype<struct<i:int>,smallint>"
    )
    assert (
        m(NumericT(Kind.SHORT, 4, 0), ListT(NumericT(Kind.INT, 5, 0)))
        == "uniontype<smallint,list<int>>"
    )
    # union-first-match: int branch absorbs the decimal
    assert (
        m(
            UnionT((NumericT(Kind.INT, 5, 0), StringT(Kind.STRING))),
            NumericT(Kind.DECIMAL, 20, 0),
        )
        == "uniontype<decimal(20,0),string>"
    )


# --- testStringMerges (:252-281) ---------------------------------------------

def test_string_merges():
    assert m(StringT(Kind.BINARY), StringT(Kind.STRING)) == "string"
    assert m(StringT(Kind.STRING), StringT(Kind.TIMESTAMP)) == "string"
    assert (
        m(StructT((("i", NumericT(Kind.INT, 5, 0)),)), StringT(Kind.TIMESTAMP))
        == "uniontype<struct<i:int>,timestamp>"
    )
    assert (
        m(StringT(Kind.BINARY), ListT(NumericT(Kind.INT, 5, 0)))
        == "uniontype<binary,list<int>>"
    )
    # binary branch decays to string when a timestamp folds in
    assert (
        m(
            UnionT((NumericT(Kind.INT, 5, 0), StringT(Kind.BINARY))),
            StringT(Kind.TIMESTAMP),
        )
        == "uniontype<int,string>"
    )


# --- testListMerges (:283-307) -----------------------------------------------

def test_list_merges():
    assert (
        m(ListT(NumericT(Kind.INT, 10, 0)), ListT(NumericT(Kind.LONG, 20, 0)))
        == "list<bigint>"
    )
    assert (
        m(ListT(NumericT(Kind.INT, 10, 0)), ListT(StringT(Kind.STRING)))
        == "list<uniontype<int,string>>"
    )
    assert (
        m(
            StructT((("foo", NumericT(Kind.INT, 10, 0)),)),
            ListT(NumericT(Kind.INT, 5, 0)),
        )
        == "uniontype<struct<foo:int>,list<int>>"
    )
    assert (
        m(
            UnionT((NumericT(Kind.INT, 5, 0), StringT(Kind.STRING))),
            ListT(BooleanT()),
        )
        == "uniontype<int,string,list<boolean>>"
    )


# --- testStructMerges (:309-336 in spirit) -----------------------------------

def test_struct_merges():
    assert (
        m(
            StructT((("foo", NumericT(Kind.INT, 10, 0)),)),
            StructT((("bar", StringT(Kind.TIMESTAMP)),)),
        )
        == "struct<bar:timestamp,foo:int>"
    )
    # binary ∨ timestamp inside a field decays to string
    assert (
        m(
            StructT(
                (
                    ("foo", NumericT(Kind.INT, 10, 0)),
                    ("bar", StringT(Kind.BINARY)),
                )
            ),
            StructT((("bar", StringT(Kind.TIMESTAMP)),)),
        )
        == "struct<bar:string,foo:int>"
    )
    assert (
        m(
            UnionT((NumericT(Kind.INT, 5, 0), StringT(Kind.STRING))),
            StructT((("foo", BooleanT()),)),
        )
        == "uniontype<int,string,struct<foo:boolean>>"
    )


# --- testUnionMerges (:321-345) ----------------------------------------------

def test_union_merges():
    # union ∨ union merges child-by-child into first-compatible branches
    assert (
        m(
            UnionT(
                (
                    NumericT(Kind.DECIMAL, 2, 10),
                    BooleanT(),
                    StringT(Kind.BINARY),
                )
            ),
            UnionT((StringT(Kind.TIMESTAMP), NumericT(Kind.INT, 5, 0))),
        )
        == "uniontype<decimal(15,10),boolean,string>"
    )
    assert (
        m(
            UnionT((NumericT(Kind.INT, 10, 0), StringT(Kind.BINARY))),
            StructT((("bar", StringT(Kind.TIMESTAMP)),)),
        )
        == "uniontype<int,binary,struct<bar:timestamp>>"
    )
    assert (
        m(
            UnionT((NumericT(Kind.INT, 5, 0), StringT(Kind.BINARY))),
            StringT(Kind.TIMESTAMP),
        )
        == "uniontype<int,string>"
    )


# --- dates stay strings ------------------------------------------------------
# The reference's Kind.DATE is a dead enum member (HiveType.java:32) its
# pickString never produces (JsonSchemaFinder.java:98-106).

@pytest.mark.parametrize(
    "text,kind",
    [
        ('"2024-01-31"', "string"),       # bare ISO date
        ('"2024/01/31"', "string"),       # slash family of the timestamp regex
        ('"2024-1-31"', "string"),
        ('"20240131"', "binary"),         # hex-shaped
        ('"2024-01-31T00:00:00"', "timestamp"),
        ('"not a date"', "string"),
    ],
)
def test_dates_stay_strings(text, kind):
    assert str(infer_type(loads_first(text))) == kind


def test_dates_stay_strings_at_depth():
    doc = loads_first('{"d": "2024-01-31", "xs": ["2024-01-31", "2024-02-01"]}')
    assert str(infer_type(doc)) == "struct<d:string,xs:list<string>>"
