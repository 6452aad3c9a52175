"""Renderer parity (printTopType/printType/printFlat) and lattice properties."""

import json

from hypothesis import example, given, settings, strategies as st

from hive_json_spark.types import (
    JsonNumber,
    Kind,
    NullT,
    NumericT,
    _covers,
    _pick_number,
    canonicalize,
    infer_type,
    iter_json_documents,
    loads_first,
    merge_types,
    merge_value,
    to_flat,
    to_hive_ddl,
    to_spark_type,
)


def infer_corpus(*docs):
    t = None
    for d in docs:
        t = merge_types(t, infer_type(loads_first(d)))
    return t


# --- DDL rendering (JsonSchemaFinder.java:153-221 shapes) --------------------

def test_ddl_flat_schema():
    t = infer_corpus('{"a": 1, "b": "x"}')
    assert to_hive_ddl(t) == "create table tbl (\n  a tinyint,\n  b string\n)\n"


def test_ddl_nested_struct():
    t = infer_corpus('{"a": {"b": 12, "c": true}, "d": "2016-01-05T12:34:56Z"}')
    assert to_hive_ddl(t) == (
        "create table tbl (\n"
        "  a struct <\n"
        "    b: tinyint,\n"
        "    c: boolean>,\n"
        "  d timestamp\n"
        ")\n"
    )


def test_ddl_array_and_union():
    t = infer_corpus('{"xs": [1, 2]}', '{"xs": "oops"}')
    assert to_hive_ddl(t) == (
        "create table tbl (\n  xs uniontype <array <tinyint>,string>\n)\n"
    )


# --- flat rendering (printFlat parity: HiveType.java:88-90 + overrides) ------

def test_flat_rendering():
    t = infer_corpus('{"a": {"b": 5}, "xs": [1], "u": true}', '{"u": 7}')
    assert to_flat(t, "root") == (
        "root.a.b: tinyint\n"
        "root.u.0: boolean\n"
        "root.u.1: tinyint\n"
        "root.xs._list: tinyint\n"
    )


def test_flat_top_level_scalar():
    # flat mode tolerates non-struct roots (JsonSchemaFinder.java:251)
    assert to_flat(infer_corpus("5"), "root") == "root: tinyint\n"


# --- concatenated-document parsing (JsonStreamParser parity) -----------------

def test_iter_json_documents_concatenated():
    docs = list(iter_json_documents('{"a":1}{"a":2}\n  {"a":3}'))
    assert [json.loads(json.dumps({"a": int(d["a"])})) for d in docs] == [
        {"a": 1},
        {"a": 2},
        {"a": 3},
    ]


def test_iter_json_documents_scalars_and_empty():
    assert list(iter_json_documents("")) == []
    vals = list(iter_json_documents('5 "x" [1]'))
    assert len(vals) == 3


def _tagged(v):
    """A parsed value with every scalar's type spelled out (a JsonNumber
    compares equal to the str of its literal)."""
    if isinstance(v, dict):
        return ("dict", [(k, _tagged(x)) for k, x in v.items()])
    if isinstance(v, list):
        return ("list", [_tagged(x) for x in v])
    return (type(v).__name__, v)


def test_parsing_from_threads_matches_serial():
    import sys
    from concurrent.futures import ThreadPoolExecutor

    texts = [
        "".join(
            json.dumps({"id": i, "k": {"a": [j, f"s{j}", None, True], "b": 1.5e3 * j}}) + "\n"
            for j in range(i % 5 + 1)
        )
        for i in range(400)
    ]

    def parse(text):
        return (_tagged(loads_first(text)), [_tagged(d) for d in iter_json_documents(text)])

    serial = [parse(t) for t in texts]
    assert serial[7][0][1][0] == ("id", ("JsonNumber", "7"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as the interpreter can
    try:
        with ThreadPoolExecutor(8) as pool:
            runs = [pool.submit(lambda: [parse(t) for t in texts]) for _ in range(8)]
            assert all(r.result() == serial for r in runs)
    finally:
        sys.setswitchinterval(interval)


# --- Spark type mapping ------------------------------------------------------

def test_to_spark_type_shapes():
    from pyspark.sql import types as T

    t = infer_corpus('{"i": 1, "d": 1234.5, "s": "x", "xs": [100000]}')
    st_ = to_spark_type(t)
    assert isinstance(st_, T.StructType)
    by_name = {f.name: f.dataType for f in st_.fields}
    assert by_name["i"] == T.ByteType()
    assert by_name["d"] == T.DecimalType(5, 1)
    assert by_name["s"] == T.StringType()
    assert by_name["xs"] == T.ArrayType(T.IntegerType(), True)


def test_to_spark_type_union_tagged_and_string():
    from pyspark.sql import types as T

    t = infer_corpus('{"u": 1}', '{"u": "x"}')
    tagged = to_spark_type(t)
    u = dict((f.name, f.dataType) for f in tagged.fields)["u"]
    assert [f.name for f in u.fields] == ["tag", "field0", "field1"]


# --- lattice properties (hypothesis) -----------------------------------------

json_values = st.recursive(
    st.none()
    | st.booleans()
    | st.integers(min_value=-(10**20), max_value=10**20)
    | st.floats(allow_nan=False, allow_infinity=False)
    | st.text(max_size=8),
    lambda children: st.lists(children, max_size=3)
    | st.dictionaries(st.text(max_size=4), children, max_size=3),
    max_leaves=8,
)


def via_json(v):
    return loads_first(json.dumps(v))


@settings(max_examples=200, deadline=None)
@given(json_values)
def test_merge_idempotent(v):
    t = infer_type(via_json(v))
    assert merge_types(t, t) == t


@settings(max_examples=200, deadline=None)
@given(json_values)
def test_null_is_identity(v):
    t = infer_type(via_json(v))
    assert merge_types(t, NullT()) == t
    assert merge_types(NullT(), t) == t


@settings(max_examples=200, deadline=None)
@given(json_values, json_values)
def test_merge_commutative_up_to_canonical_order(a, b):
    ta, tb = infer_type(via_json(a)), infer_type(via_json(b))
    assert canonicalize(merge_types(ta, tb)) == canonicalize(merge_types(tb, ta))


@settings(max_examples=100, deadline=None)
@given(json_values, json_values, json_values)
def test_merge_associative_up_to_canonical_order(a, b, c):
    ta, tb, tc = (infer_type(via_json(x)) for x in (a, b, c))
    left = merge_types(merge_types(ta, tb), tc)
    right = merge_types(ta, merge_types(tb, tc))
    assert canonicalize(left) == canonicalize(right)


# --- fused fold step: merge_value(acc, d) == merge_types(acc, infer_type(d)) --

# leaves that reach merge_value's fast paths: timestamp / hex / plain
# strings (and near misses), integers in every size class, more than 38
# digits, scientific notation (float, negative → double, underflow, E),
# -0, and decimals whose int + fraction digits sit at or across 38
fold_leaves = (
    st.none()
    | st.booleans()
    | st.sampled_from(
        [
            "2016-01-02T03:04:05Z",
            "2016/01/02 03:04:05",
            "2016-01-02 03:04:05 +01:00",
            "2016-01-02 at 03:04:05",
            "0a1b",
            "DEADbeef",
            "0a1b2",
            "abc",
            "",
        ]
    )
    | st.text(alphabet="0a:-T ", max_size=6)
    | st.one_of(
        st.integers(-128, 127),
        st.integers(-32768, 32767),
        st.integers(-(2**31), 2**31 - 1),
        st.integers(-(2**63), 2**63 - 1),
        st.integers(2**63, 2**66),
        st.just(10**40),
    ).map(lambda i: JsonNumber(str(i)))
    | st.sampled_from(["1e5", "-1e5", "1E-400", "1.5", "-0.25", "123.4567"]).map(JsonNumber)
    | st.sampled_from(
        [
            "-0",
            "2E3",
            "-2.5E-3",
            "1E400",
            "12345678901234567890",
            "0." + "1" * 30,
            "1" * 20 + "." + "1" * 18,
            "1" * 20 + "." + "1" * 30,
            "-" + "9" * 20 + "." + "9" * 30,
        ]
    ).map(JsonNumber)
    | st.floats(allow_nan=False, allow_infinity=False).map(lambda f: JsonNumber(repr(f)))
)
# a small key alphabet, so documents share fields and unions form
fold_values = st.recursive(
    fold_leaves,
    lambda children: st.lists(children, max_size=3)
    | st.dictionaries(st.sampled_from("abc"), children, max_size=3),
    max_leaves=10,
)


def dump_lexical(v):
    """JSON text with every ``JsonNumber`` written as its literal."""
    if isinstance(v, JsonNumber):
        return str(v)
    if isinstance(v, list):
        return "[" + ",".join(dump_lexical(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(json.dumps(k) + ":" + dump_lexical(x) for k, x in v.items()) + "}"
    return json.dumps(v)


def assert_fused_fold(acc, docs):
    """Fold ``docs`` both ways from ``acc``; at every step the fused result
    equals the spec's, in value and in raw union branch order, and is
    ``acc`` itself whenever it equals ``acc``."""
    spec = acc
    for d in docs:
        want = merge_types(spec, infer_type(d))
        got = merge_value(acc, d)
        assert got == want and str(got) == str(want), (acc, d)
        if got == acc:
            assert got is acc, (acc, d)
        acc, spec = got, want


@settings(max_examples=500, deadline=None)
@given(st.lists(fold_values, min_size=1, max_size=8))
def test_merge_value_is_fused_merge_types(vs):
    assert_fused_fold(None, [loads_first(dump_lexical(v)) for v in vs])


@settings(max_examples=100, deadline=None)
@given(st.lists(json_values, min_size=1, max_size=6))
def test_merge_value_plain_python_numbers(vs):
    # plain int/float values (not parsed lexically) take the fallback
    assert_fused_fold(None, vs)


# JSON number literals: every size class, signs, fractions and exponents
number_literals = st.from_regex(
    r"-?(0|[1-9][0-9]{0,49})(\.[0-9]{1,40})?([eE][-+]?[0-9]{1,3})?", fullmatch=True
) | st.sampled_from(
    [
        "-0", "99", "-99", "127", "-128", "128", "9999", "32767", "-32768",
        "999999999", "2147483647", "2147483648", "9" * 18, "9223372036854775807",
        "9223372036854775808", "12345678901234567890", "0." + "1" * 30,
        "1" * 20 + "." + "1" * 30, "1" * 38, "1" * 39, "1E5", "-1e5",
    ]
)


@settings(max_examples=1000, deadline=None)
@given(st.lists(number_literals, min_size=1, max_size=6), number_literals)
@example(["12345678901234567890", "0." + "1" * 30], "1" * 20 + "." + "1" * 30)
def test_covers_only_what_the_pick_cannot_widen(built, t):
    # _covers lets merge_value skip the pick: sound only if the pick could
    # not have widened the accumulator. decimal(50,30) above holds more
    # than 38 digits, while a 50-digit literal picks float.
    acc = None
    for lit in built:
        acc = merge_types(acc, _pick_number(lit))
    if _covers(acc, t):
        assert merge_types(acc, _pick_number(t)) == acc, (acc, t)


def test_covers_the_common_literals():
    assert _covers(NumericT(Kind.BYTE, 2, 0), "-99")
    assert _covers(NumericT(Kind.INT, 5, 0), "70000")
    assert _covers(NumericT(Kind.DECIMAL, 4, 2), "12.5")
    assert _covers(NumericT(Kind.DOUBLE, 0, 0), "1e5")
    # not covered: the pick widens, or only the full pick can tell
    assert not _covers(NumericT(Kind.BYTE, 3, 0), "128")
    assert not _covers(NumericT(Kind.LONG, 19, 0), "9223372036854775807")
    assert not _covers(NumericT(Kind.FLOAT, 0, 0), "1e5")
    assert not _covers(NumericT(Kind.LONG, 4, 0), "1.5")
    assert not _covers(NumericT(Kind.DECIMAL, 20, 30), "1" * 20 + "." + "1" * 30)
    assert not _covers(NumericT(Kind.DECIMAL, 50, 0), "1" * 50)


def test_schema_diff_evolution():
    from hive_json_spark.types import infer_type, merge_types, schema_diff

    old = infer_type({"a": 1, "b": "x", "gone": True})
    new = infer_type({"a": 100000, "b": "y", "fresh": [1]})
    d = dict((p, (c, det)) for p, c, det in schema_diff(old, new))
    assert d["root.a"][0] == "widened"          # tinyint -> int
    assert d["root.fresh"][0] == "added"
    assert d["root.gone"][0] == "removed"
    assert "root.b" not in d                     # unchanged
    # incompatible change flags as "changed"
    old2 = infer_type({"x": 1})
    new2 = infer_type({"x": "s"})
    assert schema_diff(old2, new2)[0][1] == "changed"
    # merging old into new is always "widened"-only from old's perspective
    widened = merge_types(old, new)
    assert all(c in ("widened", "added") for _, c, _ in schema_diff(old, widened))


@settings(max_examples=200, deadline=None)
@given(json_values)
def test_canonicalize_idempotent(v):
    t = canonicalize(infer_type(via_json(v)))
    assert canonicalize(t) == t


@settings(max_examples=200, deadline=None)
@given(json_values, json_values)
def test_to_spark_type_total(a, b):
    """Every type the lattice can produce (incl. merge-created unions) maps
    to a Spark type without error."""
    t = merge_types(infer_type(via_json(a)), infer_type(via_json(b)))
    to_spark_type(t)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(json_values, min_size=2, max_size=6),
    st.integers(min_value=0, max_value=2**31),
)
def test_canonical_fold_is_permutation_invariant(vs, seed):
    """The distributed-determinism claim behind ``canonicalize``
    (types.py): folding the SAME type multiset in ANY order — and any
    reduction shape — canonicalizes to one identical tree. This is the
    property the partial+final tree-reduce in infer.py depends on: Spark
    gives no ordering guarantee across partitions, and the reference's
    union branch order is fold-order-sensitive (UnionType.java:89-100),
    so only canonicalize(fold(perm)) being constant makes the distributed
    result well-defined. Sequential folds over 10 random permutations
    plus 5 random binary reduction trees must all agree."""
    import functools
    import random as _random

    from hive_json_spark.types import merge_types as _merge

    ts = [infer_type(via_json(v)) for v in vs]
    rnd = _random.Random(seed)

    base = canonicalize(functools.reduce(_merge, ts))
    for _ in range(10):
        order = list(range(len(ts)))
        rnd.shuffle(order)
        assert canonicalize(functools.reduce(_merge, [ts[i] for i in order])) == base
    for _ in range(5):
        pool = list(ts)
        while len(pool) > 1:  # random pairwise reduction tree
            a = pool.pop(rnd.randrange(len(pool)))
            b = pool.pop(rnd.randrange(len(pool)))
            pool.append(_merge(a, b))
        assert canonicalize(pool[0]) == base
