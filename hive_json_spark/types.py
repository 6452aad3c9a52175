"""The Hive type lattice: per-document type induction + schema merge.

This is a pure-Python, *pure-functional* re-expression of the reference
engine's data model (hortonworks/hive-json):

- type induction: ``infer_type`` mirrors ``JsonSchemaFinder.pickType``
  (JsonSchemaFinder.java:56-134) including the numeric-sizing boundaries
  (:61-96), the hex/timestamp regex subtyping (:42-47, :97-105) and the
  float-vs-double quirk (:91-96, reproduced bug-for-bug).
- schema merge: ``merge_types`` mirrors ``JsonSchemaFinder.mergeType``
  (JsonSchemaFinder.java:136-151) plus the per-class ``subsumes``/``merge``
  lattice (NumericType.java:74-88, StringType.java:47-57,
  StructType.java:73-95, ListType.java:58-75, UnionType.java:78-102,
  BooleanType.java:35-42, NullType.java:35-42).
- rendering: ``str(t)`` matches the reference ``toString`` forms;
  ``to_hive_ddl`` matches ``printTopType``/``printType``
  (JsonSchemaFinder.java:153-221); ``to_flat`` matches ``printFlat``
  (HiveType.java:88-90 + subclass overrides).

Unlike the reference (which mutates the winning operand in place —
HiveType.java:75-80), every operation here returns new values: Spark task
retries and speculative execution demand a pure merge operator. The merge
is associative-enough and commutative up to union branch order; the
reference's fold-order sensitivity (UnionType.java:89-100) is preserved,
with an optional ``canonicalize`` pass for distributed determinism.

NOTE (reference bug, not reproduced): ``NumericType.equals`` in the
reference uses ``||`` where ``&&`` is meant (NumericType.java:41). Nothing
in the reference's main path depends on it; we implement structural
equality correctly.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from enum import Enum
from typing import Iterator, Mapping, Optional, Sequence, Tuple, Union as TUnion

__all__ = [
    "Kind",
    "HType",
    "NullT",
    "BooleanT",
    "NumericT",
    "StringT",
    "StructT",
    "ListT",
    "UnionT",
    "JsonNumber",
    "infer_type",
    "merge_types",
    "canonicalize",
    "loads_first",
    "iter_json_documents",
    "to_hive_ddl",
    "to_flat",
    "to_spark_type",
]


class Kind(Enum):
    """Type kinds with the reference's subsumption ranks (HiveType.java:28-47)."""

    NULL = ("null", 0)
    BOOLEAN = ("boolean", 1)
    BYTE = ("byte", 1)
    SHORT = ("short", 2)
    INT = ("int", 3)
    LONG = ("long", 4)
    DECIMAL = ("decimal", 5)
    FLOAT = ("float", 6)
    DOUBLE = ("double", 7)
    BINARY = ("binary", 1)
    DATE = ("date", 1)  # declared but never produced by induction (parity)
    TIMESTAMP = ("timestamp", 1)
    STRING = ("string", 2)
    STRUCT = ("struct", 1)
    LIST = ("list", 1)
    UNION = ("union", 8)
    MAP = ("map", 1)  # extension: wide-struct decay target (not in reference)

    def __init__(self, label: str, rank: int) -> None:
        self.label = label
        self.rank = rank


# --- regexes (JsonSchemaFinder.java:41-49), verbatim semantics ---------------

_HEX_RE = re.compile(r"^([0-9a-fA-F][0-9a-fA-F])+$")
_TIMESTAMP_RE = re.compile(
    r"^[\"]?([0-9]{4}[-/][0-9]{2}[-/][0-9]{2})[T ]"
    r"([0-9]{2}:[0-9]{2}:[0-9]{2})"
    r"(([ ][-+]?[0-9]{2}([:][0-9]{2})?)|Z)?[\"]?$"
)
_DECIMAL_RE = re.compile(r"^-?(?P<int>[0-9]+)([.](?P<fraction>[0-9]+))?$")

# EXTENSION regex (no reference counterpart): the reference declares
# Kind.DATE but never produces it — its pickString has no date branch
# (HiveType.java:32 dead enum member; TestJsonSchemaFinder.java:52-53 pins
# timestamps-only). ``infer_type(detect_dates=True)`` opts into producing
# it for bare ISO dates; the default path never consults this regex, so
# reference parity is untouched (same opt-in-deviation pattern as
# ``canonicalize``). Same separator family as the timestamp regex.
_DATE_RE = re.compile(r"^[\"]?[0-9]{4}[-/][0-9]{2}[-/][0-9]{2}[\"]?$")

MAX_DECIMAL_DIGITS = 38  # JsonSchemaFinder.java:51
_MIN_LONG = -(2**63)
_MAX_LONG = 2**63 - 1
# Java Float.MIN_VALUE is the smallest *positive* subnormal (2**-149) and
# Float.MAX_VALUE is (2 - 2**-23) * 2**127. The induction compares the
# *double* value against [MIN, MAX]; negative or zero scientific-notation
# numbers therefore classify DOUBLE (JsonSchemaFinder.java:91-96 quirk).
_JAVA_FLOAT_MIN = 2.0**-149
_JAVA_FLOAT_MAX = (2.0 - 2.0**-23) * 2.0**127


class JsonNumber(str):
    """A JSON number kept in its lexical form.

    The reference types numbers off their *literal text* (Gson
    LazilyParsedNumber → ``prim.getAsString()``, JsonSchemaFinder.java:62).
    Python's ``json.loads`` normally erases that (``1.2e9`` → ``1200000000.0``),
    so corpus parsing uses ``parse_int=JsonNumber, parse_float=JsonNumber`` to
    preserve it. Being a ``str`` subclass keeps shredding (``getAsString``
    parity) free.
    """

    __slots__ = ()


# --- the type tree -----------------------------------------------------------


@dataclass(frozen=True)
class HType:
    """A node in the discovered-type tree. Immutable; merges return new trees."""

    kind: Kind = field(init=False, default=Kind.NULL)

    # -- subsumption / merge (overridden per subclass) --
    def subsumes(self, other: "HType") -> bool:
        raise NotImplementedError

    def merged_with(self, other: "HType") -> "HType":
        """Pure counterpart of the reference's in-place ``merge``; caller must
        ensure ``self.subsumes(other)``."""
        raise NotImplementedError

    def flat_items(self, prefix: str) -> Iterator[Tuple[str, "HType"]]:
        """(path, leaf-type) pairs; printFlat's traversal (HiveType.java:88-90)."""
        yield prefix, self


@dataclass(frozen=True)
class NullT(HType):
    kind: Kind = field(init=False, default=Kind.NULL)

    def __str__(self) -> str:
        return "void"

    def subsumes(self, other: HType) -> bool:
        return other.kind is Kind.NULL

    def merged_with(self, other: HType) -> HType:
        return self


@dataclass(frozen=True)
class BooleanT(HType):
    kind: Kind = field(init=False, default=Kind.BOOLEAN)

    def __str__(self) -> str:
        return "boolean"

    def subsumes(self, other: HType) -> bool:
        return other.kind in (Kind.BOOLEAN, Kind.NULL)

    def merged_with(self, other: HType) -> HType:
        return self


_NUMERIC_KINDS = frozenset(
    {Kind.BYTE, Kind.SHORT, Kind.INT, Kind.LONG, Kind.DECIMAL, Kind.FLOAT, Kind.DOUBLE}
)
_NUMERIC_RENDER = {
    Kind.BYTE: "tinyint",
    Kind.SHORT: "smallint",
    Kind.INT: "int",
    Kind.LONG: "bigint",
    Kind.FLOAT: "float",
    Kind.DOUBLE: "double",
}


@dataclass(frozen=True)
class NumericT(HType):
    """All numeric kinds; tracks max digits before/after the decimal point
    (NumericType.java:26-29) for decimal(p,s) rendering."""

    num_kind: Kind = Kind.INT
    int_digits: int = 0
    scale: int = 0
    kind: Kind = field(init=False)

    def __post_init__(self) -> None:
        if self.num_kind not in _NUMERIC_KINDS:
            raise ValueError(f"not a numeric kind: {self.num_kind}")
        object.__setattr__(self, "kind", self.num_kind)

    def __str__(self) -> str:
        if self.num_kind is Kind.DECIMAL:
            return f"decimal({self.int_digits + self.scale},{self.scale})"
        return _NUMERIC_RENDER[self.num_kind]

    def subsumes(self, other: HType) -> bool:
        return isinstance(other, NumericT) or other.kind is Kind.NULL

    def merged_with(self, other: HType) -> HType:
        if not isinstance(other, NumericT):
            return self
        # max-digit tracking + rank promotion (NumericType.java:79-88);
        # DECIMAL ∨ FLOAT = FLOAT — precision intentionally discarded.
        kind = self.num_kind if self.num_kind.rank >= other.num_kind.rank else other.num_kind
        return NumericT(
            kind,
            max(self.int_digits, other.int_digits),
            max(self.scale, other.scale),
        )


_STRING_KINDS = frozenset({Kind.BINARY, Kind.DATE, Kind.TIMESTAMP, Kind.STRING})


@dataclass(frozen=True)
class StringT(HType):
    """String-shaped kinds: string / binary / timestamp / date."""

    str_kind: Kind = Kind.STRING
    kind: Kind = field(init=False)

    def __post_init__(self) -> None:
        if self.str_kind not in _STRING_KINDS:
            raise ValueError(f"not a string kind: {self.str_kind}")
        object.__setattr__(self, "kind", self.str_kind)

    def __str__(self) -> str:
        return self.str_kind.label

    def subsumes(self, other: HType) -> bool:
        return isinstance(other, StringT) or other.kind is Kind.NULL

    def merged_with(self, other: HType) -> HType:
        # differing string kinds decay to plain string (StringType.java:52-57)
        if isinstance(other, StringT) and other.str_kind is not self.str_kind:
            return StringT(Kind.STRING)
        return self


@dataclass(frozen=True)
class StructT(HType):
    """Struct with name-sorted fields (TreeMap parity, StructType.java:29)."""

    fields: Tuple[Tuple[str, HType], ...] = ()
    kind: Kind = field(init=False, default=Kind.STRUCT)

    def __post_init__(self) -> None:
        object.__setattr__(self, "fields", tuple(sorted(self.fields, key=lambda kv: kv[0])))

    @staticmethod
    def of(mapping: Mapping[str, HType]) -> "StructT":
        return StructT(tuple(mapping.items()))

    def __str__(self) -> str:
        inner = ",".join(f"{name}:{t}" for name, t in self.fields)
        return f"struct<{inner}>"

    def subsumes(self, other: HType) -> bool:
        return other.kind in (Kind.STRUCT, Kind.NULL)

    def merged_with(self, other: HType) -> HType:
        if not isinstance(other, StructT):
            return self
        # per-field union of field maps; absent fields adopted as-is
        # (nullable-by-absence, StructType.java:78-95)
        merged = dict(self.fields)
        for name, theirs in other.fields:
            ours = merged.get(name)
            if ours is None:
                merged[name] = theirs
            elif ours.subsumes(theirs):
                merged[name] = ours.merged_with(theirs)
            elif theirs.subsumes(ours):
                merged[name] = theirs.merged_with(ours)
            else:
                merged[name] = UnionT((ours, theirs))
        return StructT.of(merged)

    def flat_items(self, prefix: str) -> Iterator[Tuple[str, HType]]:
        for name, t in self.fields:
            yield from t.flat_items(f"{prefix}.{name}")


@dataclass(frozen=True)
class ListT(HType):
    element: HType = field(default_factory=NullT)
    kind: Kind = field(init=False, default=Kind.LIST)

    def __str__(self) -> str:
        return f"list<{self.element}>"

    def subsumes(self, other: HType) -> bool:
        return other.kind in (Kind.LIST, Kind.NULL)

    def merged_with(self, other: HType) -> HType:
        if not isinstance(other, ListT):
            return self
        return ListT(merge_types(self.element, other.element))

    def flat_items(self, prefix: str) -> Iterator[Tuple[str, HType]]:
        yield from self.element.flat_items(f"{prefix}._list")


@dataclass(frozen=True)
class UnionT(HType):
    """Open sum type; branch order is insertion order and merge picks the
    *first* compatible branch (UnionType.java:89-100) — fold-order-sensitive
    by design, exactly like the reference."""

    children: Tuple[HType, ...] = ()
    kind: Kind = field(init=False, default=Kind.UNION)

    def __str__(self) -> str:
        return "uniontype<" + ",".join(str(c) for c in self.children) + ">"

    def subsumes(self, other: HType) -> bool:
        return True  # a union absorbs everything (UnionType.java:78-80)

    def merged_with(self, other: HType) -> HType:
        if isinstance(other, UnionT):
            result: HType = self
            for child in other.children:
                result = result.merged_with(child)  # type: ignore[assignment]
            return result
        kids = list(self.children)
        for i, child in enumerate(kids):
            if child.subsumes(other):
                kids[i] = child.merged_with(other)
                return UnionT(tuple(kids))
            if other.subsumes(child):
                kids[i] = other.merged_with(child)
                return UnionT(tuple(kids))
        kids.append(other)
        return UnionT(tuple(kids))

    def flat_items(self, prefix: str) -> Iterator[Tuple[str, HType]]:
        for i, child in enumerate(self.children):
            yield from child.flat_items(f"{prefix}.{i}")


@dataclass(frozen=True)
class MapT(HType):
    """``map<string, value>`` — an EXTENSION, never produced by induction
    (the reference always models JSON objects as structs,
    JsonSchemaFinder.java:124-133). Created only by ``decay_wide_structs``:
    the schema-explosion guard for objects used as key-value stores
    (uuid-keyed props and the like), whose struct form would grow without
    bound at corpus scale."""

    value: HType = field(default_factory=NullT)
    kind: Kind = field(init=False, default=Kind.MAP)

    def __str__(self) -> str:
        return f"map<string,{self.value}>"

    def subsumes(self, other: HType) -> bool:
        # absorbs structs so a decayed partition merges with an undecayed one
        return other.kind in (Kind.MAP, Kind.STRUCT, Kind.NULL)

    def merged_with(self, other: HType) -> HType:
        if isinstance(other, MapT):
            return MapT(merge_types(self.value, other.value))
        if isinstance(other, StructT):
            v = self.value
            for _, ft in other.fields:
                v = merge_types(v, ft)
            return MapT(v)
        return self

    def flat_items(self, prefix: str) -> Iterator[Tuple[str, HType]]:
        yield from self.value.flat_items(f"{prefix}._map")


def decay_wide_structs(t: HType, max_fields: int = 256) -> HType:
    """Recursively decay any struct wider than ``max_fields`` into
    ``map<string, lub(field types)>``.

    The bound caps accumulator memory AND downstream plan width: a
    million-key struct is unusable as a Spark schema (Catalyst plans are
    per-column), while the map form stays O(1). Applied per-partition
    inside the distributed folds when requested, so the guard holds during
    aggregation, not just at the end."""
    if isinstance(t, StructT):
        fields = tuple((n, decay_wide_structs(ft, max_fields)) for n, ft in t.fields)
        if len(fields) > max_fields:
            v: HType = NullT()
            for _, ft in fields:
                v = merge_types(v, ft)
            return MapT(v)
        return StructT(fields)
    if isinstance(t, ListT):
        return ListT(decay_wide_structs(t.element, max_fields))
    if isinstance(t, UnionT):
        return UnionT(tuple(decay_wide_structs(c, max_fields) for c in t.children))
    if isinstance(t, MapT):
        return MapT(decay_wide_structs(t.value, max_fields))
    return t


# --- induction ---------------------------------------------------------------

JsonValue = TUnion[None, bool, int, float, str, list, dict, JsonNumber]


_NUM_CACHE: dict = {}


def _num(kind: Kind, int_digits: int, scale: int) -> NumericT:
    """Interned NumericT — numeric leaves dominate allocation in the fold
    and the distinct (kind, digits, scale) space is tiny."""
    key = (kind, int_digits, scale)
    t = _NUM_CACHE.get(key)
    if t is None:
        t = _NUM_CACHE[key] = NumericT(kind, int_digits, scale)
    return t


def _pick_number(text: str) -> NumericT:
    """Numeric sizing off the lexical form (JsonSchemaFinder.java:61-96)."""
    m = _DECIMAL_RE.match(text)
    if m:
        int_digits = len(m.group("int"))
        fraction = m.group("fraction")
        scale = 0 if fraction is None else len(fraction)
        if scale == 0:
            if int_digits < 19:
                value = int(text)
                if -128 <= value < 128:
                    return _num(Kind.BYTE, int_digits, scale)
                if -32768 <= value < 32768:
                    return _num(Kind.SHORT, int_digits, scale)
                if -2147483648 <= value < 2147483648:
                    return _num(Kind.INT, int_digits, scale)
                return _num(Kind.LONG, int_digits, scale)
            if int_digits == 19:
                # 19 digits may or may not fit a long (JsonSchemaFinder.java:79-85)
                value = int(text)
                if _MIN_LONG <= value <= _MAX_LONG:
                    return _num(Kind.LONG, int_digits, scale)
        if int_digits + scale <= MAX_DECIMAL_DIGITS:
            return _num(Kind.DECIMAL, int_digits, scale)
    # scientific notation or >38 digits: Float-range test on the double value;
    # Java Float.MIN_VALUE is positive ⇒ negatives/zero go DOUBLE (bug parity)
    value_d = float(text)
    if _JAVA_FLOAT_MIN <= value_d <= _JAVA_FLOAT_MAX:
        return _num(Kind.FLOAT, 0, 0)
    return _num(Kind.DOUBLE, 0, 0)


def _pick_string(text: str, detect_dates: bool = False) -> StringT:
    if _TIMESTAMP_RE.match(text):
        return StringT(Kind.TIMESTAMP)
    if detect_dates and _DATE_RE.match(text):
        return StringT(Kind.DATE)
    if _HEX_RE.match(text):
        return StringT(Kind.BINARY)
    return StringT(Kind.STRING)


def infer_type(value: JsonValue, detect_dates: bool = False) -> HType:
    """JSON value → discovered type (pickType parity, JsonSchemaFinder.java:56-134).

    For bug-for-bug numeric parity, parse corpora with
    ``iter_json_documents``/``loads_first`` so numbers arrive as
    :class:`JsonNumber` lexical forms. Plain ``int``/``float`` are accepted
    and typed off their canonical Python rendering.

    ``detect_dates`` (default False) is a documented EXTENSION, not parity:
    the reference's ``Kind.DATE`` is a dead enum member its induction never
    produces (HiveType.java:32; pickString has timestamp/binary/string
    branches only, JsonSchemaFinder.java:98-106), and the default here
    matches that exactly. Opting in types bare ISO dates (``2024-01-31``,
    the separator family the timestamp regex accepts) as ``date`` leaves —
    the one user-visible gap a real JSON corpus hits daily. Mixed
    date/non-date strings still decay to plain ``string`` through the
    ordinary lattice rule (StringType.java:52-57), and goldens pin the
    default path byte-identical with the flag absent.
    """
    if value is None:
        return NullT()
    if isinstance(value, bool):
        return BooleanT()
    if isinstance(value, JsonNumber):
        return _pick_number(str(value))
    if isinstance(value, int):
        return _pick_number(str(value))
    if isinstance(value, float):
        return _pick_number(repr(value))
    if isinstance(value, str):
        return _pick_string(value, detect_dates)
    if isinstance(value, list):
        element: HType = NullT()
        for child in value:
            element = merge_types(element, infer_type(child, detect_dates))
        return ListT(element)
    if isinstance(value, dict):
        return StructT(
            tuple((name, infer_type(v, detect_dates)) for name, v in value.items())
        )
    raise TypeError(f"not a JSON value: {type(value)!r}")


def merge_types(previous: Optional[HType], incoming: Optional[HType]) -> Optional[HType]:
    """Least-upper-bound-ish join (mergeType parity, JsonSchemaFinder.java:136-151).

    Tries ``previous.subsumes(incoming)`` first — the asymmetry the
    reference's union-branch ordering depends on — then the reverse, else
    wraps both in a union. ``None`` (no documents) is the identity, so
    merging two empty folds stays ``None``. Pure: returns a new tree.
    """
    if previous is None:
        return incoming
    if incoming is None:
        return previous
    if previous == incoming:
        # merge is idempotent for equal trees in every class (numeric ranks,
        # string kinds, struct/list recursion, union child-wise) — skipping
        # the rebuild makes the hot fold path allocation-free once the
        # accumulator stabilizes on a homogeneous corpus
        return previous
    if previous.subsumes(incoming):
        return previous.merged_with(incoming)
    if incoming.subsumes(previous):
        return incoming.merged_with(previous)
    return UnionT((previous, incoming))


_CANON_ORDER = {k: i for i, k in enumerate(Kind)}


def canonicalize(t: HType) -> HType:
    """Sort union branches (kind order, then rendered form) recursively.

    The reference is fold-order-sensitive (UnionType.java:89-100); a
    distributed tree-reduce needs a canonical form for deterministic output.
    Opt-in: parity tests use the raw order, distributed entry points sort.
    """
    if isinstance(t, StructT):
        return StructT(tuple((n, canonicalize(v)) for n, v in t.fields))
    if isinstance(t, ListT):
        return ListT(canonicalize(t.element))
    if isinstance(t, UnionT):
        kids = tuple(sorted((canonicalize(c) for c in t.children),
                            key=lambda c: (_CANON_ORDER[c.kind], str(c))))
        return UnionT(kids)
    if isinstance(t, MapT):
        return MapT(canonicalize(t.value))
    return t


# --- concatenated-JSON parsing (JsonStreamParser parity) ---------------------

_WS = re.compile(r"[ \t\n\r]*")


def _decoder() -> json.JSONDecoder:
    return json.JSONDecoder(parse_int=JsonNumber, parse_float=JsonNumber)


def loads_first(text: str) -> JsonValue:
    """Parse the first JSON document in ``text`` (numbers kept lexical)."""
    value, _ = _decoder().raw_decode(text, _WS.match(text, 0).end())
    return value


def iter_json_documents(text: str) -> Iterator[JsonValue]:
    """Yield every concatenated/NDJSON document in ``text``.

    Gson's ``JsonStreamParser`` pulls one document at a time with no
    separator requirement (JsonSchemaFinder.java:239-242); this is the same
    contract via ``raw_decode`` resumption.
    """
    dec = _decoder()
    pos = _WS.match(text, 0).end()
    n = len(text)
    while pos < n:
        value, pos = dec.raw_decode(text, pos)
        yield value
        pos = _WS.match(text, pos).end()


# --- renderers ---------------------------------------------------------------

_INDENT = 2  # JsonSchemaFinder.java:50


def _render_type(t: Optional[HType], margin: int) -> str:
    """printType parity (JsonSchemaFinder.java:153-201)."""
    if t is None:
        return "void"
    if t.kind not in (Kind.STRUCT, Kind.LIST, Kind.UNION, Kind.MAP):
        return str(t)
    if isinstance(t, StructT):
        parts = []
        for name, ft in t.fields:
            parts.append(f"{' ' * margin}{name}: {_render_type(ft, margin + _INDENT)}")
        return "struct <\n" + ",\n".join(parts) + ">"
    if isinstance(t, ListT):
        return f"array <{_render_type(t.element, margin + _INDENT)}>"
    if isinstance(t, UnionT):
        inner = ",".join(_render_type(c, margin + _INDENT) for c in t.children)
        return f"uniontype <{inner}>"
    if isinstance(t, MapT):
        return f"map <string,{_render_type(t.value, margin + _INDENT)}>"
    raise ValueError(f"unknown kind {t.kind}")


def to_hive_ddl(t: HType, table_name: str = "tbl") -> str:
    """``create table`` DDL (printTopType parity, JsonSchemaFinder.java:203-221).

    The top-level type must be a struct — same constraint as the reference's
    cast at JsonSchemaFinder.java:253.
    """
    if not isinstance(t, StructT):
        raise TypeError(f"top-level type must be a struct, got {t.kind.label}")
    cols = [
        f"{' ' * _INDENT}{name} {_render_type(ft, 2 * _INDENT)}"
        for name, ft in t.fields
    ]
    return f"create table {table_name} (\n" + ",\n".join(cols) + "\n)\n"


def to_flat(t: HType, prefix: str = "root") -> str:
    """Flat dotted-path rendering (printFlat parity): one ``path: type`` line
    per leaf; lists as ``._list``, union branches as ``.0``, ``.1``, ..."""
    return "".join(f"{path}: {leaf}\n" for path, leaf in t.flat_items(prefix))


# --- Spark mapping (SURVEY §1.6) --------------------------------------------


def to_spark_type(t: HType, *, union_mode: str = "tagged", strict_binary: bool = False):
    """Discovered type → ``pyspark.sql.types`` tree.

    union_mode:
      - ``"tagged"``: the ORC/Hive encoding — struct<tag:tinyint, field0:t0, ...>
      - ``"string"``: decay unions to StringType (lossy, flag-gated)
    strict_binary: map BINARY→BinaryType (raw UTF-8 bytes under ``from_json``);
      default keeps hex strings as StringType so loading round-trips.
    """
    from pyspark.sql import types as T

    def conv(t: HType):
        k = t.kind
        if k is Kind.NULL:
            return T.NullType()
        if k is Kind.BOOLEAN:
            return T.BooleanType()
        if k is Kind.BYTE:
            return T.ByteType()
        if k is Kind.SHORT:
            return T.ShortType()
        if k is Kind.INT:
            return T.IntegerType()
        if k is Kind.LONG:
            return T.LongType()
        if k is Kind.DECIMAL:
            assert isinstance(t, NumericT)
            return T.DecimalType(min(t.int_digits + t.scale, 38), min(t.scale, 38))
        if k is Kind.FLOAT:
            return T.FloatType()
        if k is Kind.DOUBLE:
            return T.DoubleType()
        if k is Kind.BINARY:
            return T.BinaryType() if strict_binary else T.StringType()
        if k is Kind.DATE:
            return T.DateType()
        if k is Kind.TIMESTAMP:
            return T.TimestampType()
        if k is Kind.STRING:
            return T.StringType()
        if isinstance(t, StructT):
            return T.StructType(
                [T.StructField(n, conv(ft), nullable=True) for n, ft in t.fields]
            )
        if isinstance(t, ListT):
            return T.ArrayType(conv(t.element), containsNull=True)
        if isinstance(t, MapT):
            return T.MapType(T.StringType(), conv(t.value), valueContainsNull=True)
        if isinstance(t, UnionT):
            if union_mode == "string":
                return T.StringType()
            fields = [T.StructField("tag", T.ByteType(), nullable=True)]
            fields += [
                T.StructField(f"field{i}", conv(c), nullable=True)
                for i, c in enumerate(t.children)
            ]
            return T.StructType(fields)
        raise ValueError(f"unknown kind {k}")

    return conv(t)


# --- schema evolution --------------------------------------------------------


def schema_diff(old: Optional[HType], new: Optional[HType], prefix: str = "root"):
    """Field-level diff between two discovered schemas.

    Returns a list of (path, change, detail) with change ∈ {"added",
    "removed", "widened", "changed"} — "widened" when the new type subsumes
    the old (safe evolution: numeric rank up, string decay, new union
    branch), "changed" when it does not (readers must re-infer). The bread
    and butter of monitoring a JSON feed for drift: run yesterday's schema
    against today's and alert on anything not "widened".
    """
    out = []
    if old is None and new is None:
        return out
    if old is None:
        out.append((prefix, "added", str(new)))
        return out
    if new is None:
        out.append((prefix, "removed", str(old)))
        return out
    if str(old) == str(new):
        return out
    if isinstance(old, StructT) and isinstance(new, StructT):
        old_f, new_f = dict(old.fields), dict(new.fields)
        for name in sorted(set(old_f) | set(new_f)):
            out.extend(schema_diff(old_f.get(name), new_f.get(name), f"{prefix}.{name}"))
        return out
    if isinstance(old, ListT) and isinstance(new, ListT):
        return schema_diff(old.element, new.element, f"{prefix}._list")
    merged = merge_types(old, new)
    if str(merged) == str(new):
        out.append((prefix, "widened", f"{old} -> {new}"))
    else:
        out.append((prefix, "changed", f"{old} -> {new}"))
    return out
