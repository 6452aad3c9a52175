"""Distributed schema inference: the reference's fold, as a Spark aggregation.

The reference streams documents one at a time through ``pickType`` +
``mergeType`` in a single sequential loop (JsonSchemaFinder.java:227-247).
Here the same lattice runs as a classic partial+final aggregation:

    scan → per-partition local fold (partial)  → tree-reduce of partials (final)

Scale design (100 TB):
- **NDJSON / one-doc-per-line** (the common large-corpus layout): read with
  ``spark.read.text`` — splittable, so a 1 GB+ file parallelizes across
  executors. Per-partition fold keeps O(schema) memory; only one partial
  type tree per partition crosses the wire.
- **Concatenated multi-line JSON or .gz**: not splittable (the same
  constraint the reference has — gzip forces sequential reads,
  JsonSchemaFinder.java:234-236). Read with ``spark.read.text(...,
  wholetext=True)``: one row per *file*, decompressed by Hadoop's codec
  from the ``.gz`` suffix; throughput scales with file count.
- Every entry point, in-table JSON columns included, ends in the same
  ``mapInPandas`` fold over Arrow batches — one pickled partial per
  partition, merged on the driver. The driver merges #partitions items
  (KBs each), never data.
- Result determinism: the reference is fold-order-sensitive for union
  branch order (UnionType.java:89-100); distributed folds are unordered, so
  entry points canonicalize (sorted union branches) by default.
"""

from __future__ import annotations

import glob as _glob
import gzip
import io
import json
import os
import pickle
import re
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Optional, Sequence, Tuple

from hive_json_spark.types import (
    HType,
    JsonNumber,
    canonicalize,
    decay_wide_structs,
    infer_type,
    iter_json_documents,
    merge_types,
    to_flat,
    to_hive_ddl,
)

__all__ = [
    "InferResult",
    "infer_files_local",
    "infer_schema",
    "infer_schema_native",
    "infer_schema_of_column",
    "load_json_column",
]


@dataclass
class InferResult:
    """Discovered type + record count (count parity: JsonSchemaFinder.java:248).

    ``corrupt`` counts undecodable documents skipped under
    ``on_error="skip"`` (always 0 under the default ``"raise"``)."""

    htype: Optional[HType]
    records: int
    corrupt: int = 0


# --- local (single-process) path: CLI parity with the reference main ---------


def _open_text(path: str) -> io.TextIOBase:
    # transparent .gz by suffix (JsonSchemaFinder.java:234-236)
    if path.endswith(".gz"):
        return io.TextIOWrapper(gzip.open(path, "rb"), encoding="utf-8")
    return open(path, "r", encoding="utf-8")


def _expand(paths: Sequence[str] | str) -> List[str]:
    if isinstance(paths, str):
        paths = [paths]
    out: List[str] = []
    for p in paths:
        hits = sorted(_glob.glob(p))
        out.extend(hits if hits else [p])
    return out


def infer_files_local(paths: Sequence[str] | str) -> InferResult:
    """Sequential left-fold over files — exact reference semantics including
    union branch order (single-threaded fold, JsonSchemaFinder.java:227-247)."""
    result: Optional[HType] = None
    count = 0
    for path in _expand(paths):
        with _open_text(path) as f:
            for doc in iter_json_documents(f.read()):
                result = merge_types(result, infer_type(doc))
                count += 1
    return InferResult(result, count)


# --- distributed paths -------------------------------------------------------


def _fold_texts(
    texts: Iterable[str], on_error: str = "raise"
) -> Tuple[Optional[HType], int, int]:
    """Fold texts into (type, records, corrupt). ``on_error="skip"`` drops
    an undecodable text (counting it) instead of failing the task — at
    100 TB a handful of truncated documents must not kill a 10-hour job;
    the corrupt count keeps the skip visible instead of silent."""
    t: Optional[HType] = None
    n = 0
    corrupt = 0
    dec = json.JSONDecoder(parse_int=JsonNumber, parse_float=JsonNumber)
    for text in texts:
        if text is None:
            continue
        s = text.strip()
        if not s:
            continue
        if "\n" not in s and s[0] in "{[" and s[-1] in "}]":
            # single-doc fast path (NDJSON line)
            try:
                t = merge_types(t, infer_type(dec.decode(s)))
                n += 1
                continue
            except ValueError:
                pass
        try:
            for doc in iter_json_documents(s):
                t = merge_types(t, infer_type(doc))
                n += 1
        except ValueError:
            if on_error != "skip":
                raise
            corrupt += 1
    return t, n, corrupt


def infer_schema(
    spark,
    paths: Sequence[str] | str,
    *,
    ndjson: bool = True,
    canonical: bool = True,
    on_error: str = "raise",
) -> InferResult:
    """Distributed inference over JSON corpus files (plain or ``.gz``).

    ndjson=True  → one row per line (splittable scan, the scale path).
    ndjson=False → one row per whole file: concatenated documents and .gz
                   corpora, read sequentially per file as the reference
                   does, parallel across files.

    Either way the rows go through the same Arrow fold as a JSON column,
    so ``on_error`` applies per row: under ``"skip"`` a bad document
    keeps the documents before it in that line or file and counts one
    corrupt text. A named or globbed file Spark would silently skip
    (hidden ``_``/``.`` basename) raises ``ValueError`` instead.
    """
    paths = _expand(paths)
    hidden = [
        p
        for p in paths
        if os.path.basename(p).startswith(("_", ".")) and not os.path.isdir(p)
    ]
    if hidden:
        # Spark's file index drops such files silently (a directory named so
        # is still listed); a named input must not vanish
        raise ValueError(f"Spark skips files named with a leading '_' or '.': {hidden}")
    df = spark.read.text(paths, wholetext=not ndjson)
    return _fold_column_partials(
        df, "value", canonical=canonical, on_error=on_error, dedup=False
    )


# max partials merged in one place (one executor task or the driver); above
# this, _fold_column_partials inserts executor-side tree-merge rounds
_MERGE_FAN_IN = 64


def _fold_column_partials(
    df,
    column: str,
    *,
    canonical: bool,
    on_error: str = "raise",
    dedup: bool = True,
    max_struct_fields: Optional[int] = None,
) -> InferResult:
    """Shared Arrow partial+final fold over a string column.

    dedup=True folds each distinct value once scaled by frequency (JSON
    *columns* are often low-cardinality); dedup=False streams rows directly
    (an NDJSON corpus is nearly all-unique — value_counts would only add a
    hash pass there).
    """
    import pandas as pd

    def fold_partition(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        t: Optional[HType] = None
        n = 0
        bad = 0
        for pdf in batches:
            if dedup:
                for text, freq in pdf[column].value_counts().items():
                    pt, pn, pbad = _fold_texts([text], on_error)
                    t = merge_types(t, pt)
                    if max_struct_fields is not None and t is not None:
                        t = decay_wide_structs(t, max_struct_fields)
                    n += pn * int(freq)
                    bad += pbad * int(freq)
            else:
                pt, pn, pbad = _fold_texts(pdf[column].tolist(), on_error)
                t = merge_types(t, pt)
                if max_struct_fields is not None and t is not None:
                    t = decay_wide_structs(t, max_struct_fields)
                n += pn
                bad += pbad
        yield pd.DataFrame({"partial": [pickle.dumps((t, n, bad))]})

    from hive_json_spark.operators.util import ensure_parallelism

    def merge_partials(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        t: Optional[HType] = None
        n = 0
        bad = 0
        for pdf in batches:
            for blob in pdf["partial"]:
                pt, pn, pbad = pickle.loads(bytes(blob))
                t = merge_types(t, pt)
                n += pn
                bad += pbad
        yield pd.DataFrame({"partial": [pickle.dumps((t, n, bad))]})

    partials_df = ensure_parallelism(df.select(column)).mapInPandas(
        fold_partition, schema="partial binary"
    )
    # Tree final-merge: the driver loop below is fine for the usual few
    # hundred partials (KB each), but at 10⁴-10⁵ input partitions (100 TB)
    # a flat driver merge is a long single-threaded tail and a large
    # collect. Above _MERGE_FAN_IN partitions, insert executor-side merge
    # rounds (each shuffles only the tiny partials and reduces their count
    # by the fan-in) until a driver-sized set remains. merge_types is the
    # lattice join (associative), so the tree grouping leaves the
    # canonicalized result unchanged.
    n_parts = partials_df.rdd.getNumPartitions()
    while n_parts > _MERGE_FAN_IN:
        n_parts = -(-n_parts // _MERGE_FAN_IN)  # ceil division
        partials_df = partials_df.repartition(n_parts).mapInPandas(
            merge_partials, schema="partial binary"
        )
    partials = partials_df.collect()
    htype: Optional[HType] = None
    records = 0
    corrupt = 0
    for row in partials:
        t, n, bad = pickle.loads(row["partial"])
        htype = merge_types(htype, t)
        records += n
        corrupt += bad
    if max_struct_fields is not None and htype is not None:
        htype = decay_wide_structs(htype, max_struct_fields)
    if canonical and htype is not None:
        htype = canonicalize(htype)
    return InferResult(htype, records, corrupt)


def infer_schema_of_column(
    df,
    column: str,
    *,
    canonical: bool = True,
    on_error: str = "raise",
    max_struct_fields: Optional[int] = None,
) -> InferResult:
    """Infer the schema of a JSON-string column (e.g. ``events.props``).

    Arrow-batched: ``mapInPandas`` folds each partition locally and emits ONE
    pickled partial per partition; the driver merges #partitions partials.
    Each partition folds only its *distinct* values (scaled by frequency).
    Nothing is cached: every call folds the column as it is now.
    """
    return _fold_column_partials(
        df,
        column,
        canonical=canonical,
        on_error=on_error,
        dedup=True,
        max_struct_fields=max_struct_fields,
    )


# --- loading under the inferred schema (incl. union data) --------------------


def _contains_union(t: HType) -> bool:
    from hive_json_spark import types as _t

    if isinstance(t, _t.UnionT):
        return True
    if isinstance(t, _t.StructT):
        return any(_contains_union(ft) for _, ft in t.fields)
    if isinstance(t, _t.ListT):
        return _contains_union(t.element)
    return False


def load_json_column(df, column: str, htype: Optional[HType] = None, *, union_mode: str = "tagged"):
    """JSON-string column → typed ``parsed`` column under the inferred schema.

    Union-free schemas load with ``from_json`` — pure JVM, codegen, zero
    Python. Schemas containing unions (which Spark cannot natively load)
    are materialized by an Arrow kernel that routes each value to its union
    branch — the *first* branch that subsumes it, mirroring
    UnionType.java:89-100 — and emits the ORC-style tagged struct
    ``struct<tag:tinyint, field0:..., field1:...>``. ``union_mode="string"``
    instead decays union values to their JSON text (lossy, but keeps the
    whole load JVM-side via from_json where the rest of the tree allows).
    """
    from pyspark.sql import functions as F, types as T

    from hive_json_spark import types as _t
    from hive_json_spark.types import infer_type, to_spark_type

    if htype is None:
        htype = infer_schema_of_column(df, column).htype
    spark_schema = to_spark_type(htype, union_mode=union_mode)

    if union_mode == "string" or not _contains_union(htype):
        return df.withColumn("parsed", F.from_json(F.col(column), spark_schema))

    import datetime as _dt
    import decimal as _dec

    import pandas as pd

    _TS_ZONE = re.compile(r"(Z|[+-][0-9]{2}(:[0-9]{2})?)$")

    def encode(value, t: HType):
        if value is None or isinstance(t, _t.NullT):
            return None
        if isinstance(t, _t.BooleanT):
            return bool(value)
        if isinstance(t, _t.NumericT):
            text = str(value)
            if t.num_kind is _t.Kind.DECIMAL:
                return _dec.Decimal(text)
            if t.num_kind in (_t.Kind.FLOAT, _t.Kind.DOUBLE):
                return float(text)
            return int(text)
        if isinstance(t, _t.StringT):
            if t.str_kind is _t.Kind.TIMESTAMP:
                text = str(value).replace("/", "-").replace("T", " ", 1)
                m = _TS_ZONE.search(text)
                tz = None
                if m:
                    z = m.group(1)
                    text = text[: m.start()]
                    if z == "Z":
                        tz = _dt.timezone.utc
                    else:
                        hh = int(z[1:3])
                        mm = int(z[4:6]) if len(z) > 3 else 0
                        sign = -1 if z[0] == "-" else 1
                        tz = _dt.timezone(sign * _dt.timedelta(hours=hh, minutes=mm))
                parsed = _dt.datetime.strptime(text.strip(), "%Y-%m-%d %H:%M:%S")
                if tz is not None:
                    parsed = parsed.replace(tzinfo=tz).astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return parsed
            return str(value)
        if isinstance(t, _t.StructT):
            obj = value if isinstance(value, dict) else {}
            return {name: encode(obj.get(name), ft) for name, ft in t.fields}
        if isinstance(t, _t.ListT):
            items = value if isinstance(value, list) else []
            return [encode(v, t.element) for v in items]
        if isinstance(t, _t.UnionT):
            vt = infer_type(value)
            row = {"tag": None}
            for i in range(len(t.children)):
                row[f"field{i}"] = None
            for i, child in enumerate(t.children):
                if child.subsumes(vt) or vt.subsumes(child):
                    row["tag"] = i
                    row[f"field{i}"] = encode(value, child)
                    break
            return row
        raise ValueError(f"unknown type {t}")

    out_fields = [f for f in df.schema.fields] + [T.StructField("parsed", spark_schema, True)]
    out_schema = T.StructType(out_fields)
    ht = htype

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            parsed = []
            for text in pdf[column]:
                if text is None:
                    parsed.append(None)
                    continue
                doc = next(iter_json_documents(text), None)
                parsed.append(encode(doc, ht))
            yield pdf.assign(parsed=parsed)

    return df.mapInPandas(kernel, out_schema)


def infer_schema_native(spark, paths: Sequence[str] | str, *, prefer_decimal: bool = False):
    """Spark's built-in JSON inference as the *fast path* (SURVEY §7.2).

    Runs ``spark.read.json`` schema inference — JVM-side, no Python in the
    scan — and returns the ``pyspark.sql.types.StructType``. Documented
    parity gaps vs the lattice (`infer_schema`):

    - all integrals widen to LongType (no byte/short/int sizing);
    - no BINARY hex-detection and no TIMESTAMP regex subtyping of plain
      strings (Spark types timestamps only via its own patterns);
    - heterogeneous fields decay to StringType — no union tracking;
    - decimals only with ``prefer_decimal=True`` (else double).

    Use when downstream only needs a *loadable* schema, not reference-
    faithful typing: on a wide corpus this is several times faster than the
    Python fold because the whole pass stays in the JVM.
    """
    reader = spark.read.option("prefersDecimal", str(prefer_decimal).lower())
    return reader.json(list(_expand(paths))).schema


def infer_schema_by_group(
    df,
    group_col: str,
    column: str,
    *,
    canonical: bool = True,
    on_error: str = "raise",
    render: str = "compact",
    distinct_docs: bool = False,
):
    """Per-group schema inference: the lattice fold as a *grouped aggregate*.

    Returns a DataFrame ``(group_col, hive_type, records, corrupt)`` — one
    inferred schema per group value, fully distributed (nothing collects to
    the driver). The reference folds one global schema per corpus
    (`JsonSchemaFinder.java:227-247`); grouping is what a multi-tenant /
    multi-event-type feed needs to detect per-stream drift.

    Two-level plan, same shape as the global fold's partial+final:

    1. ``mapInPandas`` folds each partition's rows into one partial type
       accumulator *per group seen in that partition* (distinct values
       scaled by frequency, like `infer_schema_of_column`);
    2. one shuffle of those pickled partials on the group key, then
       ``applyInPandas`` merges partials per group.

    Shuffle volume is #partitions × #groups × O(schema bytes) — independent
    of row count — and per-task memory holds accumulators, never a group's
    rows, so a 100 TB group costs the same state as a 100-row one. (A naive
    one-level ``groupBy().applyInPandas`` would materialize entire groups
    in pandas.)

    ``render``: ``"compact"`` emits ``str(htype)`` in ``hive_type``;
    ``"ddl"`` emits the full ``to_hive_ddl`` create-table string per group
    (printTopType parity at depth — `JsonSchemaFinder.java:203-221`), with
    the ``"void\\n"`` sentinel for a group whose every document was skipped;
    ``"flat"`` emits the ``to_flat`` dotted-path lines (printFlat parity —
    one ``root.path: leaf`` line per leaf), the machine-diffable form the
    schema-drift monitor consumes.

    ``distinct_docs``: pre-aggregate ``(group, doc) -> count`` JVM-side
    before the Python fold, so each distinct document is parsed ONCE
    globally and folded with its multiplicity (the fold already scales
    records by frequency). Opt-in, and the bar for opting in is HIGHER
    than it looks: the per-partition ``value_counts`` dedup inside the
    fold already collapses repetition map-side (each partition parses
    each of ITS distinct docs once), so the JVM pre-distinct only wins
    when per-partition distinct sets are still large AND parsing
    dominates — and it always costs a full-corpus ``(group, doc)``
    shuffle. On the drift monitor's template corpus the r9 re-measure
    reversed the r8 call: dist 3.2 s / nodist 2.0 s at sf0.1, 14.5 s /
    10.9 s at sf1 (the r8 3.5 -> 0.9 s figure did not reproduce under
    matched conditions).
    """
    import pandas as pd

    if render not in ("compact", "ddl", "flat"):
        raise ValueError(f"render must be 'compact', 'ddl' or 'flat', got {render!r}")

    gtype = dict(df.dtypes)[group_col]

    def fold_partials(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        accs: dict = {}
        for pdf in batches:
            for g, sub in pdf.groupby(group_col, dropna=False):
                t, n, bad = accs.get(g, (None, 0, 0))
                # closes over distinct_docs directly — column-name sniffing
                # ("_freq" in sub.columns) would misfire if the user's doc
                # or group column were literally named _freq
                pairs = (
                    zip(sub[column], sub["_freq"])
                    if distinct_docs
                    else sub[column].value_counts().items()
                )
                for text, freq in pairs:
                    pt, pn, pbad = _fold_texts([text], on_error)
                    t = merge_types(t, pt)
                    n += pn * int(freq)
                    bad += pbad * int(freq)
                accs[g] = (t, n, bad)
        yield pd.DataFrame(
            {
                group_col: list(accs.keys()),
                "partial": [pickle.dumps(v) for v in accs.values()],
            }
        )

    from hive_json_spark.operators.util import ensure_parallelism

    base = df.select(group_col, column)
    if distinct_docs:
        from pyspark.sql import functions as F

        if "_freq" in (group_col, column):
            raise ValueError(
                "distinct_docs=True reserves the internal column name "
                "'_freq'; rename the input column"
            )
        base = base.groupBy(group_col, column).agg(F.count("*").alias("_freq"))
    partials = ensure_parallelism(base).mapInPandas(
        fold_partials,
        schema=f"{group_col} {gtype}, partial binary",
    )

    def merge_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        t = None
        n = 0
        bad = 0
        for blob in pdf["partial"]:
            pt, pn, pbad = pickle.loads(blob)
            t = merge_types(t, pt)
            n += pn
            bad += pbad
        if canonical and t is not None:
            t = canonicalize(t)
        if render == "ddl":
            rendered = to_hive_ddl(t) if t is not None else "void\n"
        elif render == "flat":
            rendered = to_flat(t) if t is not None else "void\n"
        else:
            rendered = str(t) if t is not None else "void"
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "hive_type": [rendered],
                "records": [n],
                "corrupt": [bad],
            }
        )

    return partials.groupBy(group_col).applyInPandas(
        merge_group,
        schema=f"{group_col} {gtype}, hive_type string, records bigint, corrupt bigint",
    )
