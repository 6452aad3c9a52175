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
- Every entry point, in-table JSON columns and per-group inference
  included, ends in the same ``mapInPandas`` fold over Arrow batches — one
  pickled partial per partition (per group and partition when grouped) —
  and the same partial merge, on the driver, in executor tree rounds, or
  per group. The driver merges #partitions items (KBs each), never data.
- Result determinism: the reference is fold-order-sensitive for union
  branch order (UnionType.java:89-100); distributed folds are unordered, so
  entry points always canonicalize (sorted union branches).
"""

from __future__ import annotations

import glob as _glob
import gzip
import io
import os
import pickle
import re
from dataclasses import dataclass
from typing import Iterable, Iterator, List, Optional, Sequence, Tuple

from hive_json_spark.types import (
    HType,
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

_EMPTY: Tuple[Optional[HType], int, int] = (None, 0, 0)


def _fold(
    pairs: Iterable[Tuple[str, int]],
    on_error: str,
    max_struct_fields: Optional[int] = None,
    acc: Tuple[Optional[HType], int, int] = _EMPTY,
) -> Tuple[Optional[HType], int, int]:
    """Fold ``(text, freq)`` pairs into ``acc = (type, records, corrupt)``.

    Each text holds any number of concatenated documents; its records and
    corrupt count scale by ``freq``. ``on_error="skip"`` stops a text at
    its first undecodable document (the documents before it count) and
    counts the text corrupt instead of failing the task — at 100 TB a
    handful of truncated documents must not kill a 10-hour job; the
    corrupt count keeps the skip visible instead of silent."""
    t, n, bad = acc
    for text, freq in pairs:
        docs = 0
        try:
            for doc in iter_json_documents(text):
                t = merge_types(t, infer_type(doc))
                docs += 1
        except ValueError:
            if on_error != "skip":
                raise
            bad += int(freq)
        n += docs * int(freq)
        if max_struct_fields is not None and t is not None:
            t = decay_wide_structs(t, max_struct_fields)
    return t, n, bad


def _merge(blobs: Iterable[bytes]) -> Tuple[Optional[HType], int, int]:
    """Merge pickled ``(type, records, corrupt)`` partials; no partials, or
    only empty ones, merge to no type."""
    t, n, bad = _EMPTY
    for blob in blobs:
        pt, pn, pbad = pickle.loads(blob)
        t = merge_types(t, pt)
        n += pn
        bad += pbad
    return t, n, bad


def _partials(
    df,
    column: str,
    on_error: str,
    *,
    group_col: Optional[str] = None,
    max_struct_fields: Optional[int] = None,
):
    """One pickled partial per partition — per group seen in the partition
    when ``group_col`` is given. Each batch folds its *distinct* values
    once, scaled by frequency (JSON columns are often low-cardinality)."""
    import pandas as pd

    from hive_json_spark.operators.util import ensure_parallelism

    keys = [group_col] if group_col else []
    schema = "".join(f"{k} {dict(df.dtypes)[k]}, " for k in keys) + "partial binary"

    def fold_partition(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        accs: dict = {}
        for pdf in batches:
            groups = pdf.groupby(group_col, dropna=False) if group_col else [(None, pdf)]
            for g, sub in groups:
                accs[g] = _fold(
                    sub[column].value_counts().items(),
                    on_error,
                    max_struct_fields,
                    accs.get(g, _EMPTY),
                )
        out = {k: list(accs) for k in keys}
        out["partial"] = [pickle.dumps(a) for a in accs.values()]
        yield pd.DataFrame(out)

    return ensure_parallelism(df.select(*keys, column)).mapInPandas(fold_partition, schema)


def infer_schema(
    spark,
    paths: Sequence[str] | str,
    *,
    ndjson: bool = True,
    on_error: str = "raise",
) -> InferResult:
    """Distributed inference over JSON corpus files (plain or ``.gz``).

    ndjson=True  → one row per line (splittable scan, the scale path).
    ndjson=False → one row per whole file: concatenated documents and .gz
                   corpora, read sequentially per file as the reference
                   does, parallel across files.

    Either way the rows are a JSON column folded by
    ``infer_schema_of_column``, so ``on_error`` applies per row: under
    ``"skip"`` a bad document keeps the documents before it in that line
    or file and counts one corrupt text. A named or globbed file Spark
    would silently skip (hidden ``_``/``.`` basename) raises
    ``ValueError`` instead.
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
    return infer_schema_of_column(df, "value", on_error=on_error)


# max partials merged in one place (one executor task or the driver); above
# this, infer_schema_of_column inserts executor-side tree-merge rounds
_MERGE_FAN_IN = 64


def infer_schema_of_column(
    df,
    column: str,
    *,
    on_error: str = "raise",
    max_struct_fields: Optional[int] = None,
) -> InferResult:
    """Infer the schema of a JSON-string column (e.g. ``events.props``).

    Arrow-batched: ``mapInPandas`` folds each partition locally and emits ONE
    pickled partial per partition; the driver merges #partitions partials.
    Each partition folds only its *distinct* values (scaled by frequency).
    Nothing is cached: every call folds the column as it is now. A column
    with no documents infers no type (``htype=None``).
    """
    import pandas as pd

    def merge_round(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        merged = _merge(blob for pdf in batches for blob in pdf["partial"])
        yield pd.DataFrame({"partial": [pickle.dumps(merged)]})

    partials_df = _partials(df, column, on_error, max_struct_fields=max_struct_fields)
    # Tree final-merge: the driver merge below is fine for the usual few
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
            merge_round, schema="partial binary"
        )
    htype, records, corrupt = _merge(row["partial"] for row in partials_df.collect())
    if htype is not None:
        if max_struct_fields is not None:
            htype = decay_wide_structs(htype, max_struct_fields)
        htype = canonicalize(htype)
    return InferResult(htype, records, corrupt)


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


def load_json_column(df, column: str, htype: Optional[HType] = None):
    """JSON-string column → typed ``parsed`` column under the inferred schema.

    Union-free schemas load with ``from_json`` — pure JVM, codegen, zero
    Python. Schemas containing unions (which Spark cannot natively load)
    are materialized by an Arrow kernel that routes each value to its union
    branch — the *first* branch that subsumes it, mirroring
    UnionType.java:89-100 — and emits the ORC-style tagged struct
    ``struct<tag:tinyint, field0:..., field1:...>``.
    """
    from pyspark.sql import functions as F, types as T

    from hive_json_spark import types as _t
    from hive_json_spark.types import infer_type, to_spark_type

    if htype is None:
        htype = infer_schema_of_column(df, column).htype
    spark_schema = to_spark_type(htype)

    if not _contains_union(htype):
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


def infer_schema_native(spark, paths: Sequence[str] | str):
    """Spark's built-in JSON inference as the *fast path* (SURVEY §7.2).

    Runs ``spark.read.json`` schema inference — JVM-side, no Python in the
    scan — and returns the ``pyspark.sql.types.StructType``. Documented
    parity gaps vs the lattice (`infer_schema`):

    - all integrals widen to LongType (no byte/short/int sizing);
    - no BINARY hex-detection and no TIMESTAMP regex subtyping of plain
      strings (Spark types timestamps only via its own patterns);
    - heterogeneous fields decay to StringType — no union tracking;
    - no decimals: every non-integral number becomes DoubleType.

    Use when downstream only needs a *loadable* schema, not reference-
    faithful typing: on a wide corpus this is several times faster than the
    Python fold because the whole pass stays in the JVM.
    """
    return spark.read.option("prefersDecimal", "false").json(list(_expand(paths))).schema


def infer_schema_by_group(
    df,
    group_col: str,
    column: str,
    *,
    on_error: str = "raise",
    render: str = "compact",
):
    """Per-group schema inference: the lattice fold as a *grouped aggregate*.

    Returns a DataFrame ``(group_col, hive_type, records, corrupt)`` — one
    inferred schema per group value, fully distributed (nothing collects to
    the driver). The reference folds one global schema per corpus
    (`JsonSchemaFinder.java:227-247`); grouping is what a multi-tenant /
    multi-event-type feed needs to detect per-stream drift.

    Two-level plan, same shape and same fold as `infer_schema_of_column`:

    1. ``mapInPandas`` folds each partition's rows into one partial type
       accumulator *per group seen in that partition* (distinct values
       scaled by frequency);
    2. one shuffle of those pickled partials on the group key, then
       ``applyInPandas`` merges partials per group.

    Shuffle volume is #partitions × #groups × O(schema bytes) — independent
    of row count — and per-task memory holds accumulators, never a group's
    rows, so a 100 TB group costs the same state as a 100-row one. (A naive
    one-level ``groupBy().applyInPandas`` would materialize entire groups
    in pandas.)

    ``render``: ``"compact"`` emits ``str(htype)`` in ``hive_type``;
    ``"ddl"`` emits the full ``to_hive_ddl`` create-table string per group
    (printTopType parity at depth — `JsonSchemaFinder.java:203-221`);
    ``"flat"`` emits the ``to_flat`` dotted-path lines (printFlat parity —
    one ``root.path: leaf`` line per leaf), the machine-diffable form the
    schema-drift monitor consumes. A group with no documents (every one
    skipped under ``on_error="skip"``) renders ``"void"`` in compact form
    and the ``"void\\n"`` sentinel in the other two.
    """
    import pandas as pd

    renderers = {"compact": str, "ddl": to_hive_ddl, "flat": to_flat}
    if render not in renderers:
        raise ValueError(f"render must be 'compact', 'ddl' or 'flat', got {render!r}")

    def merge_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        t, n, bad = _merge(pdf["partial"])
        if t is None:
            rendered = "void" if render == "compact" else "void\n"
        else:
            rendered = renderers[render](canonicalize(t))
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "hive_type": [rendered],
                "records": [n],
                "corrupt": [bad],
            }
        )

    gtype = dict(df.dtypes)[group_col]
    return (
        _partials(df, column, on_error, group_col=group_col)
        .groupBy(group_col)
        .applyInPandas(
            merge_group,
            schema=f"{group_col} {gtype}, hive_type string, records bigint, corrupt bigint",
        )
    )
