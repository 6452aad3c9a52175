"""Table catalog for the benchmark corpus (TESTDATA.md).

One quirk: ``events.parquet`` has shipped with two physical types for
``ts`` across testdata generations — TIMESTAMP(NANOS) (which Spark's
vectorized reader rejects; ``spark.sql.legacy.parquet.nanosAsLong=true``
in session.py reads it as nanosecond longs) and plain ``timestamp[us]``
without UTC adjustment (which Spark reads as TIMESTAMP_NTZ). The loader
normalizes both to a session-UTC TIMESTAMP so every query sees one type
and values match DuckDB's naive-TIMESTAMP view of the same file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _arrow_to_spark_type(t):
    """Map a pyarrow type to the Spark type parquet inference yields
    UNDER THIS ENGINE'S SESSION CONFIG (UTC session tz,
    ``legacy.parquet.nanosAsLong=true``, NTZ inference on). Strict
    whitelist: anything outside the verified set raises ValueError and
    the caller falls back to Spark's own inference — a wrong silent
    mapping would change query results, a fallback only costs the one
    inference job this path exists to remove."""
    import pyarrow as pa

    from pyspark.sql import types as T

    if pa.types.is_int32(t):
        return T.IntegerType()
    if pa.types.is_int64(t):
        return T.LongType()
    if pa.types.is_float32(t):
        return T.FloatType()
    if pa.types.is_float64(t):
        return T.DoubleType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return T.StringType()
    if pa.types.is_boolean(t):
        return T.BooleanType()
    if pa.types.is_date32(t):
        return T.DateType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return T.BinaryType()
    if pa.types.is_timestamp(t):
        # ns is resolved by the CALLER against the parquet physical type
        # (INT64 TIMESTAMP(NANOS) → long via nanosAsLong; INT96 → Spark
        # reads TimestampType but pyarrow reports the same timestamp[ns],
        # so ns inside nested types is unverifiable here and raises)
        if t.unit in ("us", "ms"):
            return T.TimestampType() if t.tz is not None else T.TimestampNTZType()
        raise ValueError(f"unverified timestamp layout: {t}")
    if pa.types.is_list(t):
        f = t.value_field
        return T.ArrayType(_arrow_to_spark_type(f.type), f.nullable)
    raise ValueError(f"unverified arrow type: {t}")


def _force_nullable(dt):
    """Recursively mark every field/element/value nullable — what Spark's
    file-source read does to any written schema ('all columns are
    automatically converted to be nullable for compatibility reasons'),
    verified against inference in the footer-schema pin test."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _force_nullable(f.dataType), True) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_force_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _force_nullable(dt.valueType), True)
    return dt


def parquet_schema(path: str):
    """Spark schema of a flat local parquet file/directory, read from ONE
    footer on the driver — no Spark job (each ``spark.read.parquet`` call
    otherwise launches a 1-task schema-inference job, ~25-50 ms plus a
    driver round trip, per table per query execution). Same contract as
    ``table_row_count``: recomputed from the files on every call, nothing
    memoized; returns None (caller uses Spark inference) for nested/mixed
    layouts, non-local filesystems, or any type outside the verified
    whitelist. Equality with Spark's own inference — field names, types
    AND nullability — is pinned per table per SF by tests/
    test_sources_roundtrip.py::test_parquet_footer_schema_matches_inference."""
    import os

    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            first = None
            for f in sorted(os.listdir(path)):
                if f.startswith(("_", ".")):
                    continue  # _SUCCESS / .crc sidecars, ignored by readers
                full = os.path.join(path, f)
                if os.path.isdir(full) or not f.endswith(".parquet"):
                    return None  # partitioned/mixed layout: infer instead
                if first is None:
                    first = full
            if first is None:
                return None
        else:
            first = path
        pf = pq.ParquetFile(first)
        sch = pf.schema_arrow
        from pyspark.sql import types as T

        # Engine-written files carry Spark's exact schema JSON in the
        # footer key-value metadata — read it back directly (then force
        # nullability the way every file-source read does). This covers
        # types the pure-arrow mapping cannot (INT96 timestamps, maps,
        # structs) with zero guesswork.
        raw = (sch.metadata or {}).get(
            b"org.apache.spark.sql.parquet.row.metadata"
        )
        if raw is not None:
            import json

            return _force_nullable(T.StructType.fromJson(json.loads(raw)))

        # Foreign-written files: strict-whitelist arrow mapping. ns
        # timestamps need the PHYSICAL type to disambiguate (INT64
        # TIMESTAMP(NANOS) → long under nanosAsLong; INT96 → unverified,
        # fall back to inference).
        import pyarrow as pa

        md = pf.metadata.schema
        phys = {
            md.column(i).path: md.column(i).physical_type
            for i in range(pf.metadata.num_columns)
            if "." not in md.column(i).path
        }
        fields = []
        for f in sch:
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns" and f.type.tz is None:
                if phys.get(f.name) != "INT64":
                    raise ValueError(f"unverified ns-timestamp physical type: {f.name}")
                dt = T.LongType()  # TIMESTAMP(NANOS) via nanosAsLong
            else:
                dt = _arrow_to_spark_type(f.type)
            fields.append(T.StructField(f.name, dt, f.nullable))
        return T.StructType(fields)
    except (ImportError, OSError, ValueError, KeyError):
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    schema = parquet_schema(path)
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) via nanosAsLong
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # parquet timestamp[us], not UTC-adjusted
            # session tz is pinned to UTC, so this cast is wall-clock-exact and
            # matches DuckDB's naive-TIMESTAMP view of the same file
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of a base table for dispatch probes.

    Reads the parquet footer metadata on the driver (no Spark job) — the
    same number ``df.count()`` returns via aggregate pushdown, minus the
    ~0.25 s fixed job cost, which is pure overhead for limit-probe
    dispatches that only compare the count to a threshold. Recomputed
    from the input files on every call (nothing is memoized). Falls back
    to a real count for layouts the footer walk cannot see (non-local
    filesystems, non-parquet sources)."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            parts = []
            for f in os.listdir(path):
                if f.startswith(("_", ".")):
                    continue  # _SUCCESS / .crc sidecars, ignored by readers
                full = os.path.join(path, f)
                if os.path.isdir(full) or not f.endswith(".parquet"):
                    # nested (partitioned) or mixed layout: the flat walk
                    # would silently undercount — take the exact count()
                    return load_table(spark, sf_dir, name).count()
                parts.append(full)
            if not parts:
                raise FileNotFoundError(path)
            return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        return pq.ParquetFile(path).metadata.num_rows
    except (ImportError, OSError, ValueError):
        # ImportError: no pyarrow; OSError: remote/odd filesystems;
        # ValueError covers pyarrow's ArrowInvalid on non-parquet bytes.
        # Anything else (a real bug) propagates instead of hiding behind
        # the slow count() fallback.
        return load_table(spark, sf_dir, name).count()


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every corpus table as a temp view; returns the DataFrames."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def write_table(
    df: DataFrame,
    path: str,
    *,
    format: str = "parquet",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    sort_by: list[str] | None = None,
    table_name: str | None = None,
    compression: str | None = "zstd",
) -> None:
    """Materialize a DataFrame as an analytics-ready table, overwriting
    whatever is at ``path``.

    - ``partition_by``: hive-style directory partitioning — partition
      pruning makes per-key reads O(selected partitions), and writers
      should pick low-cardinality keys (date, source) so file counts stay
      sane at 100 TB.
    - ``bucket_by=(n, cols)``: pre-shuffles into n buckets on the join key
      so later joins/aggs on those columns skip their exchange entirely
      (bucketed scan-join). Requires ``table_name`` (``saveAsTable`` —
      bucketing metadata lives in the catalog).
    - zstd compression default: ~parquet-snappy decode speed at a better
      ratio — 100 TB stored is real money.
    """
    writer = df.write.format(format).mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        writer = writer.bucketBy(n, *cols)
        if sort_by:
            writer = writer.sortBy(*sort_by)
        if not table_name:
            raise ValueError("bucketed writes need table_name (saveAsTable)")
        writer.option("path", path).saveAsTable(table_name)
        return
    writer.save(path)
