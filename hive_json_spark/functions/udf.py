"""SQL-callable engine functions: the UDF/UDAF surface declared in
SURVEY §2's "absent from reference" table.

Two tiers, registered side by side:
- **SQL scalar functions** (``CREATE TEMPORARY FUNCTION ... RETURN expr``,
  Spark 4 SQL UDFs) for everything expressible as expressions — they
  inline into the plan and stay inside whole-stage codegen, zero UDF
  overhead (the reference's classifiers land here);
- **``pandas_udf``** (Arrow-batched) for logic SQL can't express —
  ``infer_json_type`` runs the actual lattice per value, the pattern for
  any Python-backed column function a user plugs in.
"""

import pandas as pd

from pyspark.sql import SparkSession

from hive_json_spark.types import HEX_REGEX, TIMESTAMP_REGEX

_SQL_FUNCTIONS = {
    "is_hex_binary": (
        "(s STRING) RETURNS BOOLEAN RETURN s RLIKE '{hex}'"
    ),
    "is_timestamp_like": (
        "(s STRING) RETURNS BOOLEAN RETURN s RLIKE '{ts}'"
    ),
    "classify_string": (
        "(s STRING) RETURNS STRING RETURN "
        "CASE WHEN s RLIKE '{ts}' THEN 'timestamp' "
        "WHEN s RLIKE '{hex}' THEN 'binary' ELSE 'string' END"
    ),
    "token_count": (
        "(s STRING) RETURNS BIGINT RETURN "
        r"CAST(size(filter(split(s, '\\s+'), t -> t != '')) AS BIGINT)"
    ),
}


def register_engine_udfs(spark: SparkSession) -> list[str]:
    """Register the engine's functions for SQL use; returns the names."""
    from pyspark.sql.functions import pandas_udf

    names = []
    for name, body in _SQL_FUNCTIONS.items():
        sig = body.format(hex=HEX_REGEX, ts=TIMESTAMP_REGEX.replace("'", "''"))
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig}")
        names.append(name)

    @pandas_udf("string")
    def infer_json_type(texts: pd.Series) -> pd.Series:
        from hive_json_spark.types import infer_type, loads_first

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            try:
                out.append(str(infer_type(loads_first(t))))
            except ValueError:
                out.append(None)
        return pd.Series(out)

    spark.udf.register("infer_json_type", infer_json_type)
    names.append("infer_json_type")
    return names


def register_shred_udtf(spark: SparkSession, name: str = "shred_json") -> str:
    """Register the reference's shredder (`JsonShredder.shredObject`,
    JsonShredder.java:64-81) as a SQL TABLE function (Python UDTF,
    Spark 4): each JSON document expands to its (path, value) leaf rows,
    usable directly in LATERAL position —

        SELECT d.doc_id, s.path, s.value
        FROM docs d, LATERAL shred_json(d.props) s

    This is the UDTF tier of the function surface (scalar SQL functions
    and Arrow pandas_udfs are registered by `register_engine_udfs`): the
    per-row fan-out shape that scalar UDFs cannot express. The row walk
    is `shred.shred_text`, the one `shred_column` uses, so a text of
    several concatenated documents shreds every one of them. Skip
    semantics: a null text gives no rows, and an undecodable document
    ends the text's rows without raising.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="path string, value string")
    class ShredJson:
        def eval(self, doc: str):  # noqa: ANN001 — UDTF protocol signature
            if doc is None:
                return
            from hive_json_spark.shred import shred_text

            try:
                yield from shred_text(doc)
            except ValueError:
                return  # undecodable document: stop here (skip semantics)

    spark.udtf.register(name, ShredJson)
    return name
