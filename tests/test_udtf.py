"""UDTF tier of the function surface: the reference shredder as a SQL
table function must agree with the DataFrame shredder kernel row-for-row."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_shred_udtf_matches_shred_column(spark):
    from hive_json_spark.functions.udf import register_shred_udtf
    from hive_json_spark.shred import shred_column

    register_shred_udtf(spark)
    events = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(200)
    events.select("event_id", "props").createOrReplaceTempView("_shred_src")

    via_sql = spark.sql(
        "SELECT s.path, s.value FROM _shred_src, LATERAL shred_json(props) s"
    )
    via_df = shred_column(events, "props").select("path", "value")
    assert via_sql.exceptAll(via_df).count() == 0
    assert via_df.exceptAll(via_sql).count() == 0
    assert via_sql.count() > 0


def test_shred_udtf_skips_null_and_invalid(spark):
    from hive_json_spark.functions.udf import register_shred_udtf

    register_shred_udtf(spark)
    df = spark.createDataFrame(
        [
            (1, '{"a": 1, "b": [true, null]}'),
            (2, None),
            (3, "not json"),
            (4, '{"c": 1}{"c": 2}'),
            (5, '{"d": 1}{bad'),
        ],
        "id bigint, doc string",
    )
    df.createOrReplaceTempView("_shred_edge")
    rows = {
        (r.path, r.value)
        for r in spark.sql(
            "SELECT s.path, s.value FROM _shred_edge, LATERAL shred_json(doc) s"
        ).collect()
    }
    # null leaf inside the array is skipped (JsonShredder.java:68-69);
    # null/invalid documents contribute no rows; every document of a
    # concatenated text is shredded, up to the first undecodable one
    assert rows == {
        ("root.a", "1"),
        ("root.b.list", "true"),
        ("root.c", "1"),
        ("root.c", "2"),
        ("root.d", "1"),
    }
