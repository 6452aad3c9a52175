"""Shredder parity: the javadoc example (JsonShredder.java:40-48), null
skipping, array funneling, and the distributed (path,value) generator."""

import json

from hive_json_spark.shred import shred_column, shred_files_local, shred_records
from hive_json_spark.types import loads_first


def test_shred_javadoc_example(tmp_path):
    # {'a': 'aaaa', 'b': {'c': 12, 'd': true}, 'e': 'eeee'} → 4 files
    doc = '{"a": "aaaa", "b": {"c": 12, "d": true}, "e": "eeee"}'
    src = tmp_path / "in.json"
    src.write_text(doc)
    out = tmp_path / "out"
    count = shred_files_local(str(src), str(out))
    assert count == 1
    assert (out / "root.a.txt").read_text() == "aaaa\n"
    assert (out / "root.b.c.txt").read_text() == "12\n"
    assert (out / "root.b.d.txt").read_text() == "true\n"
    assert (out / "root.e.txt").read_text() == "eeee\n"


def test_shred_nulls_arrays_ordering(tmp_path):
    docs = '{"x": null, "xs": [1, [2, 3], null], "y": 1.50}\n{"xs": ["z"]}'
    src = tmp_path / "in.json"
    src.write_text(docs)
    out = tmp_path / "out"
    count = shred_files_local(str(src), str(out))
    assert count == 2
    assert not (out / "root.x.txt").exists()  # nulls skipped
    # nested arrays: path + ".list" per nesting level; cross-doc interleave in order
    assert (out / "root.xs.list.txt").read_text() == "1\nz\n"
    assert (out / "root.xs.list.list.txt").read_text() == "2\n3\n"
    assert (out / "root.y.txt").read_text() == "1.50\n"  # lexical form kept


def test_shred_records_generator():
    doc = loads_first('{"a": {"b": [10, true]}, "c": "x"}')
    assert list(shred_records(doc)) == [
        ("root.a.b.list", "10"),
        ("root.a.b.list", "true"),
        ("root.c", "x"),
    ]


def test_shred_column_distributed(spark, sf_dir):
    from hive_json_spark.sources import load_table
    events = load_table(spark, sf_dir, "events")
    shredded = shred_column(events, "props")
    rows = shredded.groupBy("path").count().collect()
    by_path = {r["path"]: r["count"] for r in rows}
    n = events.filter("props is not null").count()
    assert by_path == {"root.k": n}
    # values are the lexical ints
    sample = shredded.limit(5).collect()
    assert all(r["value"].lstrip("-").isdigit() for r in sample)


def test_cli_run_query(capsys):
    from hive_json_spark import cli

    assert cli.run_query(["--list"]) == 0
    listed = capsys.readouterr().out.splitlines()
    assert "q1_pricing_summary" in listed and len(listed) >= 70

    rc = cli.run_query(["--sf-dir", "/root/testdata/sf0.001", "--limit", "3", "q_topk_orders"])
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].split(",")[0] and len(out) == 4  # header + 3 rows

    assert cli.run_query(["definitely_not_a_query"]) == 2
    assert "unknown query" in capsys.readouterr().err

    # a flag given last, or a non-integer --limit, prints the usage line
    for argv in (
        ["q_topk_orders", "--sf-dir"],
        ["q_topk_orders", "--limit"],
        ["--limit", "x", "q_topk_orders"],
    ):
        assert cli.run_query(argv) == 2, argv
        assert capsys.readouterr().err.startswith("usage: run-query"), argv


def test_cli_sql(capsys):
    from hive_json_spark import cli

    rc = cli.sql([
        "--sf-dir", "/root/testdata/sf0.001", "--limit", "5",
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
    ])
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "o_orderpriority,n" and len(out) >= 2

    # engine functions and the shredder UDTF are registered for SQL use
    rc = cli.sql([
        "--sf-dir", "/root/testdata/sf0.001", "--limit", "2",
        "SELECT s.path, s.value FROM events, LATERAL shred_json(props) s",
    ])
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "path,value" and out[1].startswith("root.")

    assert cli.sql([]) == 2
    assert capsys.readouterr().err.startswith("usage: sql")
    for argv in (
        ["SELECT 1", "--sf-dir"],
        ["SELECT 1", "--limit"],
        ["--limit", "x", "SELECT 1"],
    ):
        assert cli.sql(argv) == 2, argv
        assert capsys.readouterr().err.startswith("usage: sql"), argv


def test_cli_shred_json(tmp_path, capsys):
    from hive_json_spark import cli

    src = tmp_path / "in.json"
    src.write_text('{"a": 1}')
    assert cli.shred_json(["-o", str(tmp_path / "out"), str(src)]) == 0
    assert (tmp_path / "out" / "root.a.txt").read_text() == "1\n"
    capsys.readouterr()

    assert cli.shred_json([str(src), "-o"]) == 2
    assert capsys.readouterr().err.startswith("usage: shred-json")
