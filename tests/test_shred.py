"""Shredder parity: the javadoc example (JsonShredder.java:40-48), null
skipping, array funneling, the distributed (path, values) column-chunk
kernel and its one-directory-per-leaf write, and the pinned behaviour on
malformed input."""

import collections
import gzip
import json
import os
import random
import sys
from pathlib import Path
from urllib.parse import unquote

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hive_json_spark.shred import shred_column, shred_files_local, shred_records, shred_to_dir
from hive_json_spark.types import JsonNumber, loads_first


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
    shredded = shred_column(events, "props").select("path", F.explode("values").alias("value"))
    rows = shredded.groupBy("path").count().collect()
    by_path = {r["path"]: r["count"] for r in rows}
    n = events.filter("props is not null").count()
    assert by_path == {"root.k": n}
    # values are the lexical ints
    sample = shredded.limit(5).collect()
    assert all(r["value"].lstrip("-").isdigit() for r in sample)


def test_shred_column_is_one_row_per_batch_and_leaf(spark, tmp_path):
    # one partition of 20 lines read in batches of 6: each batch yields one
    # row per leaf it holds, the leaf's values in encounter order
    lines = [
        json.dumps({"a": j, "b": [j, {"c": "x" * (j % 3)}], **({"d": True} if j % 7 == 0 else {})})
        for j in range(20)
    ]
    src = tmp_path / "in.json"
    src.write_text("\n".join(lines) + "\n")
    df = spark.read.text(str(src))
    assert df.rdd.getNumPartitions() == 1
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, "6")
    try:
        shredded = shred_column(df, "value")
        rows = [(r["path"], r["values"]) for r in shredded.collect()]
        exploded = shredded.select("path", F.explode("values").alias("value")).collect()
    finally:
        spark.conf.set(key, before)
    expected = []
    for i in range(0, len(lines), 6):
        chunks = {}
        for line in lines[i : i + 6]:
            for leaf, value in shred_records(loads_first(line)):
                chunks.setdefault(leaf, []).append(value)
        expected.extend(chunks.items())
    assert rows == expected
    walk = [pair for line in lines for pair in shred_records(loads_first(line))]
    assert {leaf for leaf, _ in walk} == {"root.a", "root.b.list", "root.b.list.c", "root.d"}
    for leaf in {leaf for leaf, _ in walk}:
        assert [r["value"] for r in exploded if r["path"] == leaf] == [v for p, v in walk if p == leaf]

    # a few thousand generated documents at the default batch size: far
    # fewer rows than values
    rng = random.Random(7)
    docs = [
        json.dumps({f"k{rng.randrange(8)}": rng.randrange(100), "t": {"u": [j, "v" * rng.randrange(4)]}})
        for j in range(3000)
    ]
    (tmp_path / "many.json").write_text("\n".join(docs) + "\n")
    shredded = shred_column(spark.read.text(str(tmp_path / "many.json")), "value")
    n_values = shredded.select(F.sum(F.size("values"))).first()[0]
    assert n_values == 9000
    assert shredded.count() * 100 <= n_values


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



# --- the walk: equal to the plain isinstance walk, and iterative -------------


def _spec_shred_records(doc, root="root"):
    """The isinstance-dispatch walk ``shred_records`` replaced, kept as its spec."""
    stack = [(root, doc)]
    while stack:
        name, node = stack.pop()
        if node is None:
            continue
        if isinstance(node, bool):
            yield name, "true" if node else "false"
        elif isinstance(node, dict):
            for key in reversed(list(node)):
                stack.append((f"{name}.{key}", node[key]))
        elif isinstance(node, list):
            for child in reversed(node):
                stack.append((f"{name}.list", child))
        else:
            yield name, str(node)


_numbers = st.one_of(
    st.integers(-(2**70), 2**70).map(lambda n: JsonNumber(str(n))),
    st.sampled_from(["1.50", "-0.0", "1e5", "2E-400", "0"]).map(JsonNumber),
)
_leaves = st.one_of(st.none(), st.booleans(), st.text(max_size=6), _numbers)
_documents = st.recursive(
    _leaves,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(st.text(max_size=4), inner, max_size=4),
    ),
    max_leaves=25,
)


@settings(max_examples=400, deadline=None)
@given(_documents)
def test_shred_records_matches_spec_walk(doc):
    got = list(shred_records(doc))
    assert got == list(_spec_shred_records(doc))
    # plain str values: the UDTF pickles its rows to the JVM, which cannot
    # unpickle a JsonNumber
    assert all(type(value) is str for _, value in got)
    assert list(shred_records(doc, "r")) == list(_spec_shred_records(doc, "r"))


def test_shred_records_is_iterative():
    # built in Python, not parsed: 5000 levels is far past the recursion limit
    doc = leaf = {}
    for _ in range(4999):
        leaf["k"] = {}
        leaf = leaf["k"]
    leaf["k"] = [JsonNumber("7")]
    assert list(shred_records(doc)) == [("root" + ".k" * 5000 + ".list", "7")]


# --- the distributed write: one directory per leaf, one file per leaf --------


def _leaf_dirs(out_dir: Path) -> dict[str, list[Path]]:
    """``path=<leaf>`` directory (un-escaped leaf) → its part files."""
    return {
        unquote(d.name[len("path="):]): sorted(d.glob("part-*"))
        for d in out_dir.iterdir()
        if d.name.startswith("path=")
    }


# keys that need escaping as Hive partition values, nulls, nested lists and
# two concatenated documents on one line
ESCAPE_DOCS = (
    '{"a b": 1, "k=v": true, "p%q": null, "naïve": "été", "n": null}\n'
    '{"m": [[1, 2], [3, null], []], "a b": 2.50}{"m": [[4]], "k=v": false}\n'
    '{"deep": {"q?": {"r#": ["u", {"s:": false}]}}, "a b": null, "%2F": "pct"}\n'
    "null\n"
)
# a "/" in a key: the local shredder names its file with "%2F"
SLASH_DOCS = '{"x/y": "s", "z": {"/": [1, "w"]}}\n{"x/y": "t"}\n'


def test_shred_to_dir_matches_local_per_leaf(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "escape.json").write_text(ESCAPE_DOCS, encoding="utf-8")
    (src / "slash.json").write_text(SLASH_DOCS, encoding="utf-8")
    expected = {}
    for name, docs in (("escape", 5), ("slash", 2)):
        local = tmp_path / f"local-{name}"
        assert shred_files_local(str(src / f"{name}.json"), str(local)) == docs
        for f in local.iterdir():
            leaf = f.name[: -len(".txt")]
            if name == "slash":
                leaf = leaf.replace("%2F", "/")
            expected[leaf] = collections.Counter(f.read_text(encoding="utf-8").splitlines())
    assert "root.m.list.list" in expected and "root.p%q" not in expected
    assert "root.%2F" in expected
    assert (tmp_path / "local-slash" / "root.x%2Fy.txt").read_text() == "s\nt\n"
    assert {"root.x/y", "root.z./.list"} <= set(expected)

    out = tmp_path / "dist"
    shred_to_dir(shred_column(spark.read.text(str(src)), "value"), str(out))
    got = {
        leaf: collections.Counter(
            line for part in parts for line in part.read_text(encoding="utf-8").splitlines()
        )
        for leaf, parts in _leaf_dirs(out).items()
    }
    assert set(got) == set(expected)
    for leaf in expected:
        assert got[leaf] == expected[leaf], leaf


def test_shred_to_dir_bytes_match_local(spark, tmp_path):
    # one file read by one task: each leaf's part file is the local
    # shredder's file byte for byte, also for values holding a line break,
    # a CRLF, nothing at all, or non-ASCII text (splitting lines hides these)
    src = tmp_path / "in.json"
    src.write_text(
        '{"s": "two\\nlines", "n": 1, "e": ""}\n'
        '{"s": "crlf\\r\\nend", "u": "naïve ☃ \\ud834\\udd1e", "e": ""}\n'
        '{"s": "", "n": 2.50, "l": ["\\n", "", "x\\ry", "été"]}{"s": "tail\\n"}\n',
        encoding="utf-8",
    )
    local = tmp_path / "local"
    assert shred_files_local(str(src), str(local)) == 4
    df = spark.read.text(str(src))
    assert df.rdd.getNumPartitions() == 1
    out = tmp_path / "dist"
    shred_to_dir(shred_column(df, "value"), str(out))
    dirs = _leaf_dirs(out)
    expected = {f.name[: -len(".txt")]: f.read_bytes() for f in local.iterdir()}
    assert set(dirs) == set(expected) == {"root.s", "root.n", "root.e", "root.u", "root.l.list"}
    assert expected["root.s"] == b"two\nlines\ncrlf\r\nend\n\ntail\n\n"
    for leaf, parts in dirs.items():
        assert len(parts) == 1, leaf
        assert parts[0].read_bytes() == expected[leaf], leaf


def test_shred_to_dir_one_file_per_leaf(spark, tmp_path):
    # several read tasks each hold every leaf; the write still gives one
    # file per leaf path (it was one per read task and leaf)
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    for i in range(6):
        docs = [{"a": i * 100 + j, "b": {"c": [j, "x"]}, "d": None} for j in range(50)]
        (src_dir / f"part{i}.json").write_text("".join(json.dumps(d) + "\n" for d in docs))
    df = spark.read.text(str(src_dir)).repartition(6)
    out = tmp_path / "out"
    shred_to_dir(shred_column(df, "value"), str(out))
    dirs = _leaf_dirs(out)
    assert {leaf: len(parts) for leaf, parts in dirs.items()} == {
        "root.a": 1, "root.b.c.list": 1,
    }
    assert len((dirs["root.b.c.list"][0]).read_text().splitlines()) == 600


def test_shred_to_dir_splits_a_hot_leaf(spark, tmp_path):
    # one leaf holds most values and the input is read as several splits:
    # the rebalance splits the hot leaf at map-output boundaries once it is
    # larger than the advisory partition size
    src_dir = tmp_path / "src"
    src_dir.mkdir()
    for i in range(4):
        lines = [json.dumps({"hot": "v" * 40 + str(j)}) for j in range(2000)]
        lines.append(json.dumps({"cold": i}))
        (src_dir / f"part{i}.json").write_text("\n".join(lines) + "\n")
    df = spark.read.text(str(src_dir))
    assert df.rdd.getNumPartitions() >= 2
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "16k")
    try:
        out = tmp_path / "out"
        shred_to_dir(shred_column(df, "value"), str(out))
    finally:
        spark.conf.set(key, before)
    dirs = _leaf_dirs(out)
    assert set(dirs) == {"root.hot", "root.cold"}
    assert len(dirs["root.hot"]) > 1
    assert sum(len(p.read_text().splitlines()) for p in dirs["root.hot"]) == 8000
    assert len(dirs["root.cold"]) == 1


# --- malformed input on the shred surface ------------------------------------


def test_shred_malformed_input_pinned(spark, tmp_path):
    """Pinned behaviour of ``shred_files_local`` and of ``shred_column`` +
    ``shred_to_dir`` (one row per line) on malformed input. A failed
    distributed shred leaves no part file under its output dir; a failed
    local shred leaves the files of the values before the failure."""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    failures = (Py4JJavaError, PySparkException)
    full = gzip.compress(b'{"a": 1}\n{"a": 2}\n' * 200)
    inputs = {
        "truncated.json.gz": full[: len(full) // 2],
        "bad_utf8.json": b'{"a": "\xff\xfe"}\n',
        "mid.json": b'{"a":1}{"a":2}{"a":{"a":3}\n{"a":4}\n',
        "deep.json": b"[" * 1000 + b"]" * 1000 + b"\n",
        "empty.json": b"",
    }
    for name, data in inputs.items():
        (tmp_path / name).write_bytes(data)

    def distributed(name):
        out = tmp_path / ("dist_" + name)
        shred_to_dir(shred_column(spark.read.text(str(tmp_path / name)), "value"), str(out))
        return out

    # every write task starts after the rebalance's map stage, so a failed
    # read-side task leaves no committed part file behind
    for name in ("truncated.json.gz", "bad_utf8.json", "mid.json", "deep.json"):
        with pytest.raises(failures):
            distributed(name)
        assert not list((tmp_path / ("dist_" + name)).rglob("part-*")), name
    out = distributed("empty.json")
    assert _leaf_dirs(out) == {} and not list(out.rglob("part-*"))

    # the local shredder: a truncated .gz or invalid UTF-8 raises before any
    # value; a bad document raises after the values of the documents before
    # it; 1000-deep nesting exceeds the default recursion limit (pinned, as
    # a library used by other tests may leave the limit raised)
    def local(name):
        return shred_files_local(str(tmp_path / name), str(tmp_path / ("local_" + name)))

    with pytest.raises(EOFError):
        local("truncated.json.gz")
    with pytest.raises(UnicodeDecodeError):
        local("bad_utf8.json")
    with pytest.raises(ValueError):
        local("mid.json")
    assert (tmp_path / "local_mid.json" / "root.a.txt").read_text() == "1\n2\n"
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    try:
        with pytest.raises(RecursionError):
            local("deep.json")
    finally:
        sys.setrecursionlimit(limit)
    assert local("empty.json") == 0
    assert os.listdir(tmp_path / "local_empty.json") == []
