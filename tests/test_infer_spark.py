"""End-to-end inference tests: local vs distributed parity, file formats,
packaging variants (FIXTURES.md A9), and the events.props column fold."""

import gzip
import json
import sys

import pytest

from hive_json_spark.infer import infer_files_local, infer_schema, infer_schema_of_column
from hive_json_spark.types import canonicalize, to_hive_ddl

CORPUS_DOCS = [
    {"id": 12, "actor": {"login": "alice", "uid": 3000000000}, "ts": "2016-01-05T12:34:56Z"},
    {"id": 70000, "actor": {"login": "bob"}, "payload": [1, 2, 3]},
    {"id": 1.5, "payload": "deadbeef"},
    {"id": None, "tags": []},
]
# canonical form: union branches sorted by kind order (binary < list)
EXPECTED = (
    "struct<actor:struct<login:string,uid:bigint>,id:decimal(6,1),"
    "payload:uniontype<binary,list<tinyint>>,tags:list<void>,ts:timestamp>"
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    ndjson = "\n".join(json.dumps(doc) for doc in CORPUS_DOCS) + "\n"
    concat = "".join(json.dumps(doc) for doc in CORPUS_DOCS)
    (d / "a.json").write_text(ndjson)
    (d / "b.json").write_text(concat)
    with gzip.open(d / "c.json.gz", "wt") as f:
        f.write(ndjson)
    # a comma in a file name must not split the path list
    (d / "c,d.json").write_text(concat)
    # multi-file split of the same corpus
    (d / "part1.json").write_text("\n".join(json.dumps(x) for x in CORPUS_DOCS[:2]))
    (d / "part2.json").write_text("\n".join(json.dumps(x) for x in CORPUS_DOCS[2:]))
    return d


def test_local_all_variants_identical(corpus):
    expected_canon = None
    for name, count in [("a.json", 4), ("b.json", 4), ("c.json.gz", 4)]:
        r = infer_files_local(str(corpus / name))
        assert r.records == count, name
        canon = canonicalize(r.htype)
        assert str(canon) == EXPECTED, name
        expected_canon = canon
    multi = infer_files_local([str(corpus / "part1.json"), str(corpus / "part2.json")])
    assert multi.records == 4
    assert canonicalize(multi.htype) == expected_canon


def test_distributed_matches_local_ndjson(spark, corpus):
    r = infer_schema(spark, str(corpus / "a.json"), ndjson=True)
    assert r.records == 4
    assert str(r.htype) == EXPECTED


def test_distributed_whole_file_mode_gz(spark, corpus):
    names = ["b.json", "c.json.gz", "c,d.json"]
    r = infer_schema(spark, [str(corpus / n) for n in names], ndjson=False)
    assert r.records == 12
    assert str(r.htype) == EXPECTED


@pytest.mark.parametrize(
    "files,ndjson", [(9, False), (1, False), (1, True)], ids=["9-gz", "1-gz", "1-ndjson"]
)
def test_file_discovery_is_one_job_with_no_exchange(spark, tmp_path, monkeypatch, files, ndjson):
    # the file read is folded as Spark packs it: no ensure_parallelism
    # round-robin in front of the fold, and no job but the fold's own
    import uuid

    import hive_json_spark.infer as infer_mod

    sep = "\n" if ndjson else ""
    text = sep.join(json.dumps(doc) for doc in CORPUS_DOCS) + "\n"
    paths = []
    for i in range(files):
        if ndjson:
            path = tmp_path / f"part{i}.json"
            path.write_text(text)
        else:
            path = tmp_path / f"part{i}.json.gz"
            with gzip.open(path, "wt") as f:
                f.write(text)
        paths.append(str(path))
    folded = []
    real_partials = infer_mod._partials

    def spy(df, *args, **kwargs):
        folded.append(real_partials(df, *args, **kwargs))
        return folded[-1]

    monkeypatch.setattr(infer_mod, "_partials", spy)
    sc = spark.sparkContext
    group = f"infer-files-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "file discovery job count")
    try:
        r = infer_schema(spark, paths, ndjson=ndjson)
    finally:
        sc.setJobGroup(None, None)
    assert r.records == len(CORPUS_DOCS) * files
    assert str(r.htype) == EXPECTED
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    (partials,) = folded
    plan = partials._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_whole_file_hidden_names_raise(spark, tmp_path):
    """Spark's file index silently drops files whose name starts with '_'
    or '.'; a file the caller named, directly or through a glob, must
    raise instead of vanishing from the fold."""
    doc = '{"a": 1}'
    for name in ("_x.json", ".y.json"):
        (tmp_path / name).write_text(doc)
        with pytest.raises(ValueError, match=name):
            infer_schema(spark, str(tmp_path / name), ndjson=False)
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "v.json").write_text(doc)
    (sub / "_w.json").write_text(doc)
    with pytest.raises(ValueError, match="_w.json"):
        infer_schema(spark, str(sub / "*.json"), ndjson=False)
    # a directory so named is still listed by Spark, so it stays readable
    hidden_dir = tmp_path / "_dir"
    hidden_dir.mkdir()
    (hidden_dir / "z.json").write_text(doc)
    assert infer_schema(spark, str(hidden_dir), ndjson=False).records == 1


@pytest.mark.parametrize("ndjson", [False, True], ids=["whole_file", "ndjson"])
def test_whole_file_malformed_input_pinned(spark, tmp_path, ndjson):
    """Pinned behaviour of the discover path on malformed input, both for
    whole-file rows (.gz / concatenated, ``ndjson=False``) and for one row
    per line (``ndjson=True``)."""
    from pyspark.errors import PySparkException
    from py4j.protocol import Py4JJavaError

    failures = (Py4JJavaError, PySparkException)
    full = gzip.compress(b'{"a": 1}{"a": 2}' * 200)
    truncated = tmp_path / "truncated.json.gz"
    truncated.write_bytes(full[: len(full) // 2])
    bad_utf8 = tmp_path / "bad_utf8.json"
    bad_utf8.write_bytes(b'{"a": "\xff\xfe"}')
    for path in (truncated, bad_utf8):
        for on_error in ("raise", "skip"):
            with pytest.raises(failures):
                infer_schema(spark, str(path), ndjson=ndjson, on_error=on_error)

    # a bad document mid-text: the documents before it count, the rest of
    # the text is one corrupt text; a whole-file row loses the rest of the
    # file, a line row only the rest of its line
    mid = tmp_path / "mid.json"
    mid.write_text('{"a":1}{"a":2}{"a":{"a":3}\n{"a":4}\n')
    r = infer_schema(spark, str(mid), ndjson=ndjson, on_error="skip")
    assert (r.records, r.corrupt) == ((3, 1) if ndjson else (2, 1))
    assert str(r.htype) == "struct<a:tinyint>"
    with pytest.raises(failures):
        infer_schema(spark, str(mid), ndjson=ndjson)

    # an empty file folds to no type and no records, as infer_files_local
    empty = tmp_path / "empty.json"
    empty.write_text("")
    r = infer_schema(spark, str(empty), ndjson=ndjson)
    assert (r.htype, r.records) == (None, 0)
    assert infer_files_local(str(empty)).htype is None

    # 1000-deep nesting exceeds the default recursion limit (1000) on both
    # paths; Spark's Python workers run at that default, and the local
    # call pins it because a library used by other tests may leave the
    # limit raised in this process
    deep = tmp_path / "deep.json"
    deep.write_text("[" * 1000 + "]" * 1000)
    limit = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    try:
        with pytest.raises(RecursionError):
            infer_files_local(str(deep))
    finally:
        sys.setrecursionlimit(limit)
    for on_error in ("raise", "skip"):
        with pytest.raises(failures):
            infer_schema(spark, str(deep), ndjson=ndjson, on_error=on_error)

    # nesting that parses but cannot be typed or shipped: one text holding
    # a 450-deep document, then a 700-deep one, still raises on both paths
    # (the fold may type it, but its partial cannot be pickled)
    nested = tmp_path / "nested.json"
    nested.write_text("".join('{"a":' * n + "1" + "}" * n for n in (450, 700)))
    sys.setrecursionlimit(1000)
    try:
        with pytest.raises(RecursionError):
            infer_files_local(str(nested))
    finally:
        sys.setrecursionlimit(limit)
    for on_error in ("raise", "skip"):
        with pytest.raises(failures):
            infer_schema(spark, str(nested), ndjson=ndjson, on_error=on_error)

    # numbers past 38 digits or the double range widen to double; a
    # duplicate key keeps one field whose type joins both values
    for name, text, want in (
        ("huge.json", '{"n": %s, "f": 1.5e400}' % ("9" * 40), "struct<f:double,n:double>"),
        ("dup.json", '{"a":1,"b":"x","a":"s"}', "struct<a:string,b:string>"),
    ):
        path = tmp_path / name
        path.write_text(text)
        r = infer_schema(spark, str(path), ndjson=ndjson)
        local = infer_files_local(str(path))
        assert (str(r.htype), r.records) == (want, 1), name
        assert (str(canonicalize(local.htype)), local.records) == (want, 1), name

    # a pretty-printed document spans lines: per-line rows differ from
    # infer_files_local by design (each line is its own text, so "{" and
    # "}" are corrupt and the line '"a": 1' yields one string document)
    pretty = tmp_path / "pretty.json"
    pretty.write_text('{\n  "a": 1\n}\n')
    assert str(canonicalize(infer_files_local(str(pretty)).htype)) == "struct<a:tinyint>"
    r = infer_schema(spark, str(pretty), ndjson=ndjson, on_error="skip")
    if ndjson:
        assert (str(r.htype), r.records, r.corrupt) == ("string", 1, 3)
        with pytest.raises(failures):
            infer_schema(spark, str(pretty), ndjson=ndjson)
    else:
        assert (str(r.htype), r.records, r.corrupt) == ("struct<a:tinyint>", 1, 0)

    with pytest.raises(failures):
        infer_schema(spark, str(tmp_path / "missing.json"), ndjson=ndjson)


def test_column_reinferred_after_rewrite_in_place(spark, tmp_path):
    """A parquet file rewritten in place under the same path is folded
    again: inference reflects the file as it is now, not a cached result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"js": ['{"k": 1}', '{"k": 2}']}), path)
    first = infer_schema_of_column(spark.read.parquet(path), "js")
    assert str(first.htype) == "struct<k:tinyint>"

    pq.write_table(pa.table({"js": ['{"k": "x"}', '{"k": "y"}', '{"k": "z"}']}), path)
    second = infer_schema_of_column(spark.read.parquet(path), "js")
    assert str(second.htype) == "struct<k:string>"
    assert second.records == 3


def test_infer_column_events_props(spark, sf_dir):
    from hive_json_spark.sources import load_table
    events = load_table(spark, sf_dir, "events")
    r = infer_schema_of_column(events, "props")
    assert r.records == events.filter("props is not null").count()
    # props is {"k": <int 0..~100>} → struct with a single small-int field
    assert str(r.htype).startswith("struct<k:")
    ddl = to_hive_ddl(r.htype)
    assert ddl.startswith("create table tbl (\n  k ")


def test_cli_find_json_schema(corpus, capsys, spark, tmp_path, monkeypatch):
    from hive_json_spark.cli import find_json_schema

    rc = find_json_schema(["-f", str(corpus / "a.json")])
    assert rc == 0
    out = capsys.readouterr()
    assert "root.actor.login: string" in out.out
    assert "4 records read" in out.err

    rc = find_json_schema([str(corpus / "a.json")])
    out = capsys.readouterr()
    assert rc == 0
    assert out.out.startswith("create table tbl (")

    # an empty corpus has no schema to print: exit 1 on both paths
    empty = tmp_path / "empty.json"
    empty.write_text("")
    monkeypatch.setattr("hive_json_spark.session.get_spark", lambda: spark)
    for argv in ([str(empty)], ["--spark", str(empty)]):
        assert find_json_schema(argv) == 1, argv
        out = capsys.readouterr()
        assert out.out == "" and "0 records read" in out.err


def test_load_json_column_union_tagged(spark):
    """Heterogeneous values load as ORC-style tagged structs and are
    queryable by tag — SURVEY §7.5.1 end-to-end."""
    from hive_json_spark.infer import infer_schema_of_column, load_json_column

    rows = [
        (1, '{"u": 5}'),
        (2, '{"u": "hello"}'),
        (3, '{"u": {"a": true}}'),
        (4, '{"u": null}'),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id bigint, js string")
    res = infer_schema_of_column(df, "js")
    assert "uniontype<" in str(res.htype)

    loaded = load_json_column(df, "js", res.htype)
    assert "tag" in loaded.schema["parsed"].dataType["u"].dataType.fieldNames()
    got = {r["id"]: r["parsed"] for r in loaded.collect()}
    tags = {i: (got[i]["u"]["tag"] if got[i] and got[i]["u"] else None) for i in got}
    # three distinct branches hit, null/missing stay null
    assert sorted(t for t in tags.values() if t is not None) == [0, 1, 2]
    assert tags[4] is None and got[5] is None
    # branch payloads land in their fieldN slot
    by_tag = {}
    for i, p in got.items():
        if p and p["u"] and p["u"]["tag"] is not None:
            u = p["u"]
            by_tag[u["tag"]] = [u[f"field{j}"] for j in range(3)]
    vals = {tuple(v is not None for v in slots) for slots in by_tag.values()}
    assert all(sum(mask) == 1 for mask in vals)


def test_load_json_column_no_union_uses_from_json(spark):
    from hive_json_spark.infer import load_json_column
    from hive_json_spark.types import infer_type

    df = spark.createDataFrame([('{"k": 1}',), ('{"k": 200}',)], "js string")
    loaded = load_json_column(df, "js", infer_type({"k": 200}))
    # pure-JVM path: no Python in the plan
    assert "mapInPandas" not in loaded._jdf.queryExecution().toString().lower().replace(" ", "")
    assert [r["parsed"]["k"] for r in loaded.orderBy("js").collect()] == [1, 200]


def test_load_json_column_no_documents(spark):
    """A column of SQL nulls infers no type and loads as a null ``parsed``."""
    from hive_json_spark.infer import load_json_column

    df = spark.createDataFrame([(1, None), (2, None)], "id bigint, js string")
    loaded = load_json_column(df, "js")
    assert [(r["id"], r["parsed"]) for r in loaded.orderBy("id").collect()] == [
        (1, None),
        (2, None),
    ]


def test_load_json_column_only_json_nulls(spark):
    """A column of ``null`` documents infers ``void``, which ``from_json``
    rejects as a schema; it loads as a null ``parsed``."""
    from hive_json_spark.infer import load_json_column

    df = spark.createDataFrame([(1, "null"), (2, " null ")], "id bigint, js string")
    loaded = load_json_column(df, "js")
    assert [(r["id"], r["parsed"]) for r in loaded.orderBy("id").collect()] == [
        (1, None),
        (2, None),
    ]


def test_write_table_partitioned_and_bucketed(spark, tmp_path):
    from hive_json_spark.sources.tables import write_table

    df = spark.range(100).selectExpr("id", "id % 4 AS k", "id * 2 AS v")
    # partitioned write → partition pruning on read
    p = str(tmp_path / "part")
    write_table(df, p, partition_by=["k"])
    back = spark.read.parquet(p).filter("k = 2")
    assert back.count() == 25
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(k" in plan
    # bucketed write → join on bucket key has no exchange on the bucketed side
    write_table(df, str(tmp_path / "bkt"), bucket_by=(4, ["id"]), sort_by=["id"], table_name="t_bkt")
    t = spark.table("t_bkt")
    j = t.join(t.withColumnRenamed("v", "v2"), "id")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join: the bucketed scan must serve the join's
        # partitioning with zero shuffle exchanges
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange hashpartitioning" not in plan
    assert "Bucketed: true" in plan
    spark.sql("DROP TABLE t_bkt")


def test_infer_on_error_skip_counts_corrupt(spark):
    from hive_json_spark.infer import infer_schema_of_column

    rows = [('{"a": 1}',), ('{"a": 2',), ('{"a": "x"}',), ("[1, 2",)]
    df = spark.createDataFrame(rows, "js string")
    r = infer_schema_of_column(df, "js", on_error="skip")
    assert r.records == 2 and r.corrupt == 2
    assert "uniontype<" in str(r.htype) or "a:" in str(r.htype)
    import pytest as _pt

    with _pt.raises(Exception):
        infer_schema_of_column(df, "js")


def test_infer_wide_struct_stays_struct(spark):
    """An object is always a struct (JsonSchemaFinder.java:124-133): 100
    documents with 6 distinct keys each infer one 600-field struct."""
    import json as _json

    from hive_json_spark.infer import infer_schema_of_column

    rows = [(_json.dumps({f"key_{i}_{j}": j for j in range(6)}),) for i in range(100)]
    df = spark.createDataFrame(rows, "js string")
    r = infer_schema_of_column(df, "js")
    assert str(r.htype).startswith("struct<")
    assert str(r.htype).count("key_") == 600


def test_write_table_formats_round_trip(spark, tmp_path):
    """Sink/source coverage beyond parquet: orc (columnar alternative),
    csv and json (interchange) all round-trip through write_table with
    values intact. Parquet is the default and covered everywhere else."""
    from hive_json_spark.sources.tables import write_table

    df = spark.range(50).selectExpr(
        "id", "concat('name_', id) AS name", "CAST(id AS DOUBLE) / 4 AS score"
    )
    expected = [(r["id"], r["name"], r["score"]) for r in df.orderBy("id").collect()]

    p_orc = str(tmp_path / "t_orc")
    write_table(df, p_orc, format="orc")
    back = spark.read.orc(p_orc)
    assert [(r["id"], r["name"], r["score"]) for r in back.orderBy("id").collect()] == expected

    p_csv = str(tmp_path / "t_csv")
    write_table(df.selectExpr("*"), p_csv, format="csv", compression=None)
    back = spark.read.schema("id bigint, name string, score double").csv(p_csv)
    assert [(r["id"], r["name"], r["score"]) for r in back.orderBy("id").collect()] == expected

    p_json = str(tmp_path / "t_json")
    write_table(df, p_json, format="json", compression=None)
    back = spark.read.schema("id bigint, name string, score double").json(p_json)
    assert [(r["id"], r["name"], r["score"]) for r in back.orderBy("id").collect()] == expected


def test_infer_schema_by_group_matches_per_group_local(spark, sf_dir):
    """The grouped two-level fold must agree exactly with running the
    single-column fold on each group's rows separately (same lattice, same
    canonicalization), including the corrupt counter."""
    from hive_json_spark.infer import infer_schema_by_group, infer_schema_of_column
    from hive_json_spark.sources import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    got = {
        r.event_type: (r.hive_type, r.records, r.corrupt)
        for r in infer_schema_by_group(ev, "event_type", "props").collect()
    }
    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    assert sorted(got) == sorted(types)
    for et in types:
        sub = ev.filter(F.col("event_type") == et)
        want = infer_schema_of_column(sub, "props")
        assert got[et] == (str(want.htype), want.records, want.corrupt), et


def test_infer_schema_by_group_tolerates_corrupt(spark):
    """on_error='skip' counts undecodable docs per group instead of failing."""
    from hive_json_spark.infer import infer_schema_by_group

    df = spark.createDataFrame(
        [("a", '{"x": 1}'), ("a", "{nope"), ("b", '{"x": "y"}'), ("c", "{nope")],
        "grp string, payload string",
    )
    rows = {
        r.grp: (r.hive_type, r.records, r.corrupt)
        for r in infer_schema_by_group(
            df, "grp", "payload", on_error="skip"
        ).collect()
    }
    assert rows["a"] == ("struct<x:tinyint>", 1, 1)
    assert rows["b"] == ("struct<x:string>", 1, 0)
    # a group whose every document was skipped renders the void sentinel
    for render, void in (("compact", "void"), ("ddl", "void\n"), ("flat", "void\n")):
        out = infer_schema_by_group(df, "grp", "payload", on_error="skip", render=render)
        got = {r.grp: (r.hive_type, r.records, r.corrupt) for r in out.collect()}
        assert got["c"] == (void, 0, 1), render


def test_infer_schema_by_group_column_name_with_space(spark):
    """A group column whose name a DDL string cannot hold keeps its name
    and type; its null group is a group of its own."""
    from hive_json_spark.infer import infer_schema_by_group

    df = spark.createDataFrame(
        [("a", '{"x": 1}'), ("b", '{"x": "y"}'), (None, '{"y": true}')],
        "`event type` string, payload string",
    )
    out = infer_schema_by_group(df, "event type", "payload")
    assert out.columns == ["event type", "hive_type", "records", "corrupt"]
    rows = sorted((tuple(r) for r in out.collect()), key=lambda r: r[0] or "")
    assert rows == [
        (None, "struct<y:boolean>", 1, 0),
        ("a", "struct<x:tinyint>", 1, 0),
        ("b", "struct<x:string>", 1, 0),
    ]


def test_infer_schema_by_group_flat_render(spark):
    """render='flat' emits to_flat's dotted-path lines per group — the
    machine-diffable form q_schema_drift consumes (one 'root.path: leaf'
    line per leaf, lists as ._list, trailing newline)."""
    from hive_json_spark.infer import infer_schema_by_group

    df = spark.createDataFrame(
        [
            ("a", '{"x": 1, "nest": {"deep": [7]}}'),
            ("a", '{"x": 300}'),
            ("b", '{"y": "s"}'),
        ],
        "grp string, payload string",
    )
    rows = {
        r.grp: r.hive_type
        for r in infer_schema_by_group(df, "grp", "payload", render="flat").collect()
    }
    assert rows["a"] == "root.nest.deep._list: tinyint\nroot.x: smallint\n"
    assert rows["b"] == "root.y: string\n"


def test_write_table_format_matrix_roundtrip(spark, tmp_path):
    """Source/sink matrix: the same frame round-trips through every
    locally-available columnar/row format (parquet+zstd, orc+zlib,
    json+gzip, csv+gzip) with values intact. CSV/JSON lose type
    fidelity by design (schema-on-read), so those re-reads supply the
    writer's schema — the engine's documented contract for text formats."""
    from hive_json_spark.sources.tables import write_table
    from tests.conftest import SF_DIR

    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(200)
    )
    expect = sorted(map(tuple, df.collect()))
    cases = [
        ("parquet", "zstd", False),
        ("orc", "zlib", False),
        ("json", "gzip", True),
        ("csv", "gzip", True),
    ]
    for fmt, codec, needs_schema in cases:
        p = str(tmp_path / fmt)
        write_table(df, p, format=fmt, compression=codec)
        reader = spark.read.format(fmt)
        if needs_schema:
            reader = reader.schema(df.schema)
        if fmt == "csv":
            reader = reader.option("header", "false")
        got = sorted(map(tuple, reader.load(p).collect()))
        assert got == expect, f"{fmt} roundtrip mismatch"


def test_parquet_schema_evolution_reads(spark, tmp_path):
    """Lake-schema-evolution contract: files written before a column was
    added coexist with newer files; mergeSchema=true reads the union
    schema with nulls for the missing column, and filters/aggregates on
    the new column treat legacy rows as null (never error). This is the
    read-side counterpart of the engine's monotonically-widening inferred
    schemas (types.merge_types): old data stays queryable as the schema
    grows."""
    p = str(tmp_path / "evo")
    spark.range(0, 50).selectExpr("id", "id * 1.0 AS v").write.parquet(p)
    spark.range(50, 100).selectExpr(
        "id", "id * 1.0 AS v", "'new' AS tag"
    ).write.mode("append").parquet(p)

    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "tag"}
    assert df.count() == 100
    # legacy rows surface as null tags; new rows keep theirs
    got = df.groupBy("tag").count().collect()
    assert {(r["tag"], r["count"]) for r in got} == {(None, 50), ("new", 50)}
    # predicates on the evolved column skip legacy rows, never crash
    assert df.filter("tag = 'new'").count() == 50


def test_column_fold_tree_merge_matches_flat(spark, sf_dir, monkeypatch):
    """The executor-side tree final-merge (active above _MERGE_FAN_IN
    partials) must produce the identical canonical schema and counts as
    the flat driver merge — merge_types is the lattice join, so the
    grouping must not matter."""
    import hive_json_spark.infer as infer_mod

    df = spark.read.parquet(f"{sf_dir}/events.parquet").repartition(16)
    flat = infer_mod.infer_schema_of_column(df, "props")
    monkeypatch.setattr(infer_mod, "_MERGE_FAN_IN", 2)  # force 3 tree rounds
    tree = infer_mod.infer_schema_of_column(df, "props")
    assert tree.htype == flat.htype
    assert (tree.records, tree.corrupt) == (flat.records, flat.corrupt)
