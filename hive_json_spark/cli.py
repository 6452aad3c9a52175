"""Command-line entry points matching the reference's bin/ scripts.

``find-json-schema [-f] file...``  (bin/find-json-schema → JsonSchemaFinder.main)
``shred-json file...``             (bin/shred-json → JsonShredder.main)

Diagnostics go to stderr for the finder and stdout for the shredder —
the same (inconsistent) stream split the reference uses
(JsonSchemaFinder.java:231,248 vs JsonShredder.java:93,109).

Add ``--spark`` to run the distributed fold instead of the local one.
"""

from __future__ import annotations

import sys

from hive_json_spark.infer import infer_files_local, infer_schema
from hive_json_spark.shred import shred_files_local
from hive_json_spark.types import StructT, to_flat, to_hive_ddl


def find_json_schema(argv: list[str]) -> int:
    flat = False
    use_spark = False
    files: list[str] = []
    for arg in argv:
        if arg == "-f":
            flat = True
        elif arg == "--spark":
            use_spark = True
        else:
            files.append(arg)
    if use_spark:
        from hive_json_spark.session import get_spark

        result = infer_schema(get_spark(), files, ndjson=False)
    else:
        for f in files:
            print(f"Reading {f}", file=sys.stderr)
        result = infer_files_local(files)
    print(f"{result.records} records read", file=sys.stderr)
    print(file=sys.stderr)
    if result.htype is None:
        return 1
    if flat:
        sys.stdout.write(to_flat(result.htype, "root"))
    else:
        sys.stdout.write(to_hive_ddl(result.htype))
    return 0


def _options(argv: list[str], valued: dict) -> tuple[dict, list[str]] | None:
    """Split ``argv`` into ``{flag: converted value}`` for the flags in
    ``valued`` (flag -> converter) and the remaining arguments. None when a
    flag is the last argument or its value does not convert."""
    opts: dict = {}
    rest: list[str] = []
    it = iter(argv)
    for arg in it:
        if arg not in valued:
            rest.append(arg)
            continue
        value = next(it, None)
        if value is None:
            return None
        try:
            opts[arg] = valued[arg](value)
        except ValueError:
            return None
    return opts, rest


def _usage(line: str) -> int:
    print(f"usage: {line}", file=sys.stderr)
    return 2


def _print_csv(df, limit: int) -> None:
    df = df.limit(limit)
    rows = df.collect()
    print(",".join(df.columns))
    for r in rows:
        print(",".join("" if v is None else str(v) for v in r))


def shred_json(argv: list[str]) -> int:
    parsed = _options(argv, {"-o": str})
    if parsed is None:
        return _usage("shred-json [-o DIR] FILE...")
    opts, files = parsed
    out_dir = opts.get("-o", ".")
    for f in files:
        print(f"Reading {f}")
    count = shred_files_local(files, out_dir)
    print(f"{count} records read")
    print()
    return 0


def run_query(argv: list[str]) -> int:
    """``run-query [--sf-dir DIR] [--limit N] [--list] NAME``: run any
    registered engine query against a testdata directory and print the
    result (CSV to stdout). Extends the reference's CLI surface to the
    full query engine — a user can drive every declared operator without
    writing Python."""
    sf_dir = "/root/testdata/sf0.001"
    limit = 50
    parsed = _options(argv, {"--sf-dir": str, "--limit": int})
    if parsed is None:
        return _usage("run-query [--sf-dir DIR] [--limit N] [--list] NAME...")
    opts, args = parsed
    sf_dir = opts.get("--sf-dir", sf_dir)
    limit = opts.get("--limit", limit)
    names = [a for a in args if a != "--list"]
    from hive_json_spark.registry import QUERIES

    if "--list" in args:
        for name in sorted(QUERIES):
            print(name)
        return 0
    if not names or any(n not in QUERIES for n in names):
        bad = [n for n in names if n not in QUERIES]
        print(
            f"unknown query: {', '.join(bad)}" if bad else "no query named",
            file=sys.stderr,
        )
        print("use --list to see the registered queries", file=sys.stderr)
        return 2
    from hive_json_spark.session import get_spark

    spark = get_spark()
    for name in names:
        _print_csv(QUERIES[name](spark, sf_dir), limit)
    return 0


def sql(argv: list[str]) -> int:
    """``sql [--sf-dir DIR] [--limit N] QUERY``: register every corpus
    table (region nation customer supplier part orders lineitem events
    documents embeddings) as a temp view plus the engine's SQL functions
    (classifiers, token_count, shred_json UDTF) and run one ad-hoc SQL
    statement — the raw-SQL face of the engine, CSV to stdout."""
    sf_dir = "/root/testdata/sf0.001"
    limit = 50
    parsed = _options(argv, {"--sf-dir": str, "--limit": int})
    if parsed is None or not parsed[1]:
        return _usage("sql [--sf-dir DIR] [--limit N] QUERY")
    opts, stmts = parsed
    sf_dir = opts.get("--sf-dir", sf_dir)
    limit = opts.get("--limit", limit)
    from hive_json_spark.functions.udf import register_engine_udfs, register_shred_udtf
    from hive_json_spark.session import get_spark
    from hive_json_spark.sources import TABLES, load_table

    spark = get_spark()
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    register_engine_udfs(spark)
    register_shred_udtf(spark)
    for stmt in stmts:
        _print_csv(spark.sql(stmt), limit)
    return 0


def main() -> int:
    if len(sys.argv) < 2:
        return _usage("hive_json_spark.cli {find-json-schema|shred-json|run-query|sql} ...")
    cmd, rest = sys.argv[1], sys.argv[2:]
    if cmd == "find-json-schema":
        return find_json_schema(rest)
    if cmd == "shred-json":
        return shred_json(rest)
    if cmd == "run-query":
        return run_query(rest)
    if cmd == "sql":
        return sql(rest)
    print(f"unknown command: {cmd}", file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
