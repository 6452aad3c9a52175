"""The three benchmark workloads, their output checks, and the headline list.

Each workload prepares its inputs (untimed), then repeats one operation
until the timed operations have used the run's seconds, and checks the
outputs against a single-process reference computed once, untimed:

- ``json_discover``: ``infer.infer_schema(..., ndjson=False)`` over
  concatenated ``.gz`` files, then ``types.to_hive_ddl`` / ``to_flat``.
  Checked: canonical DDL and record count equal
  ``canonicalize(infer_files_local(...))``.
- ``json_shred``: ``shred.shred_column(spark.read.text(...))`` then
  ``shred.shred_to_dir`` over NDJSON files. Checked: the value count of
  every leaf path on disk equals a single-process ``shred_records`` count.
- ``headline``: the 28 headline registry entries, once each per pass, to a
  noop sink, every pass over its own fresh copy of the tables. Checked:
  every entry matches its DuckDB oracle on an untimed check pass.
"""

from __future__ import annotations

import collections
import math
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import corpus

# bench.py's headline set, fixed here so the benchmark does not move with it
HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q_brand_part_stats", "q_top3_orders_per_customer", "q_running_events",
    "q_sessionize_events", "q_rollup_lineitem", "q_distinct_agg",
    "q_from_json_agg", "q_infer_props_schema", "q_shred_props",
    "q_dedup_exact", "q_minhash_dedup_pairs", "q_text_profile",
    "q_doc_fingerprint", "q_similarity_bruteforce", "q_heavy_hitters",
    "q_token_entropy", "q_bucketed_join", "q_zorder_layout",
    "q_dedup_clusters", "q_bm25_topk", "q_gif_decode",
    "q_setsim_prefix_join", "q_cms_topk", "q_audio_pitch", "q_doc_novelty",
)
QUERY_MODULES = ("queries_relational", "queries_inference", "queries_pipeline", "queries_scale")

# ~1.5 s per distributed call on 4 cores: several calls fit in one run
DISCOVER_DOCS = 15_000
SHRED_DOCS = 30_000


def n_files(cores: int) -> int:
    """More files than cores, and not a multiple of them, so the way files
    are packed into tasks shows in the numbers."""
    return 2 * cores + 1


@dataclass
class Outcome:
    """Timed operation walls plus the attempted / failed tally."""

    walls: list = field(default_factory=list)
    unstolen: float = 0.0  # sum of the walls less their stolen share (see unstolen)
    docs_per_op: int = 0
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def fail(self, why: str) -> None:
        self.failed += 1
        self.notes.append(why)


def cpu_seconds() -> tuple[float, float]:
    """(busy, stolen) core-seconds of this process's cores since boot, from
    /proc/stat: time they ran anything, and time they wanted to run while
    the hypervisor gave them to other guests (``steal``, 0 where the
    kernel counts none)."""
    cpus = os.sched_getaffinity(0)
    busy = stolen = 0
    with open("/proc/stat") as fh:
        for line in fh:
            name, *counters = line.split()
            if name.startswith("cpu") and name[3:].isdigit() and int(name[3:]) in cpus:
                user, nice, system, _idle, _iowait, irq, softirq, *rest = map(int, counters)
                busy += user + nice + system + irq + softirq
                stolen += rest[0] if rest else 0
    tick = os.sysconf("SC_CLK_TCK")
    return busy / tick, stolen / tick


def unstolen(wall: float, busy: float, stolen: float) -> float:
    """The part of ``wall`` left after removing the share of the cores'
    runnable time that was stolen: a core stolen from a fraction f of the
    time it wanted to run stretched whatever it ran by 1 / (1 - f)."""
    runnable = busy + stolen
    return wall * busy / runnable if runnable > 0 else wall


def timed_loop(op, seconds: float, out: Outcome, check, prepare=None) -> None:
    """Run ``op`` until the timed walls add up to ``seconds`` (at least
    once); ``prepare`` runs untimed before each call and ``check`` untimed
    after it, on its result, returning why the output is wrong or None. A
    raise or a wrong output is a failed operation whose wall is not kept,
    and a fourth failure ends the loop."""
    spent = 0.0
    while spent < seconds or not out.walls:
        if prepare is not None:
            prepare()
        out.attempted += 1
        (b0, s0), t0 = cpu_seconds(), time.perf_counter()
        try:
            result = op()
            wall, (b1, s1) = time.perf_counter() - t0, cpu_seconds()
            why = check(result)
        except Exception as e:  # a raise is a counted failure, not a crash
            wall, why = time.perf_counter() - t0, f"{type(e).__name__}: {e}"
        spent += wall
        if why is None:
            out.walls.append(wall)
            out.unstolen += unstolen(wall, b1 - b0, s1 - s0)
            continue
        out.fail(why)
        if out.failed > 3:
            return


# --- json_discover -----------------------------------------------------------


def discover_inputs(work: str, seed: int, cores: int) -> list[str]:
    docs = corpus.make_docs(seed, DISCOVER_DOCS)
    return corpus.write_concatenated_gz(docs, os.path.join(work, "discover"), n_files(cores), seed)


def discover_reference(paths):
    from hive_json_spark.infer import infer_files_local
    from hive_json_spark.types import canonicalize, to_hive_ddl

    ref = infer_files_local(paths)
    return to_hive_ddl(canonicalize(ref.htype)), ref.records


def discover_call(spark, paths):
    from hive_json_spark.infer import infer_schema
    from hive_json_spark.types import to_flat, to_hive_ddl

    r = infer_schema(spark, paths, ndjson=False)
    ddl = to_hive_ddl(r.htype)
    to_flat(r.htype)
    return ddl, r.records


def run_discover(spark, work: str, seed: int, seconds: float, cores: int) -> Outcome:
    paths = discover_inputs(work, seed, cores)
    expected = discover_reference(paths)
    out = Outcome(docs_per_op=expected[1])
    discover_call(spark, paths)  # warm-up: worker pool, JIT

    def check(got):
        if got != expected:
            return f"discover output differs: records {got[1]} vs {expected[1]}"
        return None

    timed_loop(lambda: discover_call(spark, paths), seconds, out, check)
    return out


# --- json_shred --------------------------------------------------------------


def shred_inputs(work: str, seed: int, cores: int) -> list[str]:
    docs = corpus.make_docs(seed + 1_000_003, SHRED_DOCS)
    return corpus.write_ndjson(docs, os.path.join(work, "shred"), n_files(cores))


def shred_reference(paths) -> collections.Counter:
    import json

    from hive_json_spark.shred import shred_records
    from hive_json_spark.types import JsonNumber

    counts: collections.Counter = collections.Counter()
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                doc = json.loads(line, parse_int=JsonNumber, parse_float=JsonNumber)
                counts.update(leaf for leaf, _ in shred_records(doc))
    return counts


def shred_call(spark, paths, out_dir: str) -> None:
    from hive_json_spark.shred import shred_column, shred_to_dir

    shred_to_dir(shred_column(spark.read.text(list(paths)), "value"), out_dir)


def read_shredded(out_dir: str) -> tuple[collections.Counter, int]:
    """(values per leaf path, bytes) of a ``shred_to_dir`` output tree."""
    from urllib.parse import unquote

    counts: collections.Counter = collections.Counter()
    size = 0
    for d in os.listdir(out_dir):
        if not d.startswith("path="):
            continue
        leaf = unquote(d[len("path="):])
        for f in os.listdir(os.path.join(out_dir, d)):
            if f.startswith((".", "_")):
                continue
            full = os.path.join(out_dir, d, f)
            size += os.path.getsize(full)
            with open(full, "rb") as fh:
                counts[leaf] += fh.read().count(b"\n")
    return counts, size


def run_shred(spark, work: str, seed: int, seconds: float, cores: int) -> Outcome:
    paths = shred_inputs(work, seed, cores)
    expected = shred_reference(paths)
    out = Outcome(docs_per_op=SHRED_DOCS)
    out_dir = os.path.join(work, "shred_out")

    def clear():
        shutil.rmtree(out_dir, ignore_errors=True)

    def check(_):
        got, _ = read_shredded(out_dir)
        if got != expected:
            return f"shred counts differ on {len(set(got.items()) ^ set(expected.items()))} paths"
        return None

    clear()
    shred_call(spark, paths, out_dir)  # warm-up: worker pool, JIT
    timed_loop(lambda: shred_call(spark, paths, out_dir), seconds, out, check, prepare=clear)
    return out


# --- headline ----------------------------------------------------------------


def fresh_copy(src: str, parent: str, tag: str) -> str:
    """Copy of the tables at a new path with a distinct basename, so no
    path-keyed cache (inference memo, bucketed tables, row-group probe)
    carries over from an earlier pass. The basename ends up in table
    names, so it is kept to ``[a-z0-9]``."""
    dst = os.path.join(parent, tag.replace("-", "m"))
    shutil.copytree(src, dst)
    return dst


def drop_copy(spark, sf_dir: str) -> None:
    """Delete a pass's table copy and the bucketed tables derived from it."""
    from hive_json_spark import queries_scale

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    for t in ("lineitem", "orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}_b_{tag}")
    shutil.rmtree(os.path.join(queries_scale._WAREHOUSE, f"{tag}_{os.getpid()}"), ignore_errors=True)
    shutil.rmtree(sf_dir, ignore_errors=True)


def normalize(rows):
    """Rows as sorted tuples of kind-tagged values (type-strict: an int
    never equals a float and a Decimal never equals either)."""
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, bool):
                vals.append(f"bool:{v}")
            elif isinstance(v, float):
                if math.isnan(v):
                    vals.append("f:NaN")
                elif v == 0.0:
                    vals.append("f:0")
                else:
                    vals.append(f"f:{v:.17g}")
            elif isinstance(v, int):
                vals.append(f"i:{v}")
            elif v.__class__.__name__ == "Decimal":
                norm = v.normalize()
                vals.append("d:0" if norm == 0 else f"d:{norm}")
            elif v is None:
                vals.append("null")
            else:
                vals.append(f"{type(v).__name__}:{v}")
        out.append(tuple(vals))
    return sorted(out)


def oracle_mismatch(spark, duck, name: str, sf_dir: str) -> str | None:
    """Why the entry's Spark result differs from its DuckDB oracle, or None."""
    from hive_json_spark.registry import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir)
    cols = sorted(sdf.columns)
    spark_rows = [[r[c] for c in cols] for r in sdf.collect()]
    res = duck.execute(ORACLES[name])
    names = [d[0] for d in res.description]
    if sorted(names) != cols:
        return f"{name}: columns {cols} vs {sorted(names)}"
    idx = [names.index(c) for c in cols]
    duck_rows = [[r[i] for i in idx] for r in res.fetchall()]
    if normalize(spark_rows) != normalize(duck_rows):
        return f"{name}: {len(spark_rows)} rows differ from the oracle's {len(duck_rows)}"
    return None


def check_pass(spark, sf_dir: str, out: Outcome) -> None:
    """Untimed pass: every headline entry against its oracle."""
    import duckdb

    from hive_json_spark.sources.tables import TABLES

    duck = duckdb.connect()
    try:
        for t in TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in HEADLINE:
            out.attempted += 1
            try:
                why = oracle_mismatch(spark, duck, name, sf_dir)
            except Exception as e:
                why = f"{name}: {type(e).__name__}: {e}"
            if why:
                out.fail(why)
    finally:
        duck.close()
    spark.catalog.clearCache()


def headline_pass(spark, sf_dir: str, out: Outcome, on_entry=None) -> float:
    """One timed pass; returns its wall (the sum of the entry walls)."""
    from hive_json_spark.registry import QUERIES

    wall = 0.0
    for name in HEADLINE:
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            if on_entry is None:
                QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            else:
                on_entry(name)
        except Exception as e:
            out.fail(f"{name}: {type(e).__name__}: {e}")
        wall += time.perf_counter() - t0
        # persisted intermediates from one entry must not tax the next
        spark.catalog.clearCache()
    return wall


def headline_tables(work: str, seed: int) -> str:
    src = os.path.join(work, "tables")
    corpus.write_tables(seed, src)
    return src


def run_headline(spark, work: str, seed: int, seconds: float, cores: int) -> Outcome:
    src = headline_tables(work, seed)
    out = Outcome()
    d = fresh_copy(src, work, f"hl{seed}c")
    check_pass(spark, d, out)  # also the first warm-up pass
    drop_copy(spark, d)
    k = 0
    while sum(out.walls) < seconds or not out.walls:
        d = fresh_copy(src, work, f"hl{seed}p{k}")
        failed_before = out.failed
        wall = headline_pass(spark, d, out)
        drop_copy(spark, d)
        if out.failed > failed_before:
            break
        out.walls.append(wall)
        k += 1
    return out
