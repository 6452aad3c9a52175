"""The traced run: per-layer metrics, named after the program's modules.

Spans are recorded here, in the benchmark, around calls into each module's
public functions; every Spark-side call runs under its own job group, and
its jobs, tasks, stage run time, shuffle and spill are read back from the
status REST API once the call has returned. Nothing inside the program is
instrumented.

Layers and the end-to-end metric each should move:

- ``types``: parse / infer / merge docs/s and render ms, single-threaded
  over a fixed sample; moves ``docs_per_s`` on json_discover (parse
  also on json_shred), predicted flat on headline.
- ``infer``: the ``infer_schema`` call, its driver-only time, jobs, tasks,
  executor time and core use, and ``infer_files_local`` as the
  single-core reference; moves json_discover.
- ``shred``: the ``shred_column`` + ``shred_to_dir`` call, the exact
  output counts, and ``shred_files_local``; moves json_shred.
- ``sources`` / ``operators``: ``load_table`` and ``ensure_parallelism``
  over the ten tables at a fresh path; move headline through build time.
- ``queries_*``: build (the ``QUERIES[name]`` call) and execute (the noop
  write) per module over one headline pass; move headline.
- ``trace.overhead_ratio``: traced over untraced discover-call wall.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import corpus, workloads
from perfbench.spans import SparkStatus, Tracer, uncovered

TYPES_SAMPLE_DOCS = 3_000
REPEATS = 3


@dataclass
class TracedResult:
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    outcome: workloads.Outcome = field(default_factory=workloads.Outcome)


def _median_wall(fn, repeats: int = REPEATS) -> tuple[float, object]:
    walls, result = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        result = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), result


class _Run:
    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.tracer = Tracer(run_id=f"{seed}-{os.getpid()}")
        self.status = SparkStatus(spark)
        self.res = TracedResult()

    def metric(self, name: str, value, unit: str) -> None:
        self.res.metrics[name] = (value, unit)

    @contextlib.contextmanager
    def spark_span(self, name: str, group: str):
        """A span whose Spark jobs run under their own job group."""
        with self.tracer.span(name) as s:
            self.status.set_group(group)
            try:
                yield s
            finally:
                self.status.set_group(None)

    def spark_stats(self, s, group: str):
        """Spark stats of a closed span's job group, also kept as its counts."""
        stats = self.status.stats([group])
        s.counts = {"jobs": stats.jobs, "tasks": stats.tasks, "stages": len(stats.stage_spans)}
        return stats

    def check(self, ok: bool, why: str) -> None:
        self.res.outcome.attempted += 1
        if not ok:
            self.res.outcome.fail(why)

    # --- layers -------------------------------------------------------------

    def types_layer(self) -> None:
        from hive_json_spark.types import (
            infer_type,
            iter_json_documents,
            merge_types,
            to_flat,
            to_hive_ddl,
        )

        docs = corpus.make_docs(self.seed, TYPES_SAMPLE_DOCS)
        text = "".join(json.dumps(d, separators=(",", ":")) for d in docs)
        n = len(docs)
        with self.tracer.span("types.iter_json_documents"):
            parse_s, parsed = _median_wall(lambda: list(iter_json_documents(text)))
        with self.tracer.span("types.infer_type"):
            infer_s, inferred = _median_wall(lambda: [infer_type(d) for d in parsed])

        def fold():
            acc = None
            for t in inferred:
                acc = merge_types(acc, t)
            return acc

        with self.tracer.span("types.merge_types"):
            merge_s, final = _median_wall(fold)
        with self.tracer.span("types.render"):
            render_s, _ = _median_wall(lambda: (to_hive_ddl(final), to_flat(final)), 5)
        self.metric("types.parse_docs_per_s", n / parse_s, "docs/s")
        self.metric("types.infer_docs_per_s", n / infer_s, "docs/s")
        self.metric("types.merge_docs_per_s", n / merge_s, "docs/s")
        self.metric("types.render_ms", render_s * 1000, "ms")

    def infer_layer(self) -> None:
        from hive_json_spark.infer import infer_files_local, infer_schema
        from hive_json_spark.types import to_flat, to_hive_ddl

        paths = workloads.discover_inputs(self.work, self.seed, self.cores)
        expected = workloads.discover_reference(paths)
        workloads.discover_call(self.spark, paths)  # warm-up
        untraced, traced, calls = [], [], []
        for i in range(REPEATS):
            t0 = time.perf_counter()
            got = workloads.discover_call(self.spark, paths)
            untraced.append(time.perf_counter() - t0)
            self.check(got == expected, "untraced discover output differs")
            with self.tracer.span("discover") as call:
                with self.spark_span("infer.infer_schema", f"infer-{i}") as s:
                    r = infer_schema(self.spark, paths, ndjson=False)
                with self.tracer.span("types.render"):
                    got = (to_hive_ddl(r.htype), r.records)
                    to_flat(r.htype)
            traced.append(call.duration)
            self.check(got == expected, "traced discover output differs")
            calls.append((s, self.spark_stats(s, f"infer-{i}")))
        self._call_metrics("infer", calls)
        self.metric("trace.overhead_ratio", statistics.median(traced) / statistics.median(untraced), "ratio")
        sample = paths[:2]
        with self.tracer.span("infer.infer_files_local"):
            wall, local = _median_wall(lambda: infer_files_local(sample))
        self.metric("infer.local_docs_per_s", local.records / wall, "docs/s")

    def _call_metrics(self, layer: str, calls) -> None:
        """Medians over the traced calls of one Spark-side layer."""

        def med(f):
            return statistics.median(f(s, st) for s, st in calls)

        wall = med(lambda s, st: s.duration)
        busy = med(lambda s, st: st.executor_busy_s)
        self.metric(f"{layer}.call_s", wall, "s")
        self.metric(
            f"{layer}.driver_s", med(lambda s, st: uncovered(s.start, s.end, st.stage_spans)), "s"
        )
        self.metric(f"{layer}.jobs", calls[-1][1].jobs, "count")
        self.metric(f"{layer}.tasks", calls[-1][1].tasks, "count")
        self.metric(f"{layer}.executor_busy_s", busy, "s")
        self.metric(
            f"{layer}.core_util",
            med(lambda s, st: st.executor_busy_s / (s.duration * self.cores)),
            "ratio",
        )

    def shred_layer(self) -> None:
        from hive_json_spark.shred import shred_files_local

        paths = workloads.shred_inputs(self.work, self.seed, self.cores)
        expected = workloads.shred_reference(paths)
        out_dir = os.path.join(self.work, "shred_out")

        workloads.shred_call(self.spark, paths, os.path.join(self.work, "shred_warm"))
        calls = []
        for i in range(REPEATS):
            shutil.rmtree(out_dir, ignore_errors=True)
            with self.spark_span("shred.shred_column+shred_to_dir", f"shred-{i}") as s:
                workloads.shred_call(self.spark, paths, out_dir)
            calls.append((s, self.spark_stats(s, f"shred-{i}")))
        self._call_metrics("shred", calls)
        counts, out_bytes = workloads.read_shredded(out_dir)
        self.check(counts == expected, "shredded value counts differ from shred_records")
        self.metric("shred.leaf_paths", len(counts), "count")
        self.metric("shred.values_written", sum(counts.values()), "count")
        in_bytes = sum(os.path.getsize(p) for p in paths)
        self.metric("shred.out_bytes_per_in_byte", out_bytes / in_bytes, "ratio")
        sample = paths[:2]
        local_dir = os.path.join(self.work, "shred_local")

        def local():
            shutil.rmtree(local_dir, ignore_errors=True)
            return shred_files_local(sample, local_dir)

        with self.tracer.span("shred.shred_files_local"):
            wall, n = _median_wall(local)
        self.metric("shred.local_docs_per_s", n / wall, "docs/s")

    def table_layers(self, src: str) -> None:
        from hive_json_spark.operators.util import ensure_parallelism
        from hive_json_spark.sources.tables import TABLES, load_table

        d = workloads.fresh_copy(src, self.work, f"lt{self.seed}")
        walls = []
        for t in TABLES:
            with self.tracer.span(f"sources.load_table:{t}") as s:
                load_table(self.spark, d, t)
            walls.append(s.duration)
        self.metric("sources.load_table_ms", statistics.median(walls) * 1000, "ms")
        d = workloads.fresh_copy(src, self.work, f"ep{self.seed}")
        walls, jobs = [], 0
        for t in TABLES:
            df = load_table(self.spark, d, t)
            with self.spark_span(f"operators.ensure_parallelism:{t}", f"ep-{t}") as s:
                ensure_parallelism(df)
            walls.append(s.duration)
            jobs += self.spark_stats(s, f"ep-{t}").jobs
        self.metric("operators.ensure_parallelism_ms", statistics.median(walls) * 1000, "ms")
        self.metric("operators.ensure_parallelism_jobs", jobs, "count")

    def headline_layers(self, src: str) -> None:
        from hive_json_spark.registry import QUERIES

        d = workloads.fresh_copy(src, self.work, f"hl{self.seed}c")
        workloads.check_pass(self.spark, d, self.res.outcome)  # also the warm-up pass
        workloads.drop_copy(self.spark, d)
        d = workloads.fresh_copy(src, self.work, f"hl{self.seed}t")
        spans = {}

        def on_entry(name: str) -> None:
            with self.tracer.span(f"headline:{name}"):
                try:
                    self.status.set_group(f"b-{name}")
                    with self.tracer.span("build") as b:
                        df = QUERIES[name](self.spark, d)
                    self.status.set_group(f"x-{name}")
                    with self.tracer.span("execute") as x:
                        df.write.format("noop").mode("overwrite").save()
                finally:
                    self.status.set_group(None)
            spans[name] = (b, x)

        workloads.headline_pass(self.spark, d, self.res.outcome, on_entry)
        workloads.drop_copy(self.spark, d)
        owner = _query_owners()
        totals = {
            m: dict.fromkeys(
                ("build_s", "build_jobs", "execute_s", "execute_jobs", "driver_gap_s",
                 "executor_busy_s", "shuffle_mb", "spill_mb"), 0,
            )
            for m in workloads.QUERY_MODULES
        }
        for name, (b, x) in spans.items():
            sb = self.status.stats([f"b-{name}"])
            sx = self.status.stats([f"x-{name}"])
            b.counts = {"jobs": sb.jobs, "tasks": sb.tasks}
            x.counts = {"jobs": sx.jobs, "tasks": sx.tasks}
            t = totals[owner[name]]
            t["build_s"] += b.duration
            t["build_jobs"] += sb.jobs
            t["execute_s"] += x.duration
            t["execute_jobs"] += sx.jobs
            t["driver_gap_s"] += uncovered(x.start, x.end, sx.job_spans)
            t["executor_busy_s"] += sb.executor_busy_s + sx.executor_busy_s
            t["shuffle_mb"] += sb.shuffle_mb + sx.shuffle_mb
            t["spill_mb"] += sb.spill_mb + sx.spill_mb
        units = {"build_jobs": "count", "execute_jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB"}
        for m, t in totals.items():
            for k, v in t.items():
                self.metric(f"{m}.{k}", v, units.get(k, "s"))


def _query_owners() -> dict[str, str]:
    import importlib

    owner = {}
    for m in workloads.QUERY_MODULES:
        mod = importlib.import_module(f"hive_json_spark.{m}")
        owner.update({name: m for name in mod.QUERIES})
    return owner


def traced_run(spark, work: str, seed: int, cores: int, spans_path: str) -> TracedResult:
    run = _Run(spark, work, seed, cores)
    with run.tracer.span("run"):
        run.types_layer()
        run.infer_layer()
        run.shred_layer()
        src = workloads.headline_tables(work, seed)
        run.table_layers(src)
        run.headline_layers(src)
    run.tracer.dump(spans_path)
    return run.res
