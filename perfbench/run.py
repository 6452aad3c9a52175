#!/usr/bin/env python3
"""Repository benchmark: the paper's JSON discover and shred path, and the
28-entry headline, on local[<cores>] from a single process.

    python3 perfbench/run.py --workload json_discover --seed 1 --seconds 30 --trace 0

Workloads: ``json_discover``, ``json_shred``, ``headline`` (see
``perfbench/workloads.py`` and ``perfbench/README.md``). With ``--trace 0``
the Spark UI stays off and the end-to-end metrics are reported; with
``--trace 1`` the UI is on and the per-layer metrics of every module are
reported (``perfbench/layers.py``), whatever the workload. Every metric is
printed as ``name value unit``; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

All inputs are generated from ``--seed`` under ``perfbench/_work`` (removed
when the run ends); trace spans are written to ``perfbench/out``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("json_discover", "json_shred", "headline")
DRIVER_HEAP = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --- process-tree memory ------------------------------------------------------


def descendants(root_pid: int) -> list[tuple[int, int]]:
    """Every live descendant of ``root_pid`` as (pid, parent pid), from
    /proc; a parent comes before its children."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [(pid, root_pid) for pid in children.get(root_pid, ())]
    while todo:
        pid, ppid = todo.pop()
        out.append((pid, ppid))
        todo.extend((child, pid) for child in children.get(pid, ()))
    return out


def _proc_field(pid: int, name: str, field: bytes) -> int:
    with open(f"/proc/{pid}/{name}", "rb") as fh:
        for line in fh:
            if line.startswith(field):
                return int(line.split()[1]) * 1024
    return 0


def tree_resident_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, shared
    pages counted once.

    Python processes count their proportional set size, each shared page
    split among the processes sharing it (forked workers share the
    daemon's pages). The JVM counts its plain resident size from
    ``status``: it shares nothing but a few libraries, and reading its
    proportional size walks the page tables of its whole heap (about
    40 ms a read, taken from the run being measured). A child of the JVM
    still running the java binary is the short-lived copy that spawning a
    subprocess makes; its pages are the JVM's, so it adds nothing."""
    total = 0
    java: set[int] = set()
    for pid, ppid in [(root_pid, 0), *descendants(root_pid)]:
        try:
            is_java = os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
            if not is_java:
                total += _proc_field(pid, "smaps_rollup", b"Pss:")
            elif ppid not in java:
                total += _proc_field(pid, "status", b"VmRSS:")
        except OSError:
            continue  # exited between the listing and the read
        if is_java:
            java.add(pid)
    return total


class PeakResident:
    """Samples the benchmark's process tree every ``interval`` seconds."""

    def __init__(self, interval: float = 0.5):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_resident_bytes(pid))
            if self._stop.wait(self._interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# --- Spark session lifetime ---------------------------------------------------


def prepare_env(work: str, ui: bool) -> None:
    """Environment the session and its workers inherit: every scratch
    file inside the checkout, the program importable by Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -UsePerfData: no hsperfdata file, which a JVM puts in /tmp whatever
    # its tmpdir; the launcher JVM that builds the command gets the same
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    # a fixed, pre-touched driver heap: with a growable one, how far G1
    # grew it moved json_shred's peak memory by 30 % between identical runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_SUBMIT_OPTS"] = f"{java_opts} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark():
    """``get_spark()`` plus one trivial Python-worker job: the session is
    ready when both have returned."""
    from hive_json_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 4, 1, n).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until every child process
    (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    left = [pid for pid, _ in descendants(os.getpid())]
    if left:
        raise RuntimeError(f"child processes still running after shutdown: {left}")


# --- reporting ------------------------------------------------------------------


def report(correct: bool, attempted: int, failed: int, metrics: dict, notes) -> None:
    for why in notes[:20]:
        print(f"check failed: {why}")
    print(f"error_rate {failed / max(attempted, 1)} ratio ({failed} of {attempted} operations)")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(
        json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}),
        flush=True,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import hive_json_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import layers, workloads

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work, ui=bool(args.trace))
    spark = None
    try:
        with PeakResident() as mem:
            spark = start_spark()
            setup_s = time.perf_counter() - T_START
            if args.trace:
                out_dir = os.path.join(HERE, "out")
                os.makedirs(out_dir, exist_ok=True)
                result = layers.traced_run(
                    spark, work, args.seed, cores(),
                    os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"),
                )
                metrics = {k: {"value": v, "unit": u} for k, (v, u) in result.metrics.items()}
                outcome = result.outcome
            else:
                run = {
                    "json_discover": workloads.run_discover,
                    "json_shred": workloads.run_shred,
                    "headline": workloads.run_headline,
                }[args.workload]
                outcome = run(spark, work, args.seed, args.seconds, cores())
            stop_spark(spark)
            spark = None
        if not args.trace:
            if not outcome.walls:
                raise RuntimeError(f"no timed operation completed: {outcome.notes[:3]}")
            if args.workload == "headline":
                op = statistics.median(outcome.walls)
                throughput = {"headline_wall_s": {"value": op, "unit": "s"}}
            else:
                # Documents over the timed seconds less the share of them
                # the hypervisor gave this machine's cores to other guests
                # (workloads.unstolen). That time comes in bursts of tens
                # of seconds and stretched the same op from 1.6 to 3.9 s;
                # it is the host's load, not the program's. Without steal
                # this is the plain rate.
                timed = sum(outcome.walls)
                docs = outcome.docs_per_op * len(outcome.walls)
                throughput = {"docs_per_s": {"value": docs / outcome.unstolen, "unit": "docs/s"}}
                print(
                    f"{docs} docs in {timed:.4f} timed s, {outcome.unstolen:.4f} s without the stolen share; "
                    f"{docs / timed:.1f} docs/s with it; "
                    f"median op wall {statistics.median(outcome.walls):.4f} s"
                )
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                **throughput,
                "peak_rss_mb": {"value": mem.peak / (1024 * 1024), "unit": "MB"},
            }
            print(f"{len(outcome.walls)} timed ops, walls (s): {[round(w, 4) for w in outcome.walls]}")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        # bucketed-table copies the headline entries wrote for this process
        for d in glob.glob(os.path.join(ROOT, "_warehouse", f"*_{os.getpid()}")):
            shutil.rmtree(d, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    report(outcome.failed == 0, outcome.attempted, outcome.failed, metrics, outcome.notes)
    return 0


if __name__ == "__main__":
    sys.exit(main())
