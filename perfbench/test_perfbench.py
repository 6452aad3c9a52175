"""Tests for the benchmark's own parts (no Spark): input determinism per
seed, the span and self-time arithmetic, and the oracle normalisation.

    python3 -m pytest perfbench -q
"""

import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus  # noqa: E402
from perfbench.spans import Span, Tracer, covered, uncovered  # noqa: E402
from perfbench.workloads import Outcome, cpu_seconds, normalize, timed_loop, unstolen  # noqa: E402


def _tree(root):
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            full = os.path.join(dirpath, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, root)] = fh.read()
    return out


def test_docs_repeat_per_seed_and_differ_across_seeds():
    assert corpus.make_docs(7, 300) == corpus.make_docs(7, 300)
    assert corpus.make_docs(7, 300) != corpus.make_docs(8, 300)


def test_corpus_files_are_byte_identical_per_seed(tmp_path):
    for run in ("a", "b"):
        docs = corpus.make_docs(3, 400)
        corpus.write_concatenated_gz(docs, str(tmp_path / run / "gz"), 5, 3)
        corpus.write_ndjson(docs, str(tmp_path / run / "nd"), 5)
    a, b = _tree(tmp_path / "a"), _tree(tmp_path / "b")
    assert len(a) == 10
    assert a == b


def test_tables_repeat_per_seed():
    a, b, c = corpus.make_tables(5), corpus.make_tables(5), corpus.make_tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert {t: a[t].num_rows for t in a} == corpus.TABLE_ROWS


def test_gz_corpus_holds_every_doc_and_keeps_the_lattice_busy(tmp_path):
    from hive_json_spark.infer import infer_files_local
    from hive_json_spark.types import canonicalize, to_hive_ddl

    docs = corpus.make_docs(11, 2000)
    paths = corpus.write_concatenated_gz(docs, str(tmp_path), 9, 11)
    res = infer_files_local(paths)
    assert res.records == 2000
    ddl = to_hive_ddl(canonicalize(res.htype))
    # unions, beyond-bigint integers, and arrays of structs all occur
    assert "uniontype" in ddl
    assert "decimal(" in ddl
    assert "array <struct" in ddl


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5)]) == 4  # overlap counted once
    assert covered(0, 10, [(1, 2), (4, 6)]) == 3  # disjoint
    assert covered(0, 10, [(-5, 2), (8, 20)]) == 4  # clipped at both ends
    assert covered(0, 10, [(2, 8), (3, 4)]) == 6  # nested
    assert covered(0, 10, [(11, 12), (5, 5)]) == 0  # outside, empty
    assert uncovered(0, 10, [(1, 3), (2, 5)]) == 6


def test_self_time_subtracts_only_what_children_cover():
    t = Tracer("r")
    # hand-built spans: parent [0, 10], children [1, 4] and [3, 6],
    # grandchild [1, 2] under the first child
    t.spans = [
        Span("p", 0.0, 10.0, None, "r"),
        Span("c1", 1.0, 4.0, 0, "r"),
        Span("c2", 3.0, 6.0, 0, "r"),
        Span("g", 1.0, 2.0, 1, "r"),
    ]
    assert t.self_time(0) == 5.0  # 10 - |[1, 6]|
    assert t.self_time(1) == 2.0  # 3 - 1
    assert t.self_time(2) == 3.0
    assert t.self_time(3) == 1.0


def test_tracer_nests_spans_and_dumps_self_time(tmp_path):
    import json

    t = Tracer("run-1")
    with t.span("outer"):
        with t.span("inner") as inner:
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert inner.end >= inner.start
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in recs] == ["outer", "inner"]
    assert all(r["run_id"] == "run-1" for r in recs)
    assert recs[0]["self_s"] <= recs[0]["end"] - recs[0]["start"]


def test_normalize_is_type_strict():
    assert normalize([[3]]) != normalize([[3.0]])
    assert normalize([[Decimal("1.50")]]) == normalize([[Decimal("1.5")]])
    assert normalize([[Decimal("1.5")]]) != normalize([[1.5]])
    assert normalize([[-0.0]]) == normalize([[0.0]])
    assert normalize([[1], [0]]) == normalize([[0], [1]])


def test_timed_loop_keeps_only_the_walls_of_correct_ops():
    results = iter([1, 2, 1, 1])
    out = Outcome()
    timed_loop(lambda: next(results), 0.0, out, lambda r: None if r == 1 else f"got {r}")
    # the first op is correct, so a zero-second loop stops after it
    assert (out.attempted, out.failed, len(out.walls)) == (1, 0, 1)

    results = iter([2, 1])
    out = Outcome()
    timed_loop(lambda: next(results), 0.0, out, lambda r: None if r == 1 else f"got {r}")
    assert (out.attempted, out.failed, len(out.walls), out.notes) == (2, 1, 1, ["got 2"])


def test_timed_loop_counts_a_raise_and_stops_after_four_failures():
    def op():
        raise ValueError("boom")

    out = Outcome()
    timed_loop(op, 60.0, out, lambda r: None)
    assert (out.attempted, out.failed, out.walls) == (4, 4, [])
    assert out.notes[0] == "ValueError: boom"


def test_unstolen_removes_the_stolen_share_of_runnable_time():
    # one core ran 3 s and was kept from running 1 s: it ran at 3/4 speed
    assert unstolen(2.0, 3.0, 1.0) == 1.5
    assert unstolen(2.0, 3.0, 0.0) == 2.0
    assert unstolen(0.005, 0.0, 0.0) == 0.005  # shorter than a clock tick


def test_cpu_seconds_only_grow():
    busy0, stolen0 = cpu_seconds()
    sum(i * i for i in range(200_000))
    busy1, stolen1 = cpu_seconds()
    assert busy1 >= busy0 > 0 and stolen1 >= stolen0 >= 0
