"""The engine's Python worker entry (``hive_json_spark.worker``).

Every session names it as the Python daemon; it keeps zip-archive import
caches across tasks and invalidates every other finder. The first test pins
that rule without Spark; the others check that the workers really run it and
still import files added after they started.
"""

import gzip
import importlib
import importlib.machinery
import json
import os
import subprocess
import sys
import zipfile
import zipimport

from hive_json_spark import to_hive_ddl, worker
from hive_json_spark.infer import infer_files_local

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_module(path, name, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    return str(path)


def test_invalidation_keeps_zip_importers_only(tmp_path, monkeypatch):
    kept = zipimport.zipimporter(_zip_module(tmp_path / "kept.zip", "hjs_kept_mod", 1))
    files = kept._files
    finder = importlib.machinery.FileFinder(
        str(tmp_path), (importlib.machinery.SourceFileLoader, [".py"])
    )
    finder.find_spec("hjs_no_such_module")  # stats the directory
    assert finder._path_mtime != -1
    # a path looked up before its file exists is cached as None: the case
    # of a zip that addPyFile ships to a worker after its first task
    late = tmp_path / "late.zip"
    cache = {
        kept.archive: kept,
        str(tmp_path): finder,
        str(late): None,
        "relative/dir": importlib.machinery.FileFinder("relative/dir"),
    }
    monkeypatch.setattr(sys, "path_importer_cache", cache)

    worker.invalidate_caches()

    assert cache[kept.archive] is kept
    assert kept._files is files  # the archive directory was not re-read
    assert finder._path_mtime == -1
    assert str(late) not in cache and "relative/dir" not in cache

    _zip_module(late, "hjs_late_zip_mod", 2)
    monkeypatch.setattr(sys, "path", [str(late), *sys.path])
    monkeypatch.delitem(sys.modules, "hjs_late_zip_mod", raising=False)
    assert importlib.import_module("hjs_late_zip_mod").VALUE == 2


def test_workers_run_the_entry_and_import_late_files(spark, tmp_path):
    def zip_caches(batches):
        import importlib
        import json
        import os
        import sys
        import zipimport

        import pandas as pd

        entry = sys.modules.get("hive_json_spark.worker")
        live = entry is not None and importlib.invalidate_caches is entry.invalidate_caches
        for b in batches:
            yield pd.DataFrame(
                {
                    "pid": [os.getpid()],
                    "live": [live],
                    "zips": [
                        json.dumps(
                            {
                                p: id(f._files)
                                for p, f in sys.path_importer_cache.items()
                                if isinstance(f, zipimport.zipimporter)
                            }
                        )
                    ],
                }
            )

    def run():
        schema = "pid long, live boolean, zips string"
        return spark.range(0, 8, 1, 4).mapInPandas(zip_caches, schema).collect()

    first = run()
    assert all(r.live for r in first), "workers did not start from hive_json_spark.worker"
    before = {r.pid: json.loads(r.zips) for r in first}
    assert any(before.values()), "no zip importer cached in the workers"

    # files added after the workers started: the .py lands in the worker's
    # files directory (already on sys.path), the .zip is a new sys.path
    # entry. A zip rewritten in place under the same name would be served
    # from its kept directory, stale; spark.files.overwrite=false (the
    # default) makes Spark refuse that rewrite.
    py = tmp_path / "hjs_added_py_mod.py"
    py.write_text("VALUE = 'py'\n")
    spark.sparkContext.addPyFile(str(py))
    spark.sparkContext.addPyFile(_zip_module(tmp_path / "hjs_added.zip", "hjs_added_zip_mod", "zip"))

    def imports(batches):
        import pandas as pd

        import hjs_added_py_mod
        import hjs_added_zip_mod

        for _ in batches:
            yield pd.DataFrame({"got": [hjs_added_py_mod.VALUE + hjs_added_zip_mod.VALUE]})

    got = spark.range(0, 8, 1, 4).mapInPandas(imports, "got string").collect()
    assert [r.got for r in got] == ["pyzip"] * 4

    # a worker that ran tasks on both sides still holds the same archive
    # directories: the per-task invalidation did not re-read them
    after = {r.pid: json.loads(r.zips) for r in run()}
    same = [
        (pid, path)
        for pid in before.keys() & after.keys()
        for path in before[pid].keys() & after[pid].keys()
    ]
    assert same, "no worker ran tasks in both jobs"
    assert all(before[pid][path] == after[pid][path] for pid, path in same)


def test_cli_spark_discover_outside_checkout(tmp_path):
    """``find-json-schema --spark`` from a cwd outside the checkout, with
    the checkout on PYTHONPATH: the workers import the entry from there."""
    docs = [{"id": i, "user": {"name": f"u{i}", "tags": ["a"] * (i % 3)}} for i in range(40)]
    names = []
    for part in range(2):
        name = f"part{part}.json.gz"
        with gzip.open(tmp_path / name, "wt") as f:
            f.write("".join(json.dumps(d) for d in docs[part::2]))
        names.append(name)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-m", "hive_json_spark.cli", "find-json-schema", "--spark", *names],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "40 records read" in out.stderr
    local = infer_files_local([str(tmp_path / n) for n in names])
    assert out.stdout == to_hive_ddl(local.htype)
