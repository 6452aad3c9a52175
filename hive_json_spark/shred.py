"""Shredding: flatten every JSON document into per-leaf-path value streams.

Reference semantics (JsonShredder.java:64-81):
- primitive → one line with its lexical string form per value
- null → skipped
- array → every element funnels into ``<path>.list``
- object → recurse as ``<path>.<field>``

``shred_files_local`` reproduces the CLI tool byte-for-byte (one ``.txt``
file per path in an output dir, values in encounter order —
JsonShredder.java:52-62). The distributed path re-expresses shredding as a
*generator flatMap* producing ``(path, value)`` rows — a UDTF-shaped op —
and replaces the reference's lazy file-handle pool with
``write.partitionBy("path")``: at 100 TB one output directory per leaf path,
written in parallel, no driver-side handles.
"""

from __future__ import annotations

import os
from typing import Iterator, List, Optional, Sequence, Tuple

from hive_json_spark.infer import _expand, _open_text
from hive_json_spark.types import iter_json_documents

__all__ = ["shred_records", "shred_text", "shred_files_local", "shred_column", "shred_to_dir"]


def shred_records(doc, root: str = "root") -> Iterator[Tuple[str, str]]:
    """Yield (path, lexical value) for every primitive leaf of one document."""
    stack = [(root, doc)]
    while stack:
        name, node = stack.pop()
        if node is None:
            continue  # nulls skipped (JsonShredder.java:68-69)
        if isinstance(node, bool):
            yield name, "true" if node else "false"
        elif isinstance(node, dict):
            # reverse keeps encounter order under the LIFO stack
            for key in reversed(list(node)):
                stack.append((f"{name}.{key}", node[key]))
        elif isinstance(node, list):
            for child in reversed(node):
                stack.append((f"{name}.list", child))
        else:
            yield name, str(node)  # JsonNumber is a str with the lexical form


def shred_text(text: str, root: str = "root") -> Iterator[Tuple[str, str]]:
    """Yield (path, lexical value) for every leaf of every document in one
    text (concatenated or NDJSON); raises ``ValueError`` at the first
    undecodable document, after the rows of the documents before it."""
    for doc in iter_json_documents(text):
        yield from shred_records(doc, root)


def shred_files_local(paths: Sequence[str] | str, out_dir: str = ".") -> int:
    """CLI-parity shredder: one ``<path>.txt`` per leaf path under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    handles = {}
    count = 0
    try:
        for path in _expand(paths):
            with _open_text(path) as f:
                for doc in iter_json_documents(f.read()):
                    count += 1
                    for leaf, value in shred_records(doc):
                        h = handles.get(leaf)
                        if h is None:
                            h = open(os.path.join(out_dir, leaf + ".txt"), "a", encoding="utf-8")
                            handles[leaf] = h
                        h.write(value + "\n")
    finally:
        for h in handles.values():
            h.close()
    return count


def shred_column(df, column: str, root: str = "root"):
    """JSON-string column → DataFrame[path string, value string].

    Runs as an Arrow-batched generator over partitions; fully parallel, no
    driver involvement. Feed the result to ``shred_to_dir`` or query it
    directly (`groupBy("path").count()` etc.).
    """
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            paths: List[str] = []
            values: List[str] = []
            for text in pdf[column]:
                if text is None:
                    continue
                for leaf, value in shred_text(text, root):
                    paths.append(leaf)
                    values.append(value)
            yield pd.DataFrame({"path": paths, "value": values})

    from hive_json_spark.operators.util import ensure_parallelism

    return ensure_parallelism(df.select(column)).mapInPandas(
        gen, schema="path string, value string"
    )


def shred_to_dir(shredded_df, out_dir: str) -> None:
    """Write (path, value) rows as one directory per leaf path.

    ``partitionBy("path")`` is the distributed replacement for the
    reference's per-path file-handle pool — each leaf path becomes
    ``out_dir/path=<leaf>/part-*.txt`` written by all executors in parallel.
    """
    shredded_df.write.mode("overwrite").partitionBy("path").text(out_dir)
