"""Shredding: flatten every JSON document into per-leaf-path value streams.

Reference semantics (JsonShredder.java:64-81):
- primitive → one line with its lexical string form per value
- null → skipped
- array → every element funnels into ``<path>.list``
- object → recurse as ``<path>.<field>``

``shred_records`` is the one walk every surface runs (``shred_text``,
``shred_files_local``, ``shred_column`` and the ``shred_json`` UDTF): an
explicit stack, so the walk's depth is bounded by memory, not the recursion
limit. ``shred_files_local`` reproduces the CLI tool byte-for-byte (one
``.txt`` file per path in an output dir, values in encounter order —
JsonShredder.java:52-62). The distributed path re-expresses shredding as a
columnar shred: ``shred_column`` is a ``mapInArrow`` kernel that groups
each input batch's values by leaf path and emits one ``(path, values)`` row
per leaf and batch, a column chunk in Dremel's sense, so Spark moves one row
per chunk instead of one per value. ``shred_to_dir`` replaces the
reference's lazy file-handle pool with an AQE rebalance by path followed by
``write.partitionBy("path")`` of each chunk's values joined by ``\\n``: one
file per leaf path, as the reference writes, except that a leaf too large
for one task is split across several at map-output boundaries, so at 100 TB
a hot leaf is not one task.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence, Tuple

from hive_json_spark.infer import _expand, _open_text
from hive_json_spark.types import iter_json_documents

__all__ = ["shred_records", "shred_text", "shred_files_local", "shred_column", "shred_to_dir"]


def shred_records(doc, root: str = "root") -> Iterator[Tuple[str, str]]:
    """Yield (path, lexical value) for every primitive leaf of one parsed
    document (``dict``/``list`` containers); every value is a plain ``str``."""
    stack = [(root, doc)]
    pop, push = stack.pop, stack.append
    while stack:
        name, node = pop()
        kind = type(node)
        if kind is dict:
            # reverse keeps encounter order under the LIFO stack
            prefix = name + "."
            for key, child in reversed(node.items()):
                push((prefix + key, child))
        elif kind is list:
            name += ".list"
            for child in reversed(node):
                push((name, child))
        elif kind is str:
            yield name, node
        elif node is None:
            continue  # nulls skipped (JsonShredder.java:68-69)
        elif kind is bool:
            yield name, "true" if node else "false"
        else:
            # a JsonNumber's lexical form as a plain str: pickled values (the
            # UDTF's rows) must be builtin types for the JVM to unpickle them
            yield name, str(node)


def shred_text(text: str, root: str = "root") -> Iterator[Tuple[str, str]]:
    """Yield (path, lexical value) for every leaf of every document in one
    text (concatenated or NDJSON); raises ``ValueError`` at the first
    undecodable document, after the rows of the documents before it."""
    for doc in iter_json_documents(text):
        yield from shred_records(doc, root)


def shred_files_local(paths: Sequence[str] | str, out_dir: str = ".") -> int:
    """CLI-parity shredder: one ``<path>.txt`` per leaf path under out_dir.

    A ``/`` in a leaf path (a JSON key holding one) is written as ``%2F`` in
    the file name, the one byte a file name cannot hold; every other leaf
    keeps the reference's file name byte for byte. A key holding a literal
    ``%2F`` therefore shares its file with the same key spelled with
    ``/``."""
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
                            name = leaf.replace("/", "%2F") + ".txt"
                            h = open(os.path.join(out_dir, name), "a", encoding="utf-8")
                            handles[leaf] = h
                        h.write(value + "\n")
    finally:
        for h in handles.values():
            h.close()
    return count


def shred_column(df, column: str, root: str = "root"):
    """JSON-string column → DataFrame[path string, values array<string>].

    A columnar shred: a ``mapInArrow`` kernel runs the one walk over each
    input batch's documents and groups the leaf values by path, so every
    batch yields one row per leaf it holds, that leaf's values in encounter
    order (a column chunk). A row is therefore bounded by one Arrow batch
    (``spark.sql.execution.arrow.maxRecordsPerBatch`` documents), and a
    leaf appears in several rows when several batches hold it. Per-value
    consumers explode the chunks:
    ``shred_column(df, c).select("path", F.explode("values").alias("value"))``.
    Fully parallel, no driver involvement; an undecodable document fails
    its task. The kernel runs over the partitions ``df`` arrives with. A
    caller whose frame may be narrower than half the cores, in planned
    partitions (a small file or a single ``.gz``) or in parquet row groups
    (a single-row-group file behind many planned splits), passes it
    through ``ensure_parallelism`` first.
    """
    import pyarrow as pa

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            chunks: dict[str, list[str]] = {}
            for text in batch.column(0).to_pylist():
                if text is None:
                    continue
                for leaf, value in shred_text(text, root):
                    chunk = chunks.get(leaf)
                    if chunk is None:
                        chunk = chunks[leaf] = []
                    chunk.append(value)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(chunks), pa.string()),
                    pa.array(list(chunks.values()), pa.list_(pa.string())),
                ],
                names=["path", "values"],
            )

    return df.select(column).mapInArrow(gen, schema="path string, values array<string>")


def shred_to_dir(shredded_df, out_dir: str) -> None:
    """Write ``shred_column``'s (path, values) chunks as one directory per
    leaf path.

    The distributed replacement for the reference's per-path file-handle
    pool: an AQE rebalance by ``path`` (``RebalancePartitions``) gives each
    leaf path one write task, so ``out_dir/path=<leaf>/`` holds one
    ``part-*.txt`` file, as the reference writes one file per leaf, instead
    of one per read task. A leaf larger than the advisory partition size is
    split at map-output boundaries (``OptimizeSkewInRebalancePartitions``)
    and gets one file per split, so a hot leaf read by several tasks is not
    written by one. A chunk is written as its values joined by ``\\n``;
    the text writer ends each row with ``\\n``, so the file holds every
    value followed by ``\\n``, byte for byte what one row per value would
    write. Leaf names are escaped as Hive partition values (``%XX``).
    """
    from pyspark.sql import functions as F

    (
        shredded_df.select("path", F.array_join("values", "\n").alias("value"))
        .hint("rebalance", "path")
        .write.mode("overwrite")
        .partitionBy("path")
        .text(out_dir)
    )
