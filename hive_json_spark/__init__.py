"""hive_json_spark — a PySpark-native analytics engine with the capabilities
of hortonworks/hive-json, extended into a full query + LLM-data-pipeline
engine designed for 100 TB scale.

Layers
------
- ``types``       pure-Python Hive type lattice (inference + merge + render)
- ``infer``       distributed schema inference (one Arrow mapInPandas lattice fold)
- ``shred``       distributed JSON shredding (per-leaf (path, values) column chunks)
- ``functions``   column-function pack (classifiers, text, vectors)
- ``operators``   relational + dedup + similarity + text-analysis operators
- ``streaming``   Structured Streaming: the schema-inference fold and the
                  top-k/psi/cms counts folds over versioned state
                  (``streaming/state.py``), partition-overwrite rollup and
                  CDC merge sinks, windows, joins, dedup, custom state
- ``sources``     parquet table catalog and footer reader (schema, rows, row
                  groups); JSON corpora are read in ``infer`` and ``shred``
"""

from hive_json_spark.types import (  # noqa: F401
    HType,
    Kind,
    infer_type,
    merge_types,
    loads_first,
    iter_json_documents,
    to_hive_ddl,
    to_flat,
    to_spark_type,
)

__version__ = "0.1.0"
