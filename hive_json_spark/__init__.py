"""hive_json_spark — a PySpark-native analytics engine with the capabilities
of hortonworks/hive-json, extended into a full query + LLM-data-pipeline
engine designed for 100 TB scale.

Layers
------
- ``types``       pure-Python Hive type lattice (inference + merge + render)
- ``infer``       distributed schema inference (one Arrow mapInPandas lattice fold)
- ``shred``       distributed JSON shredding (explode to (path, value) rows)
- ``functions``   column-function pack (classifiers, text, vectors)
- ``operators``   relational + dedup + similarity + text-analysis operators
- ``streaming``   Structured Streaming schema-inference fold
- ``sources``     readers (json/ndjson/gz corpora, from_json column loading)
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
