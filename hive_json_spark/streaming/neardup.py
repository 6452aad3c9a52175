"""Streaming near-duplicate gate: screen an incoming document stream
against a STATIC MinHash-LSH band index of the historical corpus.

The reference (`/root/reference` hortonworks/hive-json) has no streaming or
dedup surface at all — its scan loop is `JsonSchemaFinder.java:227-247`;
this extends the engine per the LLM-pipeline mandate: a training-data
ingest tail needs to reject near-dups of already-ingested content
WITHOUT re-scanning the corpus per batch.

Shape (the 100 TB argument):
- The corpus index is built ONCE in batch (`banded_minhash`: bands rows
  per historical doc — ids + two ints, a tiny fraction of corpus bytes)
  and simply sits as a static DataFrame; Structured Streaming joins every
  micro-batch against it as a stream-static equi-join on
  (band, band_hash) — candidates only, never all-pairs, never a rescan.
- Verification is exact token-set Jaccard on the candidate pairs only
  (stream text rides the banded rows; corpus text joins in by id on the
  candidate frame, which is collision-sized, not corpus-sized).
- State: NONE beyond the static index — the gate itself is stateless, so
  there is no watermark/eviction concern; dedup WITHIN the stream is the
  separate `streaming_dedup` (dropDuplicatesWithinWatermark) operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hive_json_spark.functions.text import tokens
from hive_json_spark.operators.dedup import banded_minhash


def streaming_near_dup_flags(
    doc_stream: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Flag stream documents that are near-dups of the static corpus.

    Returns (stream_id, corpus_id, jaccard) — one row per flagged pair
    with exact distinct-token Jaccard ≥ threshold. Both sides band with
    ``banded_minhash``'s defaults (64 perms, 8 bands, one seed → one hash
    family), so their band hashes are comparable.

    State honesty: a pair colliding in several bands would otherwise
    emit once per band, so candidates are deduplicated on
    (stream_id, corpus_id). Without ``ts_col`` that dedup keeps every
    candidate-pair key seen — fine for bounded replays/backfills, a leak
    on an unbounded stream. Production ingest streams carry event time:
    pass ``ts_col`` and the dedup becomes
    ``dropDuplicatesWithinWatermark`` — state evicts past the watermark,
    which is correct here because band collisions of ONE document all
    arrive in that document's own micro-batch (cross-batch repeats are
    re-deliveries, exactly what the watermark window is for).
    """
    idx = banded_minhash(corpus, id_col, text_col).select(
        F.col(id_col).alias("corpus_id"), "band", "band_hash"
    )
    corpus_text = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(text_col).alias("_ctxt")
    )

    stream_cols = [id_col, text_col] + ([ts_col] if ts_col else [])
    sb = banded_minhash(
        doc_stream.select(*stream_cols), id_col, text_col,
        keep_text=True, keep_cols=([ts_col] if ts_col else []),
    ).select(
        F.col(id_col).alias("stream_id"),
        "band",
        "band_hash",
        F.col(text_col).alias("_stxt"),
        *([ts_col] if ts_col else []),
    )
    if ts_col:
        # watermark AFTER the Arrow banding kernel: mapInPandas mints new
        # output attributes, so event-time metadata set before it would
        # not survive to the stateful dedup
        sb = sb.withWatermark(ts_col, watermark)

    cand = sb.join(idx, ["band", "band_hash"]).filter(
        F.col("stream_id") != F.col("corpus_id")
    )
    if ts_col:
        cand = cand.dropDuplicatesWithinWatermark(["stream_id", "corpus_id"])
    else:
        cand = cand.dropDuplicates(["stream_id", "corpus_id"])
    cand = cand.join(corpus_text, "corpus_id")
    # tokens() (empty strings filtered) — THE token definition (ASCII
    # whitespace, functions/text.py): since r6 every batch Arrow kernel
    # tokenizes with py_tokens (re.ASCII \s), the exact mirror of this
    # JVM split, so the gate's jaccard matches the batch twin on ANY
    # input, Unicode whitespace included (pinned in test_streaming /
    # test_pipeline_ops non-ASCII tests). The r4 NBSP divergence note is
    # retired.
    ta = F.array_distinct(tokens(F.col("_stxt")))
    tb = F.array_distinct(tokens(F.col("_ctxt")))
    inter = F.size(F.array_intersect(ta, tb)).cast("double")
    union = F.size(F.array_union(ta, tb)).cast("double")
    jac = F.round(inter / F.greatest(union, F.lit(1.0)), 4)
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("stream_id", "corpus_id", "jaccard")
    )
