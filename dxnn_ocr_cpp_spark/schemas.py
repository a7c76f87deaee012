"""All static schemas. No schema inference anywhere (the reference is
fixed C++ structs, /root/reference/include/common/types.hpp — we mirror
that discipline with explicit StructTypes)."""

from __future__ import annotations

from pyspark.sql import types as T

# input table (BASELINE.json input_hint)
DOCUMENTS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# optional per-row parameter overrides (OCRTaskConfig analog,
# /root/reference/include/pipeline/ocr_pipeline.h:59-77 — the reference
# carries per-REQUEST thresholds through the pipeline decoupled from
# engine init, ocr_pipeline.cpp:457-461). A `task_cfg` column of this
# type on the input lets ONE batch mix extraction policies (e.g.
# per-domain thresholds); every field is nullable — null means "use the
# run-level ExtractionConfig default".
TASK_CONFIG = T.StructType([
    T.StructField("box_thresh", T.DoubleType(), True),
    T.StructField("rec_score_thresh", T.DoubleType(), True),
    T.StructField("min_text_chars", T.IntegerType(), True),
    T.StructField("max_link_density", T.DoubleType(), True),
])

# per-candidate block (TextBox analog, types.hpp:13-53). `text` is
# already normalized by htmlseg.normalize_text — normalization happens
# exactly once, inside the stage-1 UDF.
BLOCK = T.StructType([
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("tag", T.StringType(), False),
    T.StructField("boiler", T.BooleanType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("pos", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("n_text_chars", T.IntegerType(), False),
    T.StructField("n_link_chars", T.IntegerType(), False),
])

# stage-1 UDF return (OCRResult analog, types.hpp:58-80)
SEGMENT_RESULT = T.StructType([
    T.StructField("blocks", T.ArrayType(BLOCK), False),
    T.StructField("n_candidates", T.IntegerType(), False),
    T.StructField("truncated", T.BooleanType(), False),
    T.StructField("charset", T.StringType(), False),
    T.StructField("oversized", T.BooleanType(), False),
])

# emitted span (PipelineOCRResult analog, ocr_pipeline.h:82-93)
SPAN = T.StructType([
    T.StructField("span_index", T.IntegerType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("pos", T.IntegerType(), False),
])

# final output table
EXTRACTED = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("n_spans", T.IntegerType(), False),
    T.StructField("n_candidates", T.IntegerType(), False),
    T.StructField("charset", T.StringType(), False),
])

# per-partition lineage record (OCRPipelineStats analog, ocr_pipeline.h:98-128)
LINEAGE = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("row_count", T.LongType(), False),
    T.StructField("bytes_in", T.LongType(), True),
    T.StructField("bytes_out", T.LongType(), True),
    T.StructField("content_hash", T.LongType(), True),
    T.StructField("wall_ms", T.DoubleType(), True),
])
