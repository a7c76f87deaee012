"""Stage 1 — segmentation operator (detection analog).

The ONE pandas UDF on the hot path: html BINARY -> struct(blocks array,
stats). This is the analog of the reference's batched NPU detection
call (/root/reference/src/detection/text_detector.cpp:241-271): an
opaque, Arrow-batched, vectorized-at-batch-granularity model invocation.
Everything before it (column pruning) and after it (scoring, emission)
stays in Catalyst expression land.

Batch-size discipline: html blobs are multi-MB, so callers must cap
spark.sql.execution.arrow.maxRecordsPerBatch (session.build_session
does) — the backpressure analog of the reference's bounded queues
(ocr_pipeline.cpp:353-355).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG, ExtractionConfig
from dxnn_ocr_cpp_spark.htmlseg import normalize_text, segment_html
from dxnn_ocr_cpp_spark.schemas import SEGMENT_RESULT


def segment_one(raw: bytes | None, cfg: ExtractionConfig,
                slim: bool = False) -> dict:
    """Per-document segmentation -> plain dict matching SEGMENT_RESULT.
    Exposed separately so unit tests and goldens exercise the exact
    production code path without a JVM."""
    # `slim` is ignored: perfbench/layers.py still passes it
    res = segment_html(raw, cfg.max_candidates, cfg.max_html_bytes,
                       cfg.sniff_bytes, engine=cfg.parser_engine,
                       boiler_tags=cfg.boiler_ancestors)
    blocks = []
    for b in res.blocks:
        t = normalize_text(b.text_raw)
        if not t:
            continue  # D1 analog: candidacy requires text after normalization
        # counts describe the NORMALIZED text the block emits — raw
        # counts included zero-width/bidi chars that normalization
        # strips, letting soup-padded blocks past min_text_chars and
        # skewing density features against the actual output
        # normalize_text collapses every whitespace run to one ASCII
        # space, so non-ws chars = len - spaces (== sum of split lens,
        # without the list allocation)
        n_text = len(t) - t.count(" ")
        blocks.append({
            "block_id": b.block_id,
            "tag": b.tag,
            "boiler": b.boiler,
            "depth": b.depth,
            "pos": b.pos,
            "text": t,
            "n_text_chars": n_text,
            "n_link_chars": min(b.n_link_chars, n_text),
        })
    return {
        "blocks": blocks,
        "n_candidates": res.n_candidates,
        "truncated": res.truncated,
        "charset": res.charset,
        "oversized": res.oversized,
    }


def make_segment_udf(cfg: ExtractionConfig = DEFAULT_CONFIG):
    """Build the stage-1 pandas UDF closed over per-run config (the
    OCRTaskConfig flow, ref ocr_pipeline.cpp:457-461 — params travel
    with the task, not with engine construction)."""

    @F.pandas_udf(SEGMENT_RESULT)
    def segment_udf(html: pd.Series) -> pd.DataFrame:
        out = [segment_one(raw, cfg) for raw in html]
        return pd.DataFrame(out)

    return segment_udf


def with_blocks(df, cfg: ExtractionConfig = DEFAULT_CONFIG,
                html_col: str = "html", out_col: str = "seg",
                slim: bool = False):
    """df + seg struct column. Keeps the pre-UDF projection minimal so
    parquet/Iceberg scans prune to (url, html) — the pushdown the
    reference never had (X12)."""
    # `slim` is ignored: perfbench/layers.py still passes it
    return df.withColumn(out_col, make_segment_udf(cfg)(F.col(html_col)))
