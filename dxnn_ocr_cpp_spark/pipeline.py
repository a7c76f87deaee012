"""The composed extraction pipeline (OCRPipeline analog,
/root/reference/src/pipeline/ocr_pipeline.cpp).

One lazy DataFrame chain — the reference's five async queue hops
(detect -> classify -> recognize -> finalize -> output) become four
column transformations with exactly one Python boundary:

    documents (url, html)
      -> seg     = segment_udf(html)          # stage 1, pandas UDF
      -> scored  = transform(seg.blocks, +score)   # stage 2, Catalyst
      -> spans   = filter(scored)             # stage 3, Catalyst
      -> text    = array_join(spans.text)     # finalize

Zero shuffles end-to-end: the per-doc barrier the reference hand-rolls
with atomics is unnecessary because blocks never leave their row. The
optional repartition before the UDF only balances work (no key
semantics), and AQE may elide it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dxnn_ocr_cpp_spark.config import (DEFAULT_CONFIG, TASK_CONFIG_COL,
                                       ExtractionConfig)
from dxnn_ocr_cpp_spark.operators.emit import (with_final_text,
                                               with_markdown, with_spans)
from dxnn_ocr_cpp_spark.operators.score import with_scored_blocks
from dxnn_ocr_cpp_spark.operators.segment import with_blocks
from dxnn_ocr_cpp_spark.partitioning import salted_repartition


def extract(documents: DataFrame,
            cfg: ExtractionConfig = DEFAULT_CONFIG,
            repartition_to: int | None = None,
            size_route: bool = False,
            keep_intermediate: bool = False,
            markdown: bool = False) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) -> extracted
    (url, text, n_spans, n_candidates, charset [, markdown]
     [, seg, scored, spans]).

    markdown=True additionally emits a `markdown` column — the same
    kept/ordered spans rendered with structure derived from each
    block's context tag (emit.with_markdown; headings/lists/quotes/
    fences). Same plan shape: zero shuffle, one Python hop.

    Output is a pure per-row function of (url, html, cfg): byte-identical
    under any partitioning/parallelism (the north-rule invariant).

    size_route=True routes docs to partitions by html byte length
    (range partitioning, xxhash64(url) tie-break) — the analog of the
    reference's size-based model dispatch + ratio-bucket batching
    (/root/reference/src/detection/text_detector.cpp:150-173,
     /root/reference/src/recognition/text_recognizer.cpp:135-183):
    each Arrow batch then holds similar-size docs, bounding per-batch
    memory variance and keeping giant pages from straggling one task.
    Costs one shuffle of the raw bytes, so it is OFF by default (the
    zero-shuffle path wins locally); turn it on at cluster scale when
    the size distribution is heavy-tailed.

    Per-row parameter variation (OCRTaskConfig analog,
    /root/reference/include/pipeline/ocr_pipeline.h:59-77): if the
    input carries a `task_cfg` struct column (schemas.TASK_CONFIG,
    build with config.task_config_col), its non-null fields override
    the run-level cfg thresholds for THAT row — one batch can mix
    extraction policies (per-domain thresholds etc.) without N jobs.
    Pure coalesce Column logic: the plan stays zero-shuffle with one
    Python hop regardless.
    """
    has_task = TASK_CONFIG_COL in documents.columns
    # column pruning before the UDF (X12)
    df = documents.select("url", "html",
                          *([TASK_CONFIG_COL] if has_task else []))
    if size_route:
        # default the partition count rather than silently ignoring the
        # routing request when repartition_to is omitted
        n = repartition_to or int(
            documents.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = df.repartitionByRange(n, F.length("html"), F.xxhash64("url"))
    elif repartition_to:
        df = salted_repartition(df, repartition_to, salt_buckets=cfg.salt_buckets)
    df = with_blocks(df, cfg)                  # stage 1
    df = with_scored_blocks(df, cfg)           # stage 2
    df = with_spans(df, cfg,                   # stage 3
                    task_col=TASK_CONFIG_COL if has_task else None)
    df = with_final_text(df, cfg)              # finalize
    if markdown:
        df = with_markdown(df, cfg,
                           task_col=TASK_CONFIG_COL if has_task else None)
    cols = [
        F.col("url"),
        F.col("text"),
        F.size("spans").cast("int").alias("n_spans"),
        F.col("seg.n_candidates").alias("n_candidates"),
        F.col("seg.charset").alias("charset"),
    ]
    if markdown:
        cols.append(F.col("markdown"))
    if keep_intermediate:
        cols += [F.col("seg"), F.col("scored"), F.col("spans")]
    return df.select(*cols)


def scored_blocks(documents: DataFrame,
                  cfg: ExtractionConfig = DEFAULT_CONFIG) -> DataFrame:
    """documents -> (url, scored): stages 1+2 as extract() runs them, one
    row per url — the nested `blocks` checkpoint (FIXTURES.md §2). A url
    without blocks still has its row, with an empty array."""
    df = with_blocks(documents.select("url", "html"), cfg)
    return with_scored_blocks(df, cfg).select("url", "scored")


def extract_blocks(documents: DataFrame,
                   cfg: ExtractionConfig = DEFAULT_CONFIG) -> DataFrame:
    """Exploded view of scored_blocks: one row per candidate block, for
    SQL-shaped inspection, not the hot path."""
    b = F.explode("scored").alias("b")
    return scored_blocks(documents, cfg).select("url", b).select("url", "b.*")


def extract_python(url: str, html: bytes | None,
                   cfg: ExtractionConfig = DEFAULT_CONFIG,
                   task: dict | None = None) -> dict:
    """Pure-Python reference implementation of the full per-row
    pipeline, used by unit tests to hand-compute expectations. Mirrors
    extract() semantics 1:1 (score/filter formulas kept in sync by
    tests/test_pipeline_spark.py::TestParity::test_spark_matches_python_reference).
    task mirrors the per-row task_cfg struct: non-None keys override cfg
    thresholds."""
    from dxnn_ocr_cpp_spark.operators.segment import segment_one

    t = task or {}

    def thresh(field):
        v = t.get(field)
        return getattr(cfg, field) if v is None else v

    seg = segment_one(html, cfg)
    spans = []
    for b in seg["blocks"]:
        prior = 0.0 if b["boiler"] else (1.0 if b["tag"] in cfg.content_tags else 0.7)
        ld = min(b["n_link_chars"] / max(b["n_text_chars"], 1), 1.0)
        length_term = 0.5 + 0.5 * min(b["n_text_chars"] / float(cfg.length_norm_chars), 1.0)
        score = prior * (1.0 - ld) * length_term
        if (score >= thresh("box_thresh")
                and score >= thresh("rec_score_thresh")
                and b["n_text_chars"] >= thresh("min_text_chars")
                and ld <= thresh("max_link_density") and b["text"]):
            spans.append(b)
    from dxnn_ocr_cpp_spark.operators.emit import markdown_block_py
    return {
        "url": url,
        "text": cfg.span_separator.join(b["text"] for b in spans),
        "markdown": "\n\n".join(markdown_block_py(b["tag"], b["text"])
                                for b in spans),
        "n_spans": len(spans),
        "n_candidates": seg["n_candidates"],
        "charset": seg["charset"],
    }


def extract_checkpointed(spark, documents: DataFrame, root: str,
                         cfg: ExtractionConfig = DEFAULT_CONFIG,
                         run_id: str | None = None):
    """Stage-wise checkpointed extraction (north rule X15): stage 1+2
    snapshot scored_blocks, one nested row per url, and stage 3 runs
    extract()'s own emission over that checkpoint — a crash between
    stages resumes WITHOUT re-parsing any html (the expensive stage). A
    resume parses only the new docs and extends a valid `extracted` by
    their urls alone.

    A root whose `blocks` checkpoint is in the older exploded layout (a
    top-level `block_id` column) is rebuilt once, with `extracted`, from
    `documents`: urls found only in that old checkpoint are not kept.

    Returns (extracted DataFrame materialized from the final
    checkpoint, CheckpointedRun handle for lineage inspection).
    """
    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun

    if TASK_CONFIG_COL in documents.columns:
        # the checkpoint does not carry per-row configs: a resumed run
        # could silently apply other thresholds than the original
        raise ValueError(
            "extract_checkpointed does not support per-row task_cfg; "
            "use extract() for mixed-policy batches or split the batch "
            "by policy")

    run = CheckpointedRun(spark, root, run_id=run_id)
    if "block_id" in run.stage_columns("blocks"):
        for stage in ("blocks", "extracted"):
            run.invalidate_stage(stage)
    # read before the blocks stage invalidates it: a valid `extracted`
    # over blocks that are appended to, never rewritten, can be extended
    extendable = run.has_stage("blocks") and run.has_stage("extracted")

    # stage 1+2: only docs absent from the checkpoint are parsed; an append
    # first invalidates `extracted`, so a crash before stage 3 rebuilds it
    block_bytes = F.aggregate("scored", F.lit(0).cast("long"),
                              lambda acc, b: acc + F.length(b["text"]))
    blocks, new_blocks = run.run_incremental_stage(
        "blocks", documents, lambda todo: scored_blocks(todo, cfg),
        key="url", bytes_out_col=block_bytes, invalidates=("extracted",))

    # stage 3 is extract()'s emission over the stored arrays: no shuffle,
    # no sort. It is per url and appended blocks are new urls: extend by
    # the new blocks alone; else run_stage rebuilds it if marked stale
    extend = extendable and new_blocks is not None

    def emit():
        df = with_final_text(with_spans(new_blocks if extend else blocks, cfg), cfg)
        return df.select("url", "text", F.size("spans").cast("int").alias("n_spans"))

    extracted = run.run_stage("extracted", emit, bytes_out_col="text", append=extend)
    return extracted, run
