"""The composed extraction pipeline (OCRPipeline analog,
/root/reference/src/pipeline/ocr_pipeline.cpp).

One lazy DataFrame chain — the reference's five async queue hops
(detect -> classify -> recognize -> finalize -> output) become four
column transformations with exactly one Python boundary:

    documents (url, html)
      -> seg     = segment_udf(html)          # stage 1, pandas UDF
      -> scored  = transform(seg.blocks, +score)   # stage 2, Catalyst
      -> spans   = sort(filter(scored))       # stage 3, Catalyst
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


def extract_blocks(documents: DataFrame,
                   cfg: ExtractionConfig = DEFAULT_CONFIG) -> DataFrame:
    """Exploded stage-1/2 checkpoint view: one row per candidate block
    (the `blocks` table of FIXTURES.md §2) — used for checkpointing,
    lineage and SQL-shaped inspection, not the hot path."""
    df = with_blocks(documents.select("url", "html"), cfg)
    df = with_scored_blocks(df, cfg)
    b = F.explode_outer("scored").alias("b")
    return df.select("url", b).select("url", "b.*")


def extract_python(url: str, html: bytes | None,
                   cfg: ExtractionConfig = DEFAULT_CONFIG,
                   task: dict | None = None) -> dict:
    """Pure-Python reference implementation of the full per-row
    pipeline, used by unit tests to hand-compute expectations. Mirrors
    extract() semantics 1:1 (score/filter formulas kept in sync by the
    tests/test_parity.py cross-check). task mirrors the per-row
    task_cfg struct: non-None keys override cfg thresholds."""
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
            spans.append((b["pos"], b["depth"], b["block_id"], b["text"],
                          score, b["tag"]))
    spans.sort()
    from dxnn_ocr_cpp_spark.operators.emit import markdown_block_py
    return {
        "url": url,
        "text": cfg.span_separator.join(s[3] for s in spans),
        "markdown": "\n\n".join(markdown_block_py(s[5], s[3])
                                for s in spans),
        "n_spans": len(spans),
        "n_candidates": seg["n_candidates"],
        "charset": seg["charset"],
    }


def extract_checkpointed(spark, documents: DataFrame, root: str,
                         cfg: ExtractionConfig = DEFAULT_CONFIG,
                         run_id: str | None = None):
    """Stage-wise checkpointed extraction (north rule X15): stage 1+2
    snapshot the exploded scored-blocks table, stage 3 rebuilds spans
    from that checkpoint — a crash between stages resumes WITHOUT
    re-parsing any html (the expensive stage).

    Returns (extracted DataFrame materialized from the final
    checkpoint, CheckpointedRun handle for lineage inspection).
    """
    from pyspark.sql import Window

    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun
    from dxnn_ocr_cpp_spark.operators.emit import span_filter

    if TASK_CONFIG_COL in documents.columns:
        # the blocks checkpoint schema does not carry per-row configs,
        # so a resumed run could silently apply different thresholds
        # than the original — refuse instead
        raise ValueError(
            "extract_checkpointed does not support per-row task_cfg; "
            "use extract() for mixed-policy batches or split the batch "
            "by policy")

    run = CheckpointedRun(spark, root, run_id=run_id)

    # stage 1+2: parse + score, exploded for a columnar checkpoint.
    # Resume semantics: only docs absent from the checkpoint are parsed
    # and their blocks appended (the url universe survives even for
    # block-less docs, F8: extract_blocks emits a null-block row per
    # url, so resume sees them as done).
    blocks, blocks_extended = run.run_incremental_stage(
        "blocks", documents, lambda todo: extract_blocks(todo, cfg),
        key="url", bytes_out_col="text",
        invalidates=("extracted",))  # persisted staleness: a crash
        # between the blocks append and the extracted rebuild must not
        # leave an old extracted checkpoint being served

    # stage 3: emission from the checkpoint — window re-sort replaces
    # the array sort (the blocks left their row at the checkpoint
    # boundary, so this path pays ONE shuffle by design; the
    # non-checkpointed extract() path pays zero)
    def build_extracted():
        b = blocks
        # the SAME keep predicate as the hot path (span_filter over a
        # struct of the flat checkpoint columns) — a hand-copied filter
        # here could drift and break hot-vs-checkpointed byte-identity
        keep = F.col("block_id").isNotNull() & span_filter(
            F.struct(F.col("score"), F.col("n_text_chars"),
                     F.col("n_link_chars"), F.col("text")), cfg)
        spans = (b.withColumn("_keep", keep)
                 .withColumn("_k", F.when(F.col("_keep"), F.struct(
                     F.col("pos"), F.col("depth"), F.col("block_id"),
                     F.col("text"), F.col("score")))))
        agg = (spans.groupBy("url")
               .agg(F.array_sort(F.collect_list("_k")).alias("ks")))
        txt = F.array_join(F.transform(F.col("ks"), lambda s: s["text"]),
                           cfg.span_separator)
        return agg.select(
            "url", txt.alias("text"),
            F.size("ks").cast("int").alias("n_spans"))

    # blocks_extended => any existing extracted checkpoint is stale
    # (it was derived from fewer blocks) and must be rebuilt
    extracted = run.run_stage("extracted", build_extracted,
                              bytes_out_col="text", force=blocks_extended)
    return extracted, run
