"""Stage 3 — span emission + final text (recognition/finalize analog).

The reference's finalize step filters by confidence, sorts boxes in
reading order, re-indexes, and emits the per-document result
(src/pipeline/ocr_pipeline.cpp:687-734). Our blocks arrive in reading
order: the stage-1 stream parser emits them in DOM order, a total
order, so the (y,x)+epsilon bubble refinement of compareOCRResults
(ocr_pipeline.cpp:180-200) has nothing to do. Emission is filter then
transform over the array as it arrives — an array keeps its order, so
there is no sort and no sort key.

All expressions, zero shuffle: the per-document fan-in barrier the
reference builds from atomics (RecognitionTaskContext.pendingCount,
ocr_pipeline.h:251-265) simply doesn't exist here — the blocks never
left their row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG, ExtractionConfig


def span_filter(b, cfg: ExtractionConfig, task=None):
    """Keep predicate (F2/F3/F5/F6 analogs).

    task: optional per-row override struct Column (schemas.TASK_CONFIG,
    the OCRTaskConfig analog — the reference threads per-request
    thresholds through every stage, ocr_pipeline.cpp:457-461). NULL
    fields fall back to the run-level cfg via coalesce — still pure
    Column logic, so the zero-shuffle/one-Python-hop plan shape is
    unchanged by per-row variation."""
    def thresh(field, default):
        lit = F.lit(default)
        return lit if task is None else F.coalesce(task[field], lit)

    ld = b["n_link_chars"] / F.greatest(b["n_text_chars"], F.lit(1))
    return (
        (b["score"] >= thresh("box_thresh", cfg.box_thresh))
        & (b["score"] >= thresh("rec_score_thresh", cfg.rec_score_thresh))
        & (b["n_text_chars"] >= thresh("min_text_chars", cfg.min_text_chars))
        & (ld <= thresh("max_link_density", cfg.max_link_density))
        & (b["text"] != F.lit(""))
    )


def with_spans(df, cfg: ExtractionConfig = DEFAULT_CONFIG,
               scored_col: str = "scored", out_col: str = "spans",
               task_col: str | None = None):
    task = F.col(task_col) if task_col else None
    kept = F.filter(F.col(scored_col), lambda b: span_filter(b, cfg, task))
    spans = F.transform(
        kept,
        lambda b, i: F.struct(
            i.cast("int").alias("span_index"),   # re-index, O2 analog
            b["text"].alias("text"),
            b["score"].alias("score"),
        ),
    )
    return df.withColumn(out_col, spans)


def with_final_text(df, cfg: ExtractionConfig = DEFAULT_CONFIG,
                    spans_col: str = "spans", out_col: str = "text"):
    """concat spans -> final text. Empty span set -> '' (row preserved,
    F8 analog: no-boxes documents still emit a result)."""
    txt = F.array_join(
        F.transform(F.col(spans_col), lambda s: s["text"]),
        cfg.span_separator,
    )
    return df.withColumn(out_col, txt)


# ---------- markdown emission mode ----------
#
# Structured-output analog of the reference's alternative result
# renderings (the server emits both prunedResult JSON and an annotated
# ocrImage per request, /root/reference/server/json_response.cpp:19-60):
# same kept/ordered spans, a second rendering. Real-world extraction
# engines ship this as "markdown output" (trafilatura/resiliparse);
# ours derives structure from the block's own context tag:
#
#   h1..h6      -> '#'*level + ' ' + text
#   li          -> '- ' + text       (list nesting flattened: the
#                                     segmenter's block is the <li>
#                                     context, nesting is not kept)
#   blockquote  -> '> ' + text       (block text is single-line by
#                                     construction: normalize_text
#                                     collapsed whitespace upstream)
#   pre         -> fenced ``` block  (internal newlines were collapsed
#                                     by the same normalizer — the
#                                     fence marks provenance, it does
#                                     not restore layout; documented
#                                     policy, not a bug)
#   anything else -> bare paragraph
#
# Blocks join with '\n\n' (markdown paragraph separator). Inline link
# markup ([text](href)) is intentionally out of scope: stage 1 keeps
# link CHARACTER COUNTS as a density feature, not hrefs — page-level
# link harvesting is linkgraph.py's job.

_MD_FENCE = "```"


def markdown_block(tag, text):
    """One kept block -> one markdown line (pure Column logic)."""
    level = F.when(tag.rlike("^h[1-6]$"),
                   F.substring(tag, 2, 1).cast("int"))
    prefix = (
        F.when(level.isNotNull(),
               F.concat(F.repeat(F.lit("#"), level), F.lit(" ")))
        .when(tag == F.lit("li"), F.lit("- "))
        .when(tag == F.lit("blockquote"), F.lit("> "))
        .otherwise(F.lit(""))
    )
    return (
        F.when(tag == F.lit("pre"),
               F.concat(F.lit(_MD_FENCE + "\n"), text,
                        F.lit("\n" + _MD_FENCE)))
        .otherwise(F.concat(prefix, text))
    )


def markdown_block_py(tag: str, text: str) -> str:
    """Pure-Python twin of markdown_block, kept in sync by
    tests/test_markdown.py parity checks (same discipline as
    pipeline.extract_python vs extract)."""
    if tag == "pre":
        return f"{_MD_FENCE}\n{text}\n{_MD_FENCE}"
    if len(tag) == 2 and tag[0] == "h" and tag[1] in "123456":
        return "#" * int(tag[1]) + " " + text
    if tag == "li":
        return "- " + text
    if tag == "blockquote":
        return "> " + text
    return text


def with_markdown(df, cfg: ExtractionConfig = DEFAULT_CONFIG,
                  scored_col: str = "scored", out_col: str = "markdown",
                  task_col: str | None = None):
    """scored blocks -> markdown document string. Same keep predicate
    and the same array order as with_spans — the two renderings can
    never disagree about WHICH text survived, only how it is decorated.
    Zero shuffle, zero Python; empty span set -> '' (F8)."""
    task = F.col(task_col) if task_col else None
    kept = F.filter(F.col(scored_col), lambda b: span_filter(b, cfg, task))
    lines = F.transform(kept, lambda b: markdown_block(b["tag"], b["text"]))
    return df.withColumn(out_col, F.array_join(lines, "\n\n"))
