"""Per-run extraction parameters.

Analog of the reference's per-request ``OCRTaskConfig``
(/root/reference/include/pipeline/ocr_pipeline.h:59-77): parameters are
decoupled from engine construction and flow into the plan as plain
Python values closed over by UDFs / used as Column literals — NOT Spark
conf, so two runs with different params need no engine restart
(reference strategy X11, ocr_pipeline.cpp:457-461).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractionConfig:
    # stage-1 segmentation (detection analog)
    max_candidates: int = 1500      # candidate cap, ref db_postprocess.cpp:53
    max_html_bytes: int = 20 << 20  # request-size guard, ref ocr_handler.cpp:38-124
    sniff_bytes: int = 2048         # charset sniff window (head-sample, ref P5)
    parser_engine: str = "fast"     # "fast" regex tokenizer | "ref" stdlib
                                    # html.parser — the server/mobile model
                                    # pair analog (ref README.md:170-179),
                                    # block-for-block identical (fuzz-tested)
    # stage-2 scoring (classifier analog)
    box_thresh: float = 0.5         # block score threshold, ref boxThresh=0.6
    max_link_density: float = 0.66  # hard gate analog of cls conf>0.9
    min_text_chars: int = 3         # min box side analog, ref db_postprocess.cpp:68-70
    length_norm_chars: int = 80     # chars at which the length term saturates
    # stage-3 emission (recognition analog)
    rec_score_thresh: float = 0.0   # final score filter, ref textRecScoreThresh
    span_separator: str = "\n"      # final concat separator
    # physical knobs
    salt_buckets: int = 8           # per-host salt fan-out for hot hosts (ref X5)

    # tag priors (stage-2 features). Weights, not binary gates: the
    # classifier analog multiplies prior * (1-link_density) * length_term.
    content_tags: tuple = (
        "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote",
        "pre", "td", "th", "dd", "dt", "figcaption", "caption",
        "article", "section", "main",
    )
    boiler_ancestors: tuple = ("nav", "header", "footer", "aside", "form")


DEFAULT_CONFIG = ExtractionConfig()

# name of the optional per-row override column on the input table
TASK_CONFIG_COL = "task_cfg"


def task_config_col(box_thresh: float | None = None,
                    rec_score_thresh: float | None = None,
                    min_text_chars: int | None = None,
                    max_link_density: float | None = None):
    """Column builder for one task_cfg struct (schemas.TASK_CONFIG).
    Unset fields stay NULL -> the run-level ExtractionConfig value
    applies; use inside F.when chains to assign policies per row, e.g.

        docs.withColumn(TASK_CONFIG_COL,
            F.when(host == 'forum.example', task_config_col(box_thresh=0.7))
             .otherwise(task_config_col()))
    """
    from pyspark.sql import functions as F

    def _lit(v, t):
        return (F.lit(None) if v is None else F.lit(v)).cast(t)

    return F.struct(
        _lit(box_thresh, "double").alias("box_thresh"),
        _lit(rec_score_thresh, "double").alias("rec_score_thresh"),
        _lit(min_text_chars, "int").alias("min_text_chars"),
        _lit(max_link_density, "double").alias("max_link_density"),
    )
