"""dxnn_ocr_cpp_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the staged dataflow semantics of the reference
OCR engine (DEEPX-AI/DXNN-OCR-cpp, /root/reference), re-targeted at
web-text extraction over Common-Crawl-style page tables:

    stage 1  segment   html bytes -> candidate text blocks
             (analog of DBNet detection, /root/reference/src/detection/)
    stage 2  score     boilerplate heuristics per block
             (analog of the textline classifier, /root/reference/src/classification/)
    stage 3  emit      normalized ordered spans -> final text per url
             (analog of CRNN/CTC recognition + finalize,
              /root/reference/src/recognition/,
              /root/reference/src/pipeline/ocr_pipeline.cpp:687-734)

Everything is pyspark.sql DataFrame transforms; the only Python on the
hot path is ONE Arrow-batched pandas UDF (the DOM parse, stage 1 — the
analog of the reference's NPU model call). Stages 2-3 are pure Catalyst
column expressions over an array column, so a full extraction run does
zero shuffles.
"""

import sys

from dxnn_ocr_cpp_spark.config import ExtractionConfig


def _in_python_worker() -> bool:
    # `setup_spark_files` sets the flag before the task's UDF, and with it
    # this package, is unpickled; the driver never sets it
    files = sys.modules.get("pyspark.core.files")
    return bool(files and getattr(files.SparkFiles, "_is_running_on_worker", False))


# stop every later task of this worker re-reading pyspark.zip's directory
if _in_python_worker():
    from dxnn_ocr_cpp_spark import worker

    worker.install()

__all__ = ["ExtractionConfig"]
__version__ = "0.1.0"
