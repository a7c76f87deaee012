"""Cluster entry point for spark-submit (see tools/submit_example.sh).

Reads the documents table (Iceberg `lake.db.documents` or a parquet
path), runs validation + checkpointed extraction, writes the extracted
table and lineage. Resumable: re-submitting after a failure skips every
checkpointed stage/url.

usage: run_extraction_job.py <documents_src> <checkpoint_root> [output]

src/output addressing is EXPLICIT (a '.'-vs-'/' heuristic misroutes
undotted table names and dotted relative paths): prefix catalog tables
with `table:`, everything else is a parquet path.
    table:lake.db.documents   -> spark.read.table / writeTo
    s3a://bucket/docs         -> spark.read.parquet / write.parquet
"""

import sys

from pyspark.sql import SparkSession

_TABLE_PREFIX = "table:"


def main(argv):
    if len(argv) < 2:
        sys.exit("usage: run_extraction_job.py <documents_src> "
                 "<checkpoint_root> [output]  (prefix catalog tables "
                 f"with '{_TABLE_PREFIX}')")
    src, ckpt_root = argv[0], argv[1]
    out = argv[2] if len(argv) > 2 else None

    spark = SparkSession.builder.appName("dxnn-extract").getOrCreate()
    # Arrow batch caps etc. on the externally-built session — without
    # them the 10k-row default Arrow batch of multi-MB html blobs OOMs
    # the executors (the whole reason tune_runtime exists)
    from dxnn_ocr_cpp_spark.session import tune_runtime
    tune_runtime(spark)

    from dxnn_ocr_cpp_spark.operators.validate import validate_documents
    from dxnn_ocr_cpp_spark.pipeline import extract_checkpointed

    docs = (spark.read.table(src[len(_TABLE_PREFIX):])
            if src.startswith(_TABLE_PREFIX) else spark.read.parquet(src))
    valid, rejects = validate_documents(docs)
    extracted, run = extract_checkpointed(spark, valid, ckpt_root)
    rejects.write.mode("overwrite").parquet(f"{ckpt_root}/rejects")
    if out:
        if out.startswith(_TABLE_PREFIX):
            extracted.writeTo(out[len(_TABLE_PREFIX):]).createOrReplace()
        else:
            extracted.write.mode("overwrite").parquet(out)
    # each write's lineage covers only the rows it added, and a full
    # rewrite of a stage replaces its earlier lineage, so this is each
    # stage's url count (`blocks` holds one row per url, like `extracted`)
    stats = run.lineage().groupBy("stage").sum("row_count").collect()
    print({r[0]: r[1] for r in stats})
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
