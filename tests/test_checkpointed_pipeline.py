"""Mid-pipeline checkpoint/resume: crash between stages must resume
without re-parsing html, and the final output must byte-equal the
zero-shuffle extract() path."""

import shutil

import pytest
from pyspark.sql import functions as F

from dxnn_ocr_cpp_spark.corpus import generate_documents_df
from dxnn_ocr_cpp_spark.pipeline import (extract, extract_blocks,
                                         extract_checkpointed, scored_blocks)


@pytest.fixture()
def docs(spark):
    return generate_documents_df(spark, 80, partitions=4)


def test_checkpointed_equals_hot_path(spark, docs, tmp_path):
    ext, run = extract_checkpointed(spark, docs, str(tmp_path / "r1"))
    got = {r["url"]: (r["text"], r["n_spans"]) for r in ext.collect()}
    exp = {r["url"]: (r["text"], r["n_spans"]) for r in extract(docs).collect()}
    assert got == exp  # byte-identical incl. empty-body rows


def test_crash_between_stages_resumes_without_reparse(spark, docs, tmp_path):
    root = str(tmp_path / "r2")
    # run stage 1+2 only, then "crash" (never build stage 3)
    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun
    pre = CheckpointedRun(spark, root, run_id="pre-crash")
    pre.run_stage("blocks", lambda: scored_blocks(docs))

    # resumed run: blocks stage must come from the checkpoint — assert
    # by making reparse impossible (feed an EMPTY documents df)
    empty = docs.filter(F.lit(False))
    ext, run = extract_checkpointed(spark, empty, root, run_id="resumed")
    got = {r["url"]: r["text"] for r in ext.collect()}
    exp = {r["url"]: r["text"] for r in extract(docs).collect()}
    assert got == exp

    # lineage: blocks written once (pre-crash), extracted once (resumed)
    lin = run.lineage().select("run_id", "stage").distinct().collect()
    stages = {(r["run_id"], r["stage"]) for r in lin}
    assert ("pre-crash", "blocks") in stages
    assert ("resumed", "extracted") in stages
    assert ("resumed", "blocks") not in stages


def test_partial_blocks_resume(spark, docs, tmp_path):
    """Stage 1 completed over HALF the corpus (crash / earlier subset
    run); re-running extract_checkpointed over the full corpus must
    parse only the other half, append it, rebuild the derived stage,
    and byte-equal a clean run — through the public API."""
    root = str(tmp_path / "r3")
    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun

    half = docs.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    pre = CheckpointedRun(spark, root, run_id="half")
    pre.run_incremental_stage("blocks", half, scored_blocks, key="url")
    assert pre.read_stage("blocks").count() == half.count()

    ext, run = extract_checkpointed(spark, docs, root, run_id="resumed")
    got = {r["url"]: r["text"] for r in ext.collect()}
    exp = {r["url"]: r["text"] for r in extract(docs).collect()}
    assert got == exp

    # the blocks checkpoint holds each url exactly once (no re-parse
    # of the pre-checkpointed half, no duplicates from the append)
    blocks = run.read_stage("blocks")
    assert blocks.count() == blocks.select("url").distinct().count() \
        == docs.count()
    # both runs appear in blocks lineage (pre wrote half, resume extended)
    stages = {(r["run_id"], r["stage"])
              for r in run.lineage().select("run_id", "stage").distinct().collect()}
    assert ("half", "blocks") in stages and ("resumed", "blocks") in stages


def test_resume_noop_when_complete(spark, docs, tmp_path):
    """Re-running over an already-complete checkpoint does zero stage
    work and writes no new lineage."""
    root = str(tmp_path / "r4")
    extract_checkpointed(spark, docs, root, run_id="first")
    ext, run = extract_checkpointed(spark, docs, root, run_id="second")
    assert ext.count() == docs.count()
    stages = {(r["run_id"], r["stage"])
              for r in run.lineage().select("run_id", "stage").distinct().collect()}
    assert ("second", "blocks") not in stages
    assert ("second", "extracted") not in stages


def _texts(df):
    return {r["url"]: (r["text"], r["n_spans"]) for r in df.collect()}


def _extracted_rows_by_run(run):
    return {r["run_id"]: r["rows"] for r in
            run.lineage().filter(F.col("stage") == "extracted")
            .groupBy("run_id").agg(F.sum("row_count").alias("rows")).collect()}


def test_resume_parses_each_new_doc_once(spark, docs, tmp_path):
    """df_fn(todo) is evaluated once per resumed row: lineage reads the
    files the append wrote instead of re-running df_fn."""
    from pyspark.sql.types import StringType

    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun

    root = str(tmp_path / "r5")
    parsed = spark.sparkContext.accumulator(0)

    def parse(url):
        parsed.add(1)
        return url

    parse_udf = F.udf(parse, StringType())

    def df_fn(todo):
        return todo.select(parse_udf("url").alias("url"))

    half = docs.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    CheckpointedRun(spark, root, run_id="half").run_incremental_stage(
        "stage", half, df_fn)
    before = parsed.value
    run = CheckpointedRun(spark, root, run_id="rest")
    out, new = run.run_incremental_stage("stage", docs, df_fn)
    n_new = docs.count() - half.count()
    assert parsed.value - before == n_new
    assert new.count() == n_new and out.count() == docs.count()


def test_lineage_counts_each_url_once_across_resume(spark, docs, tmp_path):
    """A fresh run over ~90% of the urls and a resume over all of them:
    the resume extends `extracted` by the new urls only, so its lineage
    sums to the url count and its hashes compose to the table's hash."""
    root = str(tmp_path / "r6")
    part = docs.filter(F.pmod(F.xxhash64("url"), F.lit(10)) != 0)
    n, n_part = docs.count(), part.count()
    assert 0 < n_part < n
    extract_checkpointed(spark, part, root, run_id="fresh")
    ext, run = extract_checkpointed(spark, docs, root, run_id="resume")
    assert _texts(ext) == _texts(extract(docs))
    assert _extracted_rows_by_run(run) == {"fresh": n_part, "resume": n - n_part}

    from dxnn_ocr_cpp_spark.lineage import lineage_rows
    xor = "bit_xor(content_hash)"
    logged = run.lineage().filter(F.col("stage") == "extracted") \
        .agg(F.expr(xor)).collect()[0][0]
    assert logged == lineage_rows(ext, "x", "s").agg(F.expr(xor)).collect()[0][0]


def test_crash_while_extending_extracted_rebuilds_it(spark, docs, tmp_path,
                                                     monkeypatch):
    """A crash in the `extracted` extension, after the blocks append and
    with some of its part files already on disk: the rerun parses
    nothing and rebuilds `extracted` in full, equal to extract()."""
    import glob

    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun

    root = str(tmp_path / "r7")
    part = docs.filter(F.pmod(F.xxhash64("url"), F.lit(10)) != 0)
    extract_checkpointed(spark, part, root, run_id="fresh")

    run_stage = CheckpointedRun.run_stage

    def torn(self, stage, df_fn, *a, append=False, **kw):
        if append:
            # a torn append: a few part files land, no _SUCCESS
            tmp = str(tmp_path / "torn")
            df_fn().limit(3).write.parquet(tmp)
            for f in glob.glob(f"{tmp}/part-*"):
                shutil.copy(f, self._stage_path(stage))
            raise RuntimeError("crash while extending")
        return run_stage(self, stage, df_fn, *a, append=append, **kw)

    monkeypatch.setattr(CheckpointedRun, "run_stage", torn)
    with pytest.raises(RuntimeError, match="crash while extending"):
        extract_checkpointed(spark, docs, root, run_id="crashed")
    monkeypatch.undo()

    ext, run = extract_checkpointed(spark, docs, root, run_id="rerun")
    assert ext.count() == docs.count()
    assert _texts(ext) == _texts(extract(docs))
    rerun = {r["stage"]: r["rows"] for r in
             run.lineage().filter(F.col("run_id") == "rerun").groupBy("stage")
             .agg(F.sum("row_count").alias("rows")).collect()}
    assert rerun == {"extracted": docs.count()}
    # the rebuild replaced the fresh run's `extracted` lineage
    assert sum(_extracted_rows_by_run(run).values()) == ext.count()


def test_rewritten_blocks_rebuild_extracted(spark, docs, tmp_path):
    """`extracted` is extended only over a blocks checkpoint that was
    appended to: blocks rewritten from scratch rebuild it in full."""
    root = str(tmp_path / "r8")
    extract_checkpointed(spark, docs, root, run_id="first")
    shutil.rmtree(f"{root}/blocks")
    ext, run = extract_checkpointed(spark, docs, root, run_id="second")
    assert ext.count() == docs.count()
    assert _texts(ext) == _texts(extract(docs))
    assert _extracted_rows_by_run(run)["second"] == docs.count()


def _rows_by_stage_and_run(run):
    return {(r["stage"], r["run_id"]): r["rows"] for r in
            run.lineage().groupBy("stage", "run_id")
            .agg(F.sum("row_count").alias("rows")).collect()}


@pytest.mark.parametrize("depth_pos", [True, False],
                         ids=["with-depth-pos", "without-depth-pos"])
def test_root_in_old_exploded_layout_is_rebuilt_once(spark, docs, tmp_path,
                                                     depth_pos):
    """A root whose `blocks` checkpoint is exploded (one row per block, a
    top-level `block_id`) is rebuilt once, `blocks` and `extracted`
    alike, into the nested layout; a later resume extends that root."""
    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun

    root = str(tmp_path / "r9")
    part = docs.filter(F.pmod(F.xxhash64("url"), F.lit(10)) != 0)
    n, n_part = docs.count(), part.count()

    def exploded(todo):
        if not depth_pos:
            return extract_blocks(todo)
        # the oldest column order; `pos` runs against block_id
        return extract_blocks(todo).select(
            "url", "block_id", "tag", "boiler", F.lit(0).alias("depth"),
            (-F.col("block_id")).alias("pos"), "text", "n_text_chars",
            "n_link_chars", "score")

    old = CheckpointedRun(spark, root, run_id="old")
    old.run_incremental_stage("blocks", part, exploded, bytes_out_col="text")
    old.run_stage("extracted",
                  lambda: extract(part).select("url", "text", "n_spans"),
                  bytes_out_col="text")
    assert "block_id" in old.stage_columns("blocks")

    ext, run = extract_checkpointed(spark, part, root, run_id="rebuild")
    assert _texts(ext) == _texts(extract(part))
    assert run.stage_columns("blocks") == ["url", "scored"]
    assert _rows_by_stage_and_run(run) == {("blocks", "rebuild"): n_part,
                                           ("extracted", "rebuild"): n_part}

    ext, run = extract_checkpointed(spark, docs, root, run_id="extend")
    assert _texts(ext) == _texts(extract(docs))
    assert _rows_by_stage_and_run(run) == {
        ("blocks", "rebuild"): n_part, ("blocks", "extend"): n - n_part,
        ("extracted", "rebuild"): n_part, ("extracted", "extend"): n - n_part}


def test_blocks_lineage_counts_urls_and_block_text(spark, docs, tmp_path):
    """`blocks` holds one row per url: its lineage counts urls, and its
    bytes_out is the total block-text length of the exploded view."""
    ext, run = extract_checkpointed(spark, docs, str(tmp_path / "r10"))
    rows, out = run.lineage().filter(F.col("stage") == "blocks") \
        .agg(F.sum("row_count"), F.sum("bytes_out")).collect()[0]
    assert rows == docs.count()
    assert out == extract_blocks(docs).agg(F.sum(F.length("text"))) \
        .collect()[0][0] > 0


def test_blockless_urls_are_not_parsed_again(spark, tmp_path):
    """A url without blocks (empty body, null html) still has its one
    `blocks` row, an empty array, so a resume parses it no more."""
    from dxnn_ocr_cpp_spark.schemas import DOCUMENTS

    blank = spark.createDataFrame([("u-empty", None, b"", None, None),
                                   ("u-null", None, None, None, None)],
                                  DOCUMENTS)
    root = str(tmp_path / "r11")
    ext, run = extract_checkpointed(spark, blank, root, run_id="first")
    assert _texts(ext) == {"u-empty": ("", 0), "u-null": ("", 0)}
    assert [r[0] for r in run.read_stage("blocks")
            .select(F.size("scored")).collect()] == [0, 0]

    ext, run = extract_checkpointed(spark, blank, root, run_id="second")
    assert _texts(ext) == {"u-empty": ("", 0), "u-null": ("", 0)}
    assert ("blocks", "second") not in _rows_by_stage_and_run(run)
