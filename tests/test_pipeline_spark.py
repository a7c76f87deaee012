"""Spark pipeline tests: parity vs the pure-Python reference impl,
determinism under partitioning changes, edge-row preservation.

Analog of the reference's end-to-end async pipeline test
(/root/reference/test/pipeline/test_pipeline_async.cpp:33-232) plus its
golden-corpus accuracy gate (benchmark/calculate_acc.py), tightened to
byte-equality per the north rule.
"""

import pytest

from dxnn_ocr_cpp_spark.config import ExtractionConfig
from dxnn_ocr_cpp_spark.corpus import generate_documents_df, make_document
from dxnn_ocr_cpp_spark.pipeline import extract, extract_blocks, extract_python

N_DOCS = 120


@pytest.fixture(scope="module")
def docs(spark):
    return generate_documents_df(spark, N_DOCS, partitions=4).cache()


def as_map(rows):
    return {r["url"]: r for r in rows}


class TestParity:
    def test_spark_matches_python_reference(self, spark, docs):
        """Every Spark-extracted text byte-equals the pure-Python
        per-row implementation — pins stage-2/3 Catalyst expressions to
        the documented formulas."""
        got = as_map(extract(docs).collect())
        assert len(got) == N_DOCS
        for i in range(N_DOCS):
            d = make_document(i)
            exp = extract_python(d["url"], d["html"])
            g = got[d["url"]]
            assert g["text"] == exp["text"], f"text mismatch doc {i}"
            assert g["n_spans"] == exp["n_spans"], f"n_spans mismatch doc {i}"
            assert g["n_candidates"] == exp["n_candidates"]
            assert g["charset"] == exp["charset"]


class TestDeterminism:
    def test_partitioning_invariance(self, spark, docs):
        """north rule: byte-identical output under any parallelism."""
        a = as_map(extract(docs.repartition(1)).collect())
        b = as_map(extract(docs.repartition(16)).collect())
        c = as_map(extract(docs, repartition_to=7).collect())
        # P2/X4 size-routed dispatch must not change a single byte
        d = as_map(extract(docs, repartition_to=5, size_route=True).collect())
        assert a.keys() == b.keys() == c.keys() == d.keys()
        for u in a:
            assert a[u]["text"] == b[u]["text"] == c[u]["text"] == d[u]["text"]

    def test_rerun_identical(self, spark, docs):
        a = as_map(extract(docs).collect())
        b = as_map(extract(docs).collect())
        assert {u: r["text"] for u, r in a.items()} == \
               {u: r["text"] for u, r in b.items()}

    def test_parser_engine_invariance(self, spark, docs):
        """fast and ref parser engines are interchangeable per-run
        params (OCRTaskConfig analog) with byte-identical output."""
        a = as_map(extract(docs).collect())
        b = as_map(extract(
            docs, cfg=ExtractionConfig(parser_engine="ref")).collect())
        assert {u: r["text"] for u, r in a.items()} == \
               {u: r["text"] for u, r in b.items()}


class TestEdgeRows:
    def test_empty_body_row_preserved(self, spark, docs):
        # doc 7: empty body (F8 analog — row still emitted, text='')
        d = make_document(7)
        row = as_map(extract(docs).collect())[d["url"]]
        assert row["text"] == "" and row["n_spans"] == 0

    def test_candidate_cap_truncates(self, spark):
        d = make_document(21)  # 21 % 503 == 21 -> 1600 <li> blocks
        sdf = generate_documents_df(spark, 22).filter(f"url = '{d['url']}'")
        from dxnn_ocr_cpp_spark.operators.segment import with_blocks
        row = with_blocks(sdf.select("url", "html")).select("seg.*").collect()[0]
        assert row["n_candidates"] == 1600
        assert len(row["blocks"]) == 1500 and row["truncated"]

    def test_boilerplate_rejected(self, spark, docs):
        """nav/footer/aside/cookie-banner text never reaches output."""
        rows = extract(docs).collect()
        for r in rows:
            assert "We use cookies" not in r["text"]
            assert "© 2026 Example Corp" not in r["text"]

    def test_config_rethreshold_no_reinit(self, spark, docs):
        """Per-run param override (OCRTaskConfig analog): raising the
        score threshold strictly shrinks output, same engine/session."""
        loose = as_map(extract(docs, ExtractionConfig(box_thresh=0.3)).collect())
        strict = as_map(extract(docs, ExtractionConfig(box_thresh=0.9)).collect())
        assert sum(r["n_spans"] for r in strict.values()) < \
               sum(r["n_spans"] for r in loose.values())
        for u in strict:
            # strict spans are a subset: every strict line appears in loose
            sl = set(strict[u]["text"].split("\n")) - {""}
            ll = set(loose[u]["text"].split("\n")) - {""}
            assert sl <= ll


class TestBlockSchema:
    def test_extract_and_blocks_share_boiler(self, spark, docs):
        """extract() and the extract_blocks checkpoint view carry the
        same one block schema: the same boiler verdict per block, and
        no path-derived fields."""
        from pyspark.sql import functions as F

        from dxnn_ocr_cpp_spark.schemas import BLOCK
        hot = extract(docs, keep_intermediate=True)
        view = extract_blocks(docs)
        # exactly the one block schema: nothing path-derived rides along
        assert hot.schema["seg"].dataType["blocks"].dataType \
            .elementType.names == BLOCK.names
        assert view.columns == ["url", *BLOCK.names, "score"]
        hot_rows = (hot.select("url", F.explode("seg.blocks").alias("b"))
                    .select("url", "b.block_id", "b.boiler").collect())
        view_rows = (view.filter("block_id is not null")
                     .select("url", "block_id", "boiler").collect())
        a = {(r["url"], r["block_id"]): r["boiler"] for r in hot_rows}
        b = {(r["url"], r["block_id"]): r["boiler"] for r in view_rows}
        assert a == b and any(a.values()) and not all(a.values())


class TestSlimBlocks:
    """The segmenter ships a slim block: the boiler verdict is computed
    in Python, and the tag path it was read from never reaches the
    extract() output."""

    def test_slim_schema_has_no_tag_path(self, spark, docs):
        out = extract(docs, keep_intermediate=True)
        fields = {f.name for f in
                  out.schema["seg"].dataType["blocks"]
                  .dataType.elementType.fields}
        assert "tag_path" not in fields and "n_tags" not in fields
        assert "boiler" in fields


class TestReadingOrder:
    def test_tail_after_nested_block_reads_in_document_order(self, spark,
                                                              tmp_path):
        """Text after a nested block follows that block on every path:
        the blocks array is in reading order and nothing re-sorts it."""
        from dxnn_ocr_cpp_spark.pipeline import extract_checkpointed
        from dxnn_ocr_cpp_spark.schemas import DOCUMENTS

        html = (b"<section>First sentence here.<p>Second sentence here.</p>"
                b"Third sentence here and it goes on.</section>")
        lines = ["First sentence here.", "Second sentence here.",
                 "Third sentence here and it goes on."]
        df = spark.createDataFrame([("u", None, html, None, None)], DOCUMENTS)
        py = extract_python("u", html)
        hot = extract(df, markdown=True).collect()[0]
        ckpt = extract_checkpointed(spark, df, str(tmp_path / "ck"))[0] \
            .collect()[0]
        for path, text in (("extract_python", py["text"]),
                           ("extract", hot["text"]),
                           ("extract_checkpointed", ckpt["text"])):
            assert text.split("\n") == lines, path
        for path, md in (("extract_python", py["markdown"]),
                         ("extract", hot["markdown"])):
            assert md.split("\n\n") == lines, path


class TestBlocksView:
    def test_exploded_blocks_match_array_path(self, spark, docs):
        nb = extract_blocks(docs).filter("block_id is not null").count()
        from pyspark.sql import functions as F
        from dxnn_ocr_cpp_spark.operators.segment import with_blocks
        na = (with_blocks(docs.select("url", "html"))
              .select(F.explode("seg.blocks")).count())
        assert nb == na > 0
