"""Physical-plan shape tests — the scale guarantees are properties of
the plan, not of small-data timings, so pin them in CI:

  * extraction hot path: ZERO Exchange (no shuffle), exactly one
    Python/Arrow eval node (stage 1), scan pruned to (url, html);
  * dimension joins broadcast, never sort-merge;
  * parquet filters push down;
  * aggregations do map-side partial aggregation.
"""

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dxnn_ocr_cpp_spark.corpus import generate_documents_df
from dxnn_ocr_cpp_spark.pipeline import extract

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestExtractionPlan:
    def test_zero_shuffle_one_python_hop(self, spark):
        df = extract(generate_documents_df(spark, 20))
        plan = plan_of(df)
        assert "Exchange" not in plan, "extraction hot path must not shuffle"
        evals = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
        assert evals == 1, f"expected exactly 1 Python hop, plan:\n{plan[:2000]}"

    def test_no_array_sort(self, spark):
        """Blocks arrive in reading order: emission sorts nothing."""
        df = extract(generate_documents_df(spark, 20), markdown=True)
        assert "array_sort" not in optimized_of(df)

    def test_checkpointed_stage3_no_shuffle_no_sort(self, spark, tmp_path,
                                                   monkeypatch):
        """Checkpointed stage 3 over a written `blocks` checkpoint is
        extract()'s emission over the stored arrays: nothing regroups
        or re-sorts the blocks."""
        from dxnn_ocr_cpp_spark.lineage import CheckpointedRun
        from dxnn_ocr_cpp_spark.pipeline import extract_checkpointed

        stage3, run_stage = [], CheckpointedRun.run_stage

        def spy(self, stage, df_fn, *a, **kw):
            if stage == "extracted":
                stage3.append(df_fn())
            return run_stage(self, stage, df_fn, *a, **kw)

        monkeypatch.setattr(CheckpointedRun, "run_stage", spy)
        extract_checkpointed(spark, generate_documents_df(spark, 20),
                             str(tmp_path / "ck"))
        (df,) = stage3
        plan, optimized = plan_of(df), optimized_of(df)
        assert "Exchange" not in plan, plan
        assert "Sort" not in plan and "Sort" not in optimized, optimized
        assert "array_sort" not in optimized, optimized

    def test_scan_pruned_to_url_html(self, spark):
        path = "/tmp/_plan_prune_docs"
        generate_documents_df(spark, 5).write.mode("overwrite").parquet(path)
        df = extract(spark.read.parquet(path))
        m = re.search(r"ReadSchema: ([^\n]+)", plan_of(df))
        assert m, "no parquet scan found"
        read = m.group(1)
        assert "html" in read and "url" in read
        assert "warc_ts" not in read and "lang" not in read, \
            f"scan not pruned: {read}"


class TestRelationalPlans:
    def test_dim_joins_are_broadcast(self, spark):
        plan = plan_of(entrymod.q_cust_nation_region(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_filter_pushdown(self, spark):
        plan = plan_of(entrymod.q_pricing_summary(spark, SF))
        assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual", plan), \
            "l_shipdate filter not pushed to parquet"

    def test_partial_aggregation(self, spark):
        plan = plan_of(entrymod.q_pricing_summary(spark, SF))
        # map-side partial agg + final agg = two HashAggregate levels
        assert plan.count("HashAggregate") >= 2

    def test_topk_uses_single_shuffle(self, spark):
        plan = plan_of(entrymod.q_top_orders_per_cust(spark, SF))
        assert plan.count("Exchange") <= 1

    def test_ngram_pairs_no_cartesian(self, spark):
        plan = plan_of(entrymod.q_ngram_jaccard_pairs(spark, SF))
        assert "CartesianProduct" not in plan, \
            "pair generation must go through the shingle index join"

    def test_brute_force_topk_broadcasts_queries(self, spark):
        plan = plan_of(entrymod.q_embedding_topk(spark, SF))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


class TestFrontierPlan:
    """The composed crawl-frontier job must stay broadcast-only on its
    joins: blocklist suffixes and robots rules are KB-scale against a
    10^12-row frontier, so any SortMergeJoin or cartesian in this plan
    is a scale bug."""

    def test_broadcast_only_no_cartesian(self, spark):
        df = entrymod.queries()["frontier_build"](spark, SF)
        plan = plan_of(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
        # hash-exchange census (observed plan, pinned): ONE
        # corpus-sized shuffle (the final dedup groupBy,
        # partial-aggregated) + five KB-scale ones feeding broadcast
        # builders (4 distincts for flag_blocked's chained suffix
        # levels over the 2-row blocklist, 1 robots-rules per-host
        # rollup over 23 hosts). Growth past 6 means a NEW corpus-side
        # shuffle crept into the chain.
        shuffles = plan.count("Exchange hashpartitioning")
        assert 1 <= shuffles <= 6, \
            f"expected 1 corpus + 5 tiny-side shuffles, got {shuffles}"
        # the corpus path itself reaches the final groupBy unshuffled:
        # documents scan -> parse -> canonicalize -> gates are all in
        # one stage, so exactly ONE exchange sits above the parquet
        # scan's stage (the url dedup)
        assert "FileScan parquet" in plan


def test_plans_md_has_a_row_per_query():
    """BENCH/PLANS.md is the plan audit of every registered query: a
    `queries()` key without a row means the audit is stale (regenerate
    it with `python tools/plan_audit.py <sf_dir>`)."""
    import pathlib

    plans = pathlib.Path(entrymod.__file__).parent / "BENCH" / "PLANS.md"
    rows = set(re.findall(r"^\| (\w+) \|", plans.read_text(), re.M))
    missing = sorted(set(entrymod.queries()) - rows)
    assert not missing, f"no BENCH/PLANS.md row for {missing}"
