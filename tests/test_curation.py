"""Curation policy operators (operators/curation.py): PII redaction,
repetition filters, benchmark decontamination, NFC normalization —
semantics on crafted inputs plus the plan shapes that make each safe at
100 TB (zero-shuffle projections; broadcast-only decontamination join).
"""

import pytest
from pyspark.sql import functions as F

from dxnn_ocr_cpp_spark.operators.curation import (DUP_2GRAM_FRAC_MAX,
                                                   DUP_WORD_FRAC_MAX,
                                                   decontaminate,
                                                   normalize_nfc,
                                                   pii_counts, redact_pii,
                                                   repetition_features,
                                                   repetition_ok)


def one(spark, text):
    return spark.createDataFrame([(text,)], "text string")


class TestPII:
    def test_all_kinds_redacted_and_counted(self, spark):
        t = ("mail a.b+c@x-y.co.uk or d@e.io, host 192.168.001.200, "
             "call (555) 123-4567 / 555.123.4567 / 555-123-4567")
        df = one(spark, t).select(
            redact_pii(F.col("text")).alias("red"),
            *[c.alias(k) for k, c in pii_counts(F.col("text")).items()])
        r = df.collect()[0]
        assert r["email"] == 2 and r["ipv4"] == 1 and r["phone"] == 3
        assert "@" not in r["red"] and "192.168" not in r["red"]
        assert r["red"].count("<EMAIL>") == 2
        assert r["red"].count("<PHONE>") == 3
        assert r["red"].count("<IP>") == 1

    def test_ip_not_eaten_by_phone_and_clean_text_untouched(self, spark):
        clean = "no pii here, just words and 42 numbers"
        rows = (one(spark, "from 10.0.0.1 port 80")
                .unionAll(one(spark, clean))
                .select(redact_pii(F.col("text")).alias("red")).collect())
        assert rows[0]["red"] == "from <IP> port 80"
        assert rows[1]["red"] == clean

    def test_idempotent(self, spark):
        t = "x bob@example.com y"
        once = one(spark, t).select(redact_pii(F.col("text")).alias("r"))
        twice = once.select(redact_pii(F.col("r")).alias("r"))
        assert once.collect() == twice.collect()

    def test_zero_shuffle_plan(self, spark):
        df = one(spark, "a").select(redact_pii(F.col("text")))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan  # pure Catalyst


class TestRepetition:
    def feats(self, spark, text):
        f = repetition_features(F.col("text"))
        return one(spark, text).select(
            *[c.alias(k) for k, c in f.items()],
            repetition_ok(f).alias("keep")).collect()[0]

    def test_degenerate_repetition_fails_gate(self, spark):
        r = self.feats(spark, "spam " * 50)
        assert r["n_words"] == 50
        assert r["dup_word_frac"] == pytest.approx(1 - 1 / 50)
        assert r["dup_2gram_frac"] == pytest.approx(1 - 1 / 49)
        assert r["dup_word_frac"] > DUP_WORD_FRAC_MAX
        assert not r["keep"]

    def test_normal_prose_passes(self, spark):
        r = self.feats(spark, "the quick brown fox jumps over the lazy dog")
        assert r["n_words"] == 9
        assert r["dup_word_frac"] == pytest.approx(1 / 9)  # 'the' twice
        assert r["dup_2gram_frac"] == 0.0
        assert r["mean_word_len"] == pytest.approx(35 / 9)
        assert r["keep"]

    def test_bigram_loop_caught_even_with_distinct_ok(self, spark):
        # "a b a b ..." — dup_word_frac high too, but the 2-gram frac is
        # the decisive loop detector
        r = self.feats(spark, "alpha beta " * 30)
        assert r["dup_2gram_frac"] > DUP_2GRAM_FRAC_MAX
        assert not r["keep"]

    def test_empty_and_single_word(self, spark):
        r = self.feats(spark, "")
        assert (r["n_words"], r["dup_word_frac"], r["dup_2gram_frac"],
                r["mean_word_len"]) == (0, 0.0, 0.0, 0.0)
        assert not r["keep"]  # mean_word_len below range
        r = self.feats(spark, "hello")
        assert r["n_words"] == 1 and r["dup_2gram_frac"] == 0.0
        assert r["keep"]

    def test_zero_shuffle_plan(self, spark):
        f = repetition_features(F.col("text"))
        df = one(spark, "a b").select(*[c.alias(k) for k, c in f.items()])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestDecontaminate:
    @pytest.fixture(scope="class")
    def corpora(self, spark):
        evalset = spark.createDataFrame(
            [(100, "the capital of france is paris it lies on the seine")],
            "doc_id long, text string")
        train = spark.createDataFrame(
            [(1, "the capital of france is paris a fact everyone knows"),
             (2, "unrelated words about spark shuffles and parquet files"),
             (3, "it lies on the seine said the guide in paris")],
            "doc_id long, text string")
        return train, evalset

    @pytest.mark.parametrize("family", ["blake2b", "grams"])
    def test_planted_overlap_flagged(self, corpora, family):
        train, evalset = corpora
        got = {r["doc_id"]: r["n_shared"]
               for r in decontaminate(train, evalset, min_common=2,
                                      gram_family=family).collect()}
        assert 1 in got and got[1] >= 4   # shares 'the capital of' run
        assert 3 in got
        assert 2 not in got               # disjoint vocabulary

    def test_families_agree(self, corpora):
        train, evalset = corpora
        a = sorted(decontaminate(train, evalset, min_common=2,
                                 gram_family="blake2b").collect())
        b = sorted(decontaminate(train, evalset, min_common=2,
                                 gram_family="grams").collect())
        assert a == b

    def test_broadcast_only_join_plan(self, corpora):
        train, evalset = corpora
        df = decontaminate(train, evalset)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        for node in ("SortMergeJoin", "CartesianProduct",
                     "BroadcastNestedLoopJoin"):
            assert node not in plan

    def test_bloom_prefilter_output_identical(self, corpora):
        # bloom is a broadcast-bytes optimization, never a semantics
        # change: false positives die in the exact join that follows
        train, evalset = corpora
        a = sorted(decontaminate(train, evalset, min_common=2).collect())
        b = sorted(decontaminate(train, evalset, min_common=2,
                                 prefilter="bloom",
                                 expected_eval_grams=1_000).collect())
        assert a == b
        assert a   # the fixture plants real overlap

    def test_bloom_plan_has_filter_and_exact_join(self, corpora):
        train, evalset = corpora
        df = decontaminate(train, evalset, prefilter="bloom",
                           expected_eval_grams=1_000)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "getbit" in plan              # bitmap probes present
        assert plan.count("BroadcastHashJoin") >= 4  # 3 probes + exact
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_bad_prefilter_rejected(self, corpora):
        train, evalset = corpora
        with pytest.raises(ValueError):
            decontaminate(train, evalset, prefilter="cuckoo")


class TestNFC:
    def test_composes_and_idempotent(self, spark):
        df = spark.createDataFrame(
            [("cafe\u0301",), ("caf\u00e9",), (None,), ("ascii only",)],
            "text string").select(
            "text", normalize_nfc(F.col("text")).alias("n"))
        rows = df.collect()
        assert rows[0]["n"] == "caf\u00e9" and len(rows[0]["n"]) == 4
        assert rows[1]["n"] == "caf\u00e9"       # already NFC: unchanged
        assert rows[2]["n"] is None              # None-safe
        assert rows[3]["n"] == "ascii only"
        again = df.select(normalize_nfc(F.col("n")).alias("n2")).collect()
        assert [r["n2"] for r in again] == [r["n"] for r in rows]


class TestLineDedup:
    @pytest.fixture(scope="class")
    def cleaned(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import \
            remove_boilerplate_lines
        docs = spark.createDataFrame(
            [(i, "SHARED BANNER\nunique body %d\n\ntail %d" % (i, i))
             for i in range(6)]
            + [(6, "SHARED BANNER"),          # all-boiler doc
               (7, "")],                      # empty doc
            "doc_id long, text string")
        out = remove_boilerplate_lines(docs, min_df=5)
        return {r["doc_id"]: r for r in out.collect()}

    def test_boiler_dropped_body_kept_in_order(self, cleaned):
        assert cleaned[3]["text_clean"] == "unique body 3\n\ntail 3"
        assert cleaned[3]["n_lines"] == 4
        assert cleaned[3]["n_dropped"] == 1

    def test_blank_lines_survive(self, cleaned):
        assert "\n\n" in cleaned[2]["text_clean"]

    def test_all_boiler_doc_empties(self, cleaned):
        assert cleaned[6]["text_clean"] == ""
        assert cleaned[6]["n_dropped"] == 1

    def test_empty_doc_roundtrips(self, cleaned):
        assert cleaned[7]["text_clean"] == ""
        assert cleaned[7]["n_lines"] == 1
        assert cleaned[7]["n_dropped"] == 0

    def test_frac_mode(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import \
            remove_boilerplate_lines
        docs = spark.createDataFrame(
            [(i, "common\nbody %d" % i) for i in range(10)],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in remove_boilerplate_lines(
            docs, keep_frac_below=0.5).collect()}
        assert out[1]["text_clean"] == "body 1"   # df=10 >= 0.5*10


class TestParagraphDedup:
    @pytest.fixture(scope="class")
    def deduped(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import dedup_paragraphs
        docs = spark.createDataFrame(
            [(0, "alpha\n\nshared para\n\nbeta0"),
             (1, "shared para\n\ngamma1"),      # cross-doc dup
             (2, "delta2\n\ndelta2"),           # intra-doc dup
             (3, "a\n\n\n\nb"),                 # blank para carries layout
             (4, ""),                           # empty doc
             (5, "  shared para  \n\nend5")],   # whitespace-variant dup
            "doc_id long, text string")
        out = dedup_paragraphs(docs)
        return {r["doc_id"]: r for r in out.collect()}

    def test_first_occurrence_kept_verbatim(self, deduped):
        assert deduped[0]["text_dedup"] == "alpha\n\nshared para\n\nbeta0"
        assert deduped[0]["n_paras"] == 3
        assert deduped[0]["n_dropped"] == 0

    def test_cross_doc_duplicate_dropped(self, deduped):
        assert deduped[1]["text_dedup"] == "gamma1"
        assert deduped[1]["n_dropped"] == 1

    def test_intra_doc_duplicate_dropped(self, deduped):
        assert deduped[2]["text_dedup"] == "delta2"
        assert deduped[2]["n_paras"] == 2
        assert deduped[2]["n_dropped"] == 1

    def test_blank_paragraphs_survive_in_place(self, deduped):
        assert deduped[3]["text_dedup"] == "a\n\n\n\nb"
        assert deduped[3]["n_paras"] == 3
        assert deduped[3]["n_dropped"] == 0

    def test_empty_doc_roundtrips(self, deduped):
        assert deduped[4]["text_dedup"] == ""
        assert deduped[4]["n_paras"] == 1
        assert deduped[4]["n_dropped"] == 0

    def test_whitespace_variant_matches_trimmed_key(self, deduped):
        # "  shared para  " trims to the doc-0 winner; dropped, and the
        # keep decision never rewrites surviving text
        assert deduped[5]["text_dedup"] == "end5"
        assert deduped[5]["n_dropped"] == 1


class TestRepetitionStagedAPI:
    def test_staged_agrees_with_column_dict(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import (
            repetition_features, repetition_ok, with_repetition_features)
        docs = spark.createDataFrame(
            [(1, "spam spam spam spam spam"),
             (2, "a perfectly normal sentence with varied words here"),
             (3, ""), (4, "ab " * 40), (5, "one")],
            "doc_id long, text string")
        f = repetition_features(F.col("text"))
        a = sorted(docs.select(
            "doc_id", f["n_words"].alias("n_words"),
            F.round(f["dup_word_frac"], 9).alias("dwf"),
            F.round(f["dup_2gram_frac"], 9).alias("dgf"),
            F.round(f["mean_word_len"], 9).alias("mwl"),
            repetition_ok(f).alias("keep")).collect())
        b = sorted(with_repetition_features(docs).select(
            "doc_id", "n_words",
            F.round("dup_word_frac", 9).alias("dwf"),
            F.round("dup_2gram_frac", 9).alias("dgf"),
            F.round("mean_word_len", 9).alias("mwl"), "keep").collect())
        assert a == b


class TestGopherLineRules:
    def feats(self, spark, text):
        from dxnn_ocr_cpp_spark.operators.curation import \
            gopher_line_features
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        return gopher_line_features(df).collect()[0]

    def test_duplicate_lines_and_char_fraction(self, spark):
        r = self.feats(spark, "same\nsame\nsame\nuniquely long line here")
        assert r["n_lines"] == 4
        assert r["dup_line_frac"] == pytest.approx(0.5)  # 4 - 2 distinct
        # 12 chars in dup lines / 35 total
        assert r["dup_line_char_frac"] == pytest.approx(12 / 35)

    def test_duplicate_paragraphs(self, spark):
        r = self.feats(spark, "para one\n\npara one\n\npara two")
        assert r["dup_para_frac"] == pytest.approx(1 / 3)
        assert r["dup_line_frac"] == pytest.approx(1 / 3)

    def test_bullet_and_ellipsis_fractions(self, spark):
        r = self.feats(spark, "- a\n* b\n• c\nplain\nends...\ntrails…")
        assert r["bullet_line_frac"] == pytest.approx(3 / 6)
        assert r["ellipsis_line_frac"] == pytest.approx(2 / 6)

    def test_alpha_word_frac_and_stopwords_gate(self, spark):
        good = self.feats(
            spark, "the cat sat on the mat and it was a fine day")
        assert good["alpha_word_frac"] == 1.0
        assert good["n_stopwords"] >= 2 and bool(good["keep"])
        numeric = self.feats(spark, "123 456 789 000 111 222")
        assert numeric["alpha_word_frac"] == 0.0
        assert not numeric["keep"]

    def test_empty_doc_emits_zeros_not_nulls(self, spark):
        r = self.feats(spark, "")
        assert r["n_lines"] == 0 and r["dup_line_frac"] == 0.0
        assert r["dup_line_char_frac"] == 0.0 and not r["keep"]

    def test_plan_zero_shuffle_zero_python(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import \
            gopher_line_features
        df = spark.createDataFrame([(0, "a\nb")], "doc_id long, text string")
        plan = gopher_line_features(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


class TestC4LineFilters:
    """C4 cleaning battery: line gates, page blocks, sentence gate."""

    def run_one(self, spark, text):
        from dxnn_ocr_cpp_spark.operators.curation import c4_line_filters
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        return c4_line_filters(df).collect()[0]

    def test_line_gates(self, spark):
        r = self.run_one(
            spark,
            "Heading\n"                                # no terminal punct
            "Too few.\n"                               # < 5 words
            "This line has enough words to pass.\n"
            "Please enable javascript to view this content now.\n"
            'A quoted ending also counts as terminal here."')
        assert r["n_lines"] == 5
        assert r["n_lines_kept"] == 2
        assert r["clean_text"].splitlines() == [
            "This line has enough words to pass.",
            'A quoted ending also counts as terminal here."']

    def test_sentence_gate_and_keep(self, spark):
        ok = self.run_one(
            spark,
            "First sentence is long enough to pass easily.\n"
            "Second one also passes with room! Third follows here too?")
        assert ok["n_sentences"] == 3 and bool(ok["keep"])
        short = self.run_one(
            spark, "Only one proper sentence lives on this page.")
        assert short["n_sentences"] == 1 and not short["keep"]

    def test_page_blocks(self, spark):
        lorem = self.run_one(
            spark,
            "Lorem ipsum dolor sit amet consectetur adipiscing elit.\n"
            "Another fine sentence appears right here today! And more?")
        assert not lorem["keep"]          # page block beats sentence gate
        brace = self.run_one(
            spark,
            "A perfectly fine sentence sits here on this page.\n"
            "But the template leaked a { brace into the output! Sad?")
        assert not brace["keep"]

    def test_empty_doc(self, spark):
        r = self.run_one(spark, "")
        assert (r["n_lines"], r["n_lines_kept"], r["n_sentences"]) == \
            (0, 0, 0)
        assert r["clean_text"] == "" and not r["keep"]

    def test_plan_zero_shuffle_zero_python(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import c4_line_filters
        df = spark.createDataFrame([(0, "a\nb")], "doc_id long, text string")
        plan = c4_line_filters(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


class TestFixMojibake:
    """Gates + inverse exactness of the encode/decode mojibake repair."""

    CASES = [
        # (input, expected_fixed, expected_applied)
        ("caf\u00c3\u00a9 au lait", "caf\u00e9 au lait", True),
        # euro double-encoded: 'a-circ' + U+0082 + U+00AC
        ("price \u00e2\u0082\u00ac5", "price \u20ac5", True),
        # clean accented text: signature bigram never matches
        ("caf\u00e9 cr\u00e8me", "caf\u00e9 cr\u00e8me", False),
        # genuine CJK: outside latin-1, gate 2 refuses the re-encode
        ("\u4e2d\u6587 text", "\u4e2d\u6587 text", False),
        # lone lead-byte char with no continuation char: no signature
        ("\u00c3 capital letter", "\u00c3 capital letter", False),
        # signature bigram but INVALID utf-8 ('A-tilde' + space + DEL
        # region): U+FFFD gate refuses
        ("x \u00c3\u0081\u00c3 y", "\u00c1\u00c3", None),
        ("plain ascii", "plain ascii", False),
        ("", "", False),
    ]

    def test_gates_and_inverse(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import fix_mojibake

        rows = [(i, c[0]) for i, c in enumerate(self.CASES)]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {r.id: r for r in fix_mojibake(df).collect()}
        for i, (src, want, applied) in enumerate(self.CASES):
            if applied is None:     # repaired iff round trip was valid
                continue
            assert got[i].fixed == want, (i, src)
            assert got[i].fixed_applied == applied, (i, src)

    def test_whole_row_validity_gate(self, spark):
        # 'A-tilde'+U+0081 alone IS valid utf-8 (C3 81 -> U+00C1) and
        # repairs; adding a lone trailing 'A-tilde' makes the WHOLE
        # byte string invalid utf-8, so the U+FFFD gate refuses the
        # row outright (per-row containment, no partial rewrites)
        from dxnn_ocr_cpp_spark.operators.curation import fix_mojibake
        df = spark.createDataFrame(
            [(0, "x \u00c3\u0081 y"),
             (1, "x \u00c3\u0081\u00c3 y")], "id long, text string")
        got = {r.id: r for r in fix_mojibake(df).collect()}
        assert got[0].fixed == "x \u00c1 y" and got[0].fixed_applied
        assert got[1].fixed == "x \u00c3\u0081\u00c3 y"
        assert not got[1].fixed_applied

    def test_plan_pure_catalyst(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import fix_mojibake
        df = spark.createDataFrame([(0, "a")], "id long, text string")
        plan = fix_mojibake(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan

    def test_idempotent_on_clean_output(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import fix_mojibake
        df = spark.createDataFrame(
            [(0, "caf\u00c3\u00a9"), (1, "ok")], "id long, text string")
        once = fix_mojibake(df).select(
            "id", F.col("fixed").alias("text"))
        twice = {r.id: r for r in fix_mojibake(once).collect()}
        assert twice[0].fixed == "caf\u00e9"
        assert not twice[0].fixed_applied and not twice[1].fixed_applied

    def test_null_text_total_applied_flag(self, spark):
        # null text: the row survives with fixed NULL and applied
        # FALSE (not NULL) \u2014 a null flag would make the row vanish
        # from BOTH `fixed_applied` and `NOT fixed_applied` filters
        from pyspark.sql import Row
        from dxnn_ocr_cpp_spark.operators.curation import fix_mojibake
        df = spark.createDataFrame(
            [Row(id=0, text=None), Row(id=1, text="caf\u00c3\u00a9")],
            "id long, text string")
        out = fix_mojibake(df)
        got = {r.id: r for r in out.collect()}
        assert got[0].fixed is None
        assert got[0].fixed_applied is False
        # the flag partitions the table: every row lands on one side
        n = out.filter("fixed_applied").count() \
            + out.filter("NOT fixed_applied").count()
        assert n == 2

    def test_no_session_conf_side_effect(self, spark):
        # building and running the repair must not flip the session's
        # strict coding-error behavior for unrelated operators
        from dxnn_ocr_cpp_spark.operators.curation import fix_mojibake
        key = "spark.sql.legacy.codingErrorAction"
        before = spark.conf.get(key, None)
        df = spark.createDataFrame(
            [(0, "caf\u00c3\u00a9"), (1, "\u4e2d\u6587")],
            "id long, text string")
        fix_mojibake(df).collect()
        assert spark.conf.get(key, None) == before
        # strict mode still raises elsewhere in the session: encoding
        # a non-Latin-1 char as Latin-1 must fail, not substitute '?'
        strict = spark.createDataFrame([("\u4e2d",)], "t string") \
            .select(F.encode("t", "ISO-8859-1"))
        if before in (None, "false"):
            with pytest.raises(Exception):
                strict.collect()


class TestHostQualityPrior:
    def _docs(self, spark):
        rows = []
        # h-good: 10 docs at score 0.9; h-bad: 10 at 0.1;
        # h-tiny: 1 doc at 1.0 (must shrink hard toward the mean)
        for i in range(10):
            rows.append(("h-good", 0.9))
            rows.append(("h-bad", 0.1))
        rows.append(("h-tiny", 1.0))
        return spark.createDataFrame(rows,
                                     "host string, quality_score double")

    def test_shrinkage(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import \
            host_quality_prior
        got = {r["host"]: r for r in
               host_quality_prior(self._docs(spark), m=20).collect()}
        # corpus mean = (9 + 1 + 1) / 21 micro-exact
        mean = (10 * 900000 + 10 * 100000 + 1000000) / 21 / 1e6
        assert got["h-good"]["n_docs"] == 10
        assert got["h-good"]["sum_q_micro"] == 9_000_000
        # tiny host lands close to the mean, not close to 1.0
        assert abs(got["h-tiny"]["prior"] - mean) < 0.03
        # good host stays above the mean, bad below, both shrunk
        assert mean < got["h-good"]["prior"] < 0.9
        assert 0.1 < got["h-bad"]["prior"] < mean

    def test_order_invariance(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import \
            host_quality_prior
        d = self._docs(spark)
        a = {(r["host"], r["prior"]) for r in
             host_quality_prior(d.repartition(1), m=20).collect()}
        b = {(r["host"], r["prior"]) for r in
             host_quality_prior(d.repartition(7), m=20).collect()}
        assert a == b

    def test_join_back_broadcast(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import (
            host_quality_prior, with_host_prior)
        d = self._docs(spark)
        pri = host_quality_prior(d, m=20)
        out = with_host_prior(
            d.unionByName(spark.createDataFrame(
                [("h-new", 0.5)], d.schema)), pri)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        rows = {r["host"]: r["prior"] for r in out.collect()}
        assert rows["h-new"] is None          # cold start stays NULL
        assert rows["h-good"] is not None

    def test_plan_one_corpus_exchange(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import \
            host_quality_prior
        plan = (host_quality_prior(self._docs(spark))
                ._jdf.queryExecution().executedPlan().toString())
        # the lazy localCheckpoint pins per_host, so the corpus-side
        # groupBy appears ONCE (one scan); the global agg reads the
        # checkpointed host-sized RDD, not the corpus
        assert plan.count("Exchange hashpartitioning") <= 1
        assert plan.count("Scan ExistingRDD") <= 2  # checkpoint reuse
        assert "Window" not in plan and "PythonUDF" not in plan


class TestDropReasons:
    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame(
            [(0, "good", 10), (1, None, 10), (2, "good", 3),
             (3, "bad", 10), (4, "good", 10)],
            "id long, tag string, score long")

    def gates(self):
        from pyspark.sql import functions as F
        return [("tag_bad", F.col("tag") == "good"),
                ("low_score", F.col("score") >= 5)]

    def test_first_failing_gate_wins(self, spark, df):
        from dxnn_ocr_cpp_spark.operators.curation import drop_reasons
        out = {r["id"]: r["drop_reason"]
               for r in drop_reasons(df, self.gates()).collect()}
        # id=3 fails BOTH gates? no: tag 'bad' fails gate 1 -> gate 1
        # attributed even though score passes; id=2 passes gate 1,
        # fails gate 2
        assert out == {0: "kept", 1: "tag_bad", 2: "low_score",
                       3: "tag_bad", 4: "kept"}

    def test_null_predicate_attributes_not_leaks(self, spark, df):
        # id=1: tag NULL -> predicate NULL -> coalesce(False) ->
        # attributed to that gate, never a NULL reason
        from dxnn_ocr_cpp_spark.operators.curation import drop_reasons
        rows = drop_reasons(df, self.gates()).collect()
        assert all(r["drop_reason"] is not None for r in rows)

    def test_funnel_report_rollup(self, spark, df):
        from dxnn_ocr_cpp_spark.operators.curation import (drop_reasons,
                                                           funnel_report)
        rep = {r["drop_reason"]: r["n"] for r in
               funnel_report(drop_reasons(df, self.gates())).collect()}
        assert rep == {"kept": 2, "tag_bad": 2, "low_score": 1}

    def test_adds_no_exchange(self, spark, df):
        from dxnn_ocr_cpp_spark.operators.curation import drop_reasons
        plan = (drop_reasons(df, self.gates())
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan


class TestWordlistFilter:
    WORDS = ["alphabad", "beta gamma"]

    def _docs(self, spark):
        from dxnn_ocr_cpp_spark.operators.curation import \
            wordlist_page_filter
        rows = [
            (0, "clean page with nothing to flag."),
            (1, "has AlphaBad once."),                    # case-insens
            (2, "alphabad twice alphabad."),
            (3, "xalphabad alphabadx subalphabadstring"),  # boundaries
            (4, "phrase beta gamma appears here"),
            (5, "beta alone then gamma alone"),            # split: no
            (6, None),                                     # null text
            (7, "alphabad-hyphenated still matches"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return wordlist_page_filter, df

    def test_regex_semantics(self, spark):
        fn, df = self._docs(spark)
        out = {r["doc_id"]: (r["n_flagged"], r["keep"])
               for r in fn(df, self.WORDS).collect()}
        assert out[0] == (0, True)
        assert out[1] == (1, False)
        assert out[2] == (2, False)
        assert out[3] == (0, True)      # substrings never match
        assert out[4] == (1, False)     # phrase entry
        assert out[5] == (0, True)      # phrase parts alone don't
        assert out[6] == (0, True)      # null text preserved, kept
        assert out[7] == (1, False)     # \b at hyphen

    def test_join_strategy_equals_regex_on_single_words(self, spark):
        fn, df = self._docs(spark)
        words = ["alphabad"]            # join: single-word lists only
        a = sorted(map(tuple, fn(df, words, strategy="regex").collect()))
        b = sorted(map(tuple, fn(df, words, strategy="join").collect()))
        assert a == b

    def test_join_strategy_rejects_phrases(self, spark):
        fn, df = self._docs(spark)
        with pytest.raises(ValueError, match="non-word"):
            fn(df, self.WORDS, strategy="join")

    def test_join_strategy_rejects_nonword_entries(self, spark):
        # not just phrases: 'bad-word', "don't", 'sex.com' can never
        # equal a \W+-split token, while the regex strategy matches
        # them via \b — the equal-output contract demands a loud
        # reject instead of a silent never-match
        fn, df = self._docs(spark)
        for w in ["bad-word", "don't", "sex.com"]:
            with pytest.raises(ValueError, match="non-word"):
                fn(df, [w], strategy="join")

    def test_join_strategy_rejects_non_ascii_word_chars(self, spark):
        # the join splits on Java's ASCII \W+, which cuts 'café' into
        # 'caf' — the entry could never equal a token, so it must be
        # rejected even though Python's Unicode \w covers 'é'
        fn, df = self._docs(spark)
        with pytest.raises(ValueError, match="non-word"):
            fn(df, ["café"], strategy="join")

    def test_strategies_agree_where_join_is_legal(self, spark):
        # any list the join guard ADMITS must produce identical
        # output under both physical plans
        fn, df = self._docs(spark)
        words = ["alphabad", "gamma"]
        a = sorted(map(tuple, fn(df, words, strategy="regex").collect()))
        b = sorted(map(tuple, fn(df, words, strategy="join").collect()))
        assert a == b

    def test_empty_list_raises(self, spark):
        fn, df = self._docs(spark)
        with pytest.raises(ValueError, match="empty"):
            fn(df, ["  "])

    def test_regex_guard_counts_normalized_entries(self, spark):
        # 3000 raw entries, 1500 distinct after lower/strip — the
        # alternation wordlist_regex actually compiles is 1500 wide,
        # so the regex strategy must ADMIT the list
        fn, df = self._docs(spark)
        raw = [f"w{i}" for i in range(1500)] \
            + [f"W{i}" for i in range(1500)]
        out = {r["doc_id"]: r["keep"]
               for r in fn(df, raw, strategy="regex").collect()}
        assert out[0] is True
        # and >2000 distinct normalized entries still raises
        with pytest.raises(ValueError, match="2000"):
            fn(df, [f"w{i}" for i in range(2001)], strategy="regex")

    def test_join_path_has_no_cartesian_and_broadcasts(self, spark):
        fn, df = self._docs(spark)
        plan = fn(df, ["alphabad"], strategy="join") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" \
            not in plan
