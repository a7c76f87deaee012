"""Corpus-policy curation operators — PII redaction, repetition
filters, benchmark decontamination, Unicode NFC normalization.

These are the policy gates a webtext training pipeline applies after
extraction and before tokenization. Everything except NFC (which needs
the Unicode tables, one vectorized Arrow hop) is pure Catalyst — narrow
projections and one broadcast semi-join, no shape that degrades at
100 TB:

  redact_pii / pii_counts      per-row regexp, zero shuffle
  repetition_features          per-row array expressions, zero shuffle
  decontaminate                eval-set grams broadcast (eval sets are
                               KBs-to-MBs against TBs of train); one
                               partial-aggregated groupBy over only the
                               MATCHED gram rows
  normalize_nfc                one pandas UDF (same sanctioned Arrow
                               hop as the segmenter)

Analog anchoring: these generalize the reference's per-request input
policy gates (request validation and text post-filters,
/root/reference/server/ocr_handler.cpp:38-124) from one request to a
corpus-wide declarative pass.

Regex note: every pattern below is written in the Java-regex /
RE2-common subset (character classes, bounded repetition, \\b, \\d,
alternation; no backrefs or lookaround), so the DuckDB oracles run the
IDENTICAL pattern strings — the oracle checks semantics, not a
re-implementation.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dxnn_ocr_cpp_spark.operators.dedup import (word_grams,
                                                word_shingle_hashes)
from dxnn_ocr_cpp_spark.partitioning import ensure_min_partitions

# ---------- PII redaction ----------

# Ordered: IP before phone so a dotted quad is never half-eaten by the
# phone pattern. Both engines apply the same order, but the plan is to
# not depend on tie-breaks at all.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"(\(\d{3}\)[-. ]?|\d{3}[-. ])\d{3}[-. ]\d{4}", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Replace emails, IPv4 addresses, and NANP-style phone numbers
    with typed placeholder tokens. Chained regexp_replace — one narrow
    projection, whole-stage codegen, no Python."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind match counts (for audit dashboards / reject gates).
    Counted on the RAW text, in the same order-independent way the
    redaction is applied."""
    return {name: F.size(F.regexp_extract_all(text, F.lit(pat), 0))
                   .cast("int")
            for name, pat, _ in PII_PATTERNS}


# ---------- repetition / boilerplate filters (Gopher-style) ----------

# Rahman et al. thresholds adapted to word granularity (the synthetic
# corpus has no line structure): a doc is repetition-suspect when too
# much of it is the same word or the same word bigram.
DUP_WORD_FRAC_MAX = 0.60
DUP_2GRAM_FRAC_MAX = 0.40
MEAN_WORD_LEN_RANGE = (1.5, 12.0)


def repetition_features(text: Column) -> dict[str, Column]:
    """Per-doc repetition metrics as pure array expressions — zero
    shuffle, O(words) per row:

      n_words          whitespace tokens ('' -> 0)
      dup_word_frac    1 - distinct(words)/words
      dup_2gram_frac   1 - distinct(bigrams)/bigrams (0 when <2 words)
      mean_word_len    sum(len(w))/n_words

    Tokenization is the dedup-family canonical one (lower, trim,
    ws-collapse) so gram universes agree across operators."""
    w = F.split(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "), " ")
    n = F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(w))
    grams2 = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.concat(F.element_at(w, i), F.lit(" "),
                           F.element_at(w, i + 1)))
    n2 = F.when(n >= 2, F.size(w) - 1).otherwise(F.lit(0))
    total_len = F.aggregate(w, F.lit(0),
                            lambda acc, x: acc + F.length(x))
    return {
        "n_words": n.cast("int"),
        "dup_word_frac": F.when(
            n > 0, 1.0 - F.size(F.array_distinct(w)) / n.cast("double"))
            .otherwise(F.lit(0.0)),
        "dup_2gram_frac": F.when(
            n2 > 0,
            1.0 - F.size(F.array_distinct(grams2)) / n2.cast("double"))
            .otherwise(F.lit(0.0)),
        "mean_word_len": F.when(
            n > 0, total_len / n.cast("double")).otherwise(F.lit(0.0)),
    }


def with_repetition_features(df: DataFrame, text_col: str = "text",
                             keep_cols: tuple = ("doc_id",)) -> DataFrame:
    """DataFrame-level repetition gate: (keep_cols..., n_words,
    dup_word_frac, dup_2gram_frac, mean_word_len, keep).

    This is the PRODUCTION path. The Column-dict API above is fine for
    composing one or two features, but selecting all features + the
    keep-gate from it inlines the tokenize/bigram pipeline into every
    output expression — Catalyst's CollapseProject re-duplicates
    cheap-looking aliases — and the whole split/distinct chain runs
    ~10x per row (measured 14.4s -> 0.94s at sf0.1 when staged).
    Staged projections below keep each array computed ONCE per row;
    value-identical to the dict API (same oracle)."""
    w = F.split(F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " "), " ")
    s1 = df.select(*keep_cols,
                   F.when(F.trim(text_col) == "",
                          F.array().cast("array<string>"))
                    .otherwise(w).alias("__w"))
    n = F.size("__w")
    g2 = F.transform(F.sequence(F.lit(1), n - 1),
                     lambda i: F.concat(F.element_at("__w", i), F.lit(" "),
                                        F.element_at("__w", i + 1)))
    s2 = s1.select(*keep_cols, "__w",
                   F.when(n >= 2, g2)
                    .otherwise(F.array().cast("array<string>")).alias("__g2"))
    n2 = F.size("__g2")
    total_len = F.aggregate("__w", F.lit(0), lambda a, x: a + F.length(x))
    s3 = s2.select(
        *keep_cols,
        n.cast("int").alias("n_words"),
        F.when(n > 0, 1.0 - F.size(F.array_distinct("__w")) / n.cast("double"))
         .otherwise(F.lit(0.0)).alias("dup_word_frac"),
        F.when(n2 > 0,
               1.0 - F.size(F.array_distinct("__g2")) / n2.cast("double"))
         .otherwise(F.lit(0.0)).alias("dup_2gram_frac"),
        F.when(n > 0, total_len / n.cast("double"))
         .otherwise(F.lit(0.0)).alias("mean_word_len"))
    lo, hi = MEAN_WORD_LEN_RANGE
    return s3.withColumn(
        "keep",
        (F.col("dup_word_frac") <= DUP_WORD_FRAC_MAX)
        & (F.col("dup_2gram_frac") <= DUP_2GRAM_FRAC_MAX)
        & (F.col("mean_word_len") >= lo) & (F.col("mean_word_len") <= hi))


def repetition_ok(feats: dict[str, Column]) -> Column:
    """The keep-gate: inside every threshold. Empty docs fail on
    mean_word_len (0 < 1.5) — they are rejected upstream anyway."""
    lo, hi = MEAN_WORD_LEN_RANGE
    return ((feats["dup_word_frac"] <= DUP_WORD_FRAC_MAX)
            & (feats["dup_2gram_frac"] <= DUP_2GRAM_FRAC_MAX)
            & (feats["mean_word_len"] >= lo)
            & (feats["mean_word_len"] <= hi))


# ---------- Gopher line/paragraph rules (Rae et al. 2021, A1) ----------
#
# The line-structure half of the Gopher repetition battery — the
# word/bigram half lives in repetition_features above. All thresholds
# are the published Gopher values where one exists.

DUP_LINE_FRAC_MAX = 0.30
DUP_PARA_FRAC_MAX = 0.30
DUP_LINE_CHAR_FRAC_MAX = 0.20
BULLET_LINE_FRAC_MAX = 0.90
ELLIPSIS_LINE_FRAC_MAX = 0.30
ALPHA_WORD_FRAC_MIN = 0.80
MIN_STOPWORDS = 2

BULLET_RE = r"^[-*•·]"          # -, *, •, · line leads
ELLIPSIS_RE = r"(\.\.\.|…)$"          # ... or … line tails
ALPHA_WORD_RE = r"[A-Za-z]"


def gopher_line_features(df: DataFrame, text_col: str = "text",
                         keep_cols: tuple = ("doc_id",)) -> DataFrame:
    """(keep_cols..., n_lines, dup_line_frac, dup_para_frac,
    dup_line_char_frac, bullet_line_frac, ellipsis_line_frac,
    alpha_word_frac, n_stopwords, keep) — the Gopher line-structure
    quality battery as pure array expressions, zero shuffle.

    Lines split on single newlines, paragraphs on blank lines; both
    trimmed with empties dropped (layout, not content). The
    duplicate-line CHAR fraction needs per-line occurrence counts, a
    nested filter per element — O(lines²) per doc, bounded in practice
    (lines per page ~10²; it is per-row CPU, never a shuffle).

    Staged projections (the with_repetition_features lesson: selecting
    many features off one shared array expression makes Catalyst
    re-inline the split chain per output column — stage the arrays
    once, measured ~10x)."""
    from .textstats import STOPWORDS_EN, _marker_regex

    def _split_trim(pat: str):
        parts = F.transform(F.split(F.col(text_col), pat),
                            lambda x: F.trim(x))
        return F.filter(parts, lambda x: x != "")

    w = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                                 r"\s+", " "), " ")
    s1 = df.select(
        *keep_cols,
        _split_trim(r"\n").alias("__ln"),
        _split_trim(r"\n{2,}").alias("__pa"),
        F.when(F.trim(F.col(text_col)) == "",
               F.array().cast("array<string>")).otherwise(w).alias("__w"),
        F.size(F.regexp_extract_all(
            F.lower(F.col(text_col)),
            F.lit(_marker_regex(STOPWORDS_EN)), F.lit(0)))
        .cast("int").alias("n_stopwords"))

    ln, pa, wds = F.col("__ln"), F.col("__pa"), F.col("__w")
    n_ln = F.size(ln)
    n_pa = F.size(pa)
    n_w = F.size(wds)
    total_chars = F.aggregate(ln, F.lit(0), lambda a, x: a + F.length(x))
    dup_chars = F.aggregate(
        ln, F.lit(0),
        lambda a, x: a + F.when(
            F.size(F.filter(ln, lambda y: y == x)) > 1,
            F.length(x)).otherwise(F.lit(0)))

    def _frac(num, den):
        return F.when(den > 0, num / den.cast("double")).otherwise(F.lit(0.0))

    s2 = s1.select(
        *keep_cols, "n_stopwords",
        n_ln.cast("int").alias("n_lines"),
        _frac(n_ln - F.size(F.array_distinct(ln)), n_ln)
        .alias("dup_line_frac"),
        _frac(n_pa - F.size(F.array_distinct(pa)), n_pa)
        .alias("dup_para_frac"),
        _frac(dup_chars, total_chars).alias("dup_line_char_frac"),
        _frac(F.size(F.filter(ln, lambda x: x.rlike(BULLET_RE))), n_ln)
        .alias("bullet_line_frac"),
        _frac(F.size(F.filter(ln, lambda x: x.rlike(ELLIPSIS_RE))), n_ln)
        .alias("ellipsis_line_frac"),
        _frac(F.size(F.filter(wds, lambda x: x.rlike(ALPHA_WORD_RE))), n_w)
        .alias("alpha_word_frac"))
    return s2.withColumn(
        "keep",
        (F.col("dup_line_frac") <= DUP_LINE_FRAC_MAX)
        & (F.col("dup_para_frac") <= DUP_PARA_FRAC_MAX)
        & (F.col("dup_line_char_frac") <= DUP_LINE_CHAR_FRAC_MAX)
        & (F.col("bullet_line_frac") <= BULLET_LINE_FRAC_MAX)
        & (F.col("ellipsis_line_frac") <= ELLIPSIS_LINE_FRAC_MAX)
        & (F.col("alpha_word_frac") >= ALPHA_WORD_FRAC_MIN)
        & (F.col("n_stopwords") >= MIN_STOPWORDS))


# ---------- C4 line/page rules (Raffel et al. 2020 §2.2) ----------

C4_MIN_WORDS_PER_LINE = 5
C4_MIN_SENTENCES = 3
# line must END in terminal punctuation (period/!/?/closing quote)
C4_TERMINAL_RE = r'[.!?"]$'
# sentence proxy: terminal marks in the KEPT text (C4's "fewer than
# 3 sentences" gate, applied after line filtering)
C4_SENT_RE = r"[.!?]"
C4_JAVASCRIPT_RE = r"(?i)javascript"      # line-level drop
C4_LOREM_RE = r"(?i)lorem ipsum"          # page-level drop
C4_BRACE = "{"                            # page-level drop (code leak)


def c4_line_filters(df: DataFrame, text_col: str = "text",
                    keep_cols: tuple = ("doc_id",)) -> DataFrame:
    """(keep_cols..., n_lines, n_lines_kept, n_sentences, clean_text,
    keep) — the C4 cleaning battery as pure array expressions, ZERO
    SHUFFLE, zero Python.

    Line rules (each line trimmed, empties dropped as layout):
      * ends in terminal punctuation (C4_TERMINAL_RE)
      * at least C4_MIN_WORDS_PER_LINE whitespace words
      * does not mention javascript (case-insensitive)
    Page rules (over the ORIGINAL text, per the paper):
      * no 'lorem ipsum', no '{'
      * kept text has >= C4_MIN_SENTENCES sentence marks
    clean_text is the kept lines joined with newline — the page body a
    downstream tokenizer would consume."""
    lines = F.filter(
        F.transform(F.split(F.col(text_col), r"\n"), lambda x: F.trim(x)),
        lambda x: x != "")
    s1 = df.select(*keep_cols, F.col(text_col).alias("__t"),
                   lines.alias("__ln"))
    kept = F.filter(
        F.col("__ln"),
        lambda x: x.rlike(C4_TERMINAL_RE)
        & (F.size(F.split(x, r"\s+")) >= C4_MIN_WORDS_PER_LINE)
        & ~x.rlike(C4_JAVASCRIPT_RE))
    s2 = s1.select(*keep_cols, "__t",
                   F.size("__ln").cast("long").alias("n_lines"),
                   kept.alias("__kept"))
    clean = F.array_join("__kept", "\n")
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(C4_SENT_RE),
                                         F.lit(0))).cast("long")
    s3 = s2.select(*keep_cols, "n_lines",
                   F.size("__kept").cast("long").alias("n_lines_kept"),
                   n_sent.alias("n_sentences"),
                   clean.alias("clean_text"),
                   (~F.col("__t").rlike(C4_LOREM_RE)
                    & ~F.col("__t").contains(C4_BRACE)).alias("__page_ok"))
    return s3.withColumn(
        "keep",
        F.col("__page_ok")
        & (F.col("n_sentences") >= C4_MIN_SENTENCES)).drop("__page_ok")


# ---------- C4 'bad words' page gate (wordlist filter) ----------

def wordlist_regex(words) -> str:
    """Word-boundary alternation over literal words/phrases, longest
    first (so a phrase entry wins over a single-word prefix of it),
    lowercase input assumed — the _marker_regex discipline, shared
    verbatim with the DuckDB oracle so the two engines can never
    drift. \\b and the escaping subset used here mean the same thing
    in Java regex and RE2 (ASCII word chars)."""
    import re as _re
    ws = sorted({w.lower().strip() for w in words if w.strip()},
                key=lambda w: (-len(w), w))
    if not ws:
        raise ValueError("wordlist_regex: empty word list")
    return r"\b(?:" + "|".join(_re.escape(w) for w in ws) + r")\b"


def wordlist_page_filter(df: DataFrame, words,
                         text_col: str = "text",
                         keep_cols: tuple = ("doc_id",),
                         strategy: str = "regex") -> DataFrame:
    """(keep_cols..., n_flagged, keep) — C4 §2.2's 'bad words' page
    gate: keep = no blocklisted word occurs in the page (case-
    insensitive, word-boundary; phrase entries match literal word
    sequences). The curated list itself is OPERATOR-SUPPLIED (C4 uses
    the public 'LDNOOBW' list) — deliberately not embedded here.

    strategy — two equal-output physical plans (equality pinned in
    tests/test_curation.py):
      regex  ONE compiled alternation evaluated in the scan stage —
             zero shuffle, zero Python. Right for curated lists
             (C4's is ~400 entries); pattern size grows with the
             list, so this path guards at 2000 entries.
      join   explode whitespace-free tokens + broadcast join against
             the list, partial-aggregated count — the 100-TB shape
             for very large lists (a million-entry list is a few MB
             broadcast; alternation regexes degrade long before
             that). Single-word entries only: phrases cannot be seen
             by a per-token join, so they raise here rather than
             silently not matching.

    n_flagged counts every occurrence (not distinct words), matching
    the regex scan's non-overlapping left-to-right count in both
    strategies (token split on ASCII \\W+ = the complement of \\b's
    word chars)."""
    if strategy not in ("regex", "join"):
        raise ValueError(f"strategy must be regex|join, got {strategy}")
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    if strategy == "regex":
        # guard on the NORMALIZED set — wordlist_regex dedups
        # case-insensitively, so the alternation's actual size is the
        # normalized count, not the raw entry count
        if len({w.lower().strip() for w in words if w.strip()}) > 2000:
            raise ValueError(
                "wordlist_page_filter: >2000 entries — alternation "
                "regex degrades; use strategy='join'")
        pat = wordlist_regex(words)
        hits = F.regexp_extract_all(low, F.lit(pat), F.lit(0))
        return df.select(
            *keep_cols,
            F.size(hits).cast("long").alias("n_flagged")) \
            .withColumn("keep", F.col("n_flagged") == 0)
    ws = {w.lower().strip() for w in words if w.strip()}
    if not ws:
        raise ValueError("wordlist_page_filter: empty word list")
    # any entry containing a non-word char can never equal a token
    # split on \W+ — not just phrases: 'bad-word', "don't", 'sex.com'
    # all silently never match under the join plan while the regex
    # plan matches them via \b boundaries, so the 'two equal-output
    # physical plans' contract demands rejecting them loudly here.
    # re.ASCII: the Spark split is Java's ASCII \W+, which cuts 'café'
    # at the 'é' — Python's Unicode \W would wave it through
    import re as _re
    nonword = [w for w in sorted(ws) if _re.search(r"\W", w, _re.ASCII)]
    if nonword:
        raise ValueError(
            f"strategy='join' cannot match entries with non-word "
            f"chars {nonword[:3]} — use strategy='regex' or split "
            f"the list")
    spark = df.sparkSession
    wl = F.broadcast(spark.createDataFrame(
        [(w,) for w in sorted(ws)], "__w string"))
    toks = df.select(*keep_cols,
                     F.explode_outer(
                         F.filter(F.split(low, r"\W+"),
                                  lambda x: x != "")).alias("__w"))
    flagged = (toks.join(wl.withColumn("__hit", F.lit(1)), "__w", "left")
               .groupBy(*keep_cols)
               .agg(F.count("__hit").cast("long").alias("n_flagged")))
    return flagged.withColumn("keep", F.col("n_flagged") == 0)


# ---------- benchmark decontamination ----------

def _exploded_grams(df: DataFrame, id_col: str, text_col: str,
                    n: int, gram_family: str) -> DataFrame:
    """(id, g) inverted-index rows in ONE mapInPandas hop with the 1->N
    expansion done Python-side (np.repeat) — the same shape as
    textstats.exploded_hash_rows, for the same two reasons: (a)
    `F.explode(pandas_udf(...))` plans a dead duplicate ArrowEvalPython
    (the UDF runs twice), and (b) the Catalyst word_grams expression is
    O(words^2) per doc (slice+array_join per position) — measured 4x
    slower than the O(words) Python set-build at sf0.1."""
    import numpy as np

    from dxnn_ocr_cpp_spark.operators.dedup import _gram_hashes, _tokenize

    def gram_strings(s):
        # the exact gram universe of dedup.word_grams (same tokenize,
        # same short-doc fallback) — pinned in tests/test_curation.py
        if s is None:
            return []
        w = _tokenize(s)
        if len(w) >= n:
            return list({" ".join(w[i:i + n])
                         for i in range(len(w) - n + 1)})
        return [" ".join(w)]

    is_hash = gram_family != "grams"

    def gen(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if is_hash:
                hs = [_gram_hashes(t, n) for t in pdf[text_col]]
            else:
                hs = [gram_strings(t) for t in pdf[text_col]]
            lens = np.fromiter((len(h) for h in hs), np.int64, len(hs))
            if lens.sum():
                g = (np.concatenate([h for h in hs if len(h)])
                     if is_hash else
                     [x for h in hs for x in h])
            else:
                g = np.empty(0, np.int64) if is_hash else []
            yield pd.DataFrame({"id": np.repeat(ids, lens), "g": g})

    src = ensure_min_partitions(df.select(id_col, text_col))
    return src.mapInPandas(
        gen, schema=f"id long, g {'long' if is_hash else 'string'}")


def decontaminate(train: DataFrame, evalset: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, min_common: int = 2,
                  gram_family: str = "blake2b",
                  prefilter: str = "none",
                  expected_eval_grams: int = 1_000_000) -> DataFrame:
    """Flag training docs that share >= min_common distinct word
    n-grams with ANY doc of a benchmark/eval set (the decontamination
    pass every LLM data pipeline runs before training).

    Scale shape: the eval side is always tiny relative to train (KBs of
    benchmarks vs TBs of web text), so its distinct gram set is
    broadcast — the train side is ONE explode + broadcast-hash semi
    join; only MATCHED gram rows reach the per-doc count aggregation
    (partial map-side combine), so the single shuffle carries the
    overlap, not the corpus. No sort-merge join, no cartesian (plan
    pinned in tests/test_curation.py).

    gram_family "blake2b" is the production path (8-byte shingle
    hashes on the wire); "grams" joins on the gram STRINGS themselves
    (same token universe), which is what lets the DuckDB oracle replay
    the operator bit-for-bit.

    prefilter "bloom" inserts a Bloom-filter pass BEFORE the exact
    broadcast join. Spark's built-in bloom_filter_agg/might_contain
    pair is internal-only (not in the function registry), so the
    filter is built from public primitives: k=3 seeded xxhash64
    positions per eval gram, OR-folded into 64-bit words with one
    bit_or aggregation — the whole eval gram set collapses to a
    (word, bits) table of n_bits/64 long-pairs (~2.5 bytes/item at
    the default 10 bits/item; a 100M-gram eval suite broadcasts as
    ~250 MB of bitmap instead of GBs of gram strings). The train side
    probes it with k chained broadcast-hash joins + getbit() — all
    executor-side, zero extra shuffle. Survivors — true matches plus
    the filter's ~2% false positives — still go through the IDENTICAL
    exact broadcast join, so the output is bit-equal to prefilter
    "none" (pinned in tests/test_curation.py); the bloom pass is
    purely a broadcast-bytes/CPU trade for web-scale eval suites.
    Output-identity also means the DuckDB oracle stays valid for
    either setting.

    Returns (id_col, n_shared) for contaminated docs only.
    """
    if prefilter not in ("none", "bloom"):
        raise ValueError(f"prefilter must be none|bloom, got {prefilter}")
    ev = (_exploded_grams(evalset, id_col, text_col, n, gram_family)
          .select("g").distinct())
    tr = (_exploded_grams(train, id_col, text_col, n, gram_family)
          .withColumnRenamed("id", id_col))
    if prefilter == "bloom":
        n_items = max(int(expected_eval_grams), 1)
        n_bits = n_items * 10  # k=3 hashes at 10 bits/item -> ~1.7% fp
        k = 3

        def pos(i: int) -> Column:
            # k independent hash positions: xxhash64 seeded by mixing
            # in the hash index; pmod keeps them in [0, n_bits)
            return F.pmod(F.xxhash64("g", F.lit(i)), F.lit(n_bits))

        word_bits = (
            ev.select(F.explode(F.array(*[pos(i) for i in range(k)]))
                      .alias("p"))
            .select(F.shiftright("p", 6).alias("w"),
                    # pyspark's shiftleft() only takes a literal shift,
                    # so the column-shift goes through SQL
                    F.expr("shiftleft(1L, int(p % 64))").alias("m"))
            .groupBy("w").agg(F.bit_or("m").alias("bits")))
        for i in range(k):
            side = word_bits.select(F.col("w").alias(f"_w{i}"),
                                    F.col("bits").alias(f"_bits{i}"))
            tr = (tr.withColumn(f"_w{i}", F.shiftright(pos(i), 6))
                  .withColumn(f"_b{i}", (pos(i) % 64).cast("int"))
                  # inner join: a gram whose word has no bits at all
                  # cannot be in the filter, so dropping it is correct
                  .join(F.broadcast(side), f"_w{i}")
                  .where(F.expr(f"getbit(_bits{i}, _b{i}) = 1"))
                  .drop(f"_w{i}", f"_b{i}", f"_bits{i}"))
    return (tr.join(F.broadcast(ev), "g")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= min_common))


# ---------- Unicode NFC normalization ----------

@F.pandas_udf(T.StringType())
def _nfc_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(
        [None if s is None else unicodedata.normalize("NFC", s)
         for s in texts])


def normalize_nfc(text: Column) -> Column:
    """Unicode NFC canonical composition (e + U+0301 -> é). Spark has
    no built-in normalizer, so this is one vectorized Arrow hop — the
    same sanctioned UDF shape as the segmenter; DuckDB's nfc_normalize
    provides an independent oracle. Idempotent; None-safe."""
    return _nfc_udf(text)


# ---------- line-level boilerplate dedup (CCNet-style) ----------

def remove_boilerplate_lines(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text",
                             min_df: int = 5,
                             keep_frac_below: float | None = None,
                             max_line_df_cap: int = 100_000) -> DataFrame:
    """Drop lines that repeat across many documents (cookie banners,
    nav footers, legal boilerplate) and reassemble each document from
    its surviving lines in original order — the line-wise dedup step
    of CCNet / RefinedWeb, applied corpus-wide.

    A line is boilerplate when its document frequency (distinct docs
    containing the trimmed line) >= min_df, or — when keep_frac_below
    is set — when df/n_docs >= keep_frac_below. Blank lines are never
    counted as boilerplate (they carry layout, not content) and are
    always kept in place.

    Scale shape (10^12 docs):
      explode lines      narrow (posexplode, no shuffle)
      df count           ONE groupBy on md5(line) with partial
                         aggregation; count capped at max_line_df_cap
                         via least() AFTER full aggregation — the cap
                         bounds nothing here at small scale but keeps
                         the downstream broadcast decision honest when
                         a line appears in billions of docs
      classify           shuffle join lines ⋈ df table on the line
                         hash — both sides hash-partition on the same
                         key, so AQE plans it without a second
                         exchange of the big side
      reassemble         ONE groupBy on doc id: collect surviving
                         (pos, line) structs, array_sort, array_join
    Never O(n²); every aggregation is partial (map-side combine).

    Returns (id_col, text_clean, n_lines, n_dropped).

    Reference analog: the per-request text post-filters
    (/root/reference/server/ocr_handler.cpp:96-124) generalized from
    one request's spans to a corpus-wide statistical gate.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    keyed = lines.withColumn("lkey", F.md5(F.trim(F.col("line"))))
    nonblank = keyed.filter(F.trim(F.col("line")) != "")
    # resolve the boilerplate threshold FIRST: the df cap must never
    # sit below it, or lines whose true df crosses the threshold would
    # saturate at the cap and silently stop classifying as boilerplate
    # (dead zone once threshold > cap — e.g. frac mode on a corpus
    # where keep_frac_below * n_docs exceeds 100k)
    if keep_frac_below is not None:
        n_docs = df.select(F.count_distinct(F.col(id_col))).collect()[0][0]
        threshold = float(keep_frac_below) * n_docs
    else:
        threshold = float(min_df)
    cap = max(int(max_line_df_cap), int(threshold) + 1)
    dfreq = (nonblank.groupBy("lkey")
             .agg(F.least(
                 F.count_distinct(F.col(id_col)).cast("long"),
                 F.lit(cap).cast("long")).alias("line_df")))
    boiler = dfreq.filter(F.col("line_df") >= F.lit(threshold))
    classified = keyed.join(boiler.select("lkey"), "lkey", "left_anti")
    survivors = (classified
                 .groupBy(id_col)
                 .agg(F.array_sort(F.collect_list(
                          F.struct("pos", "line"))).alias("kept"),
                      F.count(F.lit(1)).cast("long").alias("n_kept")))
    totals = (lines.groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_lines")))
    return (totals.join(survivors, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(
                        F.array_join(F.transform(
                            "kept", lambda s: s["line"]), "\n"),
                        F.lit("")).alias("text_clean"),
                    F.col("n_lines"),
                    (F.col("n_lines") - F.coalesce(F.col("n_kept"),
                                                   F.lit(0))
                     ).cast("long").alias("n_dropped")))


def remove_host_template_lines(df: DataFrame, id_col: str = "doc_id",
                               host_col: str = "host",
                               text_col: str = "text",
                               min_df: int | None = None,
                               min_frac: float | None = 0.5,
                               df_floor: int = 2) -> DataFrame:
    """Host-scoped template removal: drop lines that repeat across
    many pages OF THE SAME HOST (site navigation, per-site footers,
    category sidebars) and reassemble each page from its surviving
    lines in order. The host-scoped companion of
    remove_boilerplate_lines — corpus-wide frequency catches global
    boilerplate ("Accept cookies"), but a site template repeated on
    every page of one blog never crosses a corpus-wide threshold at
    web scale, while within its host its document frequency is ~1.0.
    This is the CCNet/trafilatura "site template" gate.

    A line is template when, within its host, its document frequency
    (distinct pages containing the trimmed line) >= min_df, or — frac
    mode, the default — df >= max(df_floor, min_frac * host_pages).
    Exactly one of min_df/min_frac must be set. The df_floor guard
    matters on tiny hosts: without it a 2-page host at min_frac=0.5
    would classify every SINGLETON line (df=1 >= 0.5*2) as template
    and erase the pages — a line seen on one page is never a
    template. Blank lines are never counted and are always kept in
    place.

    Scale shape (10^12 docs):
      host pages         ONE groupBy on host (partial agg; output is
                         one row per host — the hosts table, tiny
                         relative to pages)
      explode lines      narrow (posexplode, no shuffle)
      df count           ONE groupBy on (host, md5(line)) with partial
                         aggregation. No df cap needed here, unlike
                         the corpus-wide gate: per-host df is bounded
                         by the host's own page count, so no single
                         key can reach corpus scale
      classify           shuffle join lines ⋈ template table on
                         (host, lkey) — both sides hash-partition on
                         the same key. Hot hosts skew this join; AQE
                         skew-join splits them (the key carries the
                         host, so salting upstream also composes)
      reassemble         ONE groupBy on page id: array_sort +
                         array_join
    Never O(n²); every aggregation is partial.

    Returns (id_col, host_col, text_clean, n_lines, n_dropped).

    Reference analog: the per-request text post-filters
    (/root/reference/server/ocr_handler.cpp:96-124) generalized to a
    per-site statistical gate.
    """
    if (min_df is None) == (min_frac is None):
        raise ValueError("set exactly one of min_df / min_frac")
    base = df.select(F.col(id_col), F.col(host_col), F.col(text_col))
    lines = base.select(
        F.col(id_col), F.col(host_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"))
    keyed = lines.withColumn("lkey", F.md5(F.trim(F.col("line"))))
    nonblank = keyed.filter(F.trim(F.col("line")) != "")
    dfreq = (nonblank.groupBy(host_col, "lkey")
             .agg(F.count_distinct(F.col(id_col)).cast("long")
                  .alias("line_df")))
    if min_df is not None:
        template = dfreq.filter(F.col("line_df") >= F.lit(int(min_df)))
    else:
        host_pages = (base.groupBy(host_col)
                      .agg(F.count_distinct(F.col(id_col)).cast("long")
                           .alias("host_pages")))
        template = (dfreq.join(host_pages, host_col)
                    .filter(F.col("line_df")
                            >= F.greatest(
                                F.lit(float(df_floor)),
                                F.lit(float(min_frac))
                                * F.col("host_pages"))))
    classified = keyed.join(template.select(host_col, "lkey"),
                            [host_col, "lkey"], "left_anti")
    survivors = (classified
                 .groupBy(id_col)
                 .agg(F.array_sort(F.collect_list(
                          F.struct("pos", "line"))).alias("kept"),
                      F.count(F.lit(1)).cast("long").alias("n_kept")))
    totals = (lines.groupBy(id_col, host_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_lines")))
    return (totals.join(survivors, id_col, "left")
            .select(F.col(id_col), F.col(host_col),
                    F.coalesce(
                        F.array_join(F.transform(
                            "kept", lambda s: s["line"]), "\n"),
                        F.lit("")).alias("text_clean"),
                    F.col("n_lines"),
                    (F.col("n_lines") - F.coalesce(F.col("n_kept"),
                                                   F.lit(0))
                     ).cast("long").alias("n_dropped")))


def dedup_paragraphs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Corpus-wide paragraph dedup, first occurrence wins: every
    paragraph that appears anywhere else in the corpus (or earlier in
    the same document) is dropped, and each document is reassembled
    from its surviving paragraphs in original order — the
    paragraph-level companion of remove_boilerplate_lines (CCNet /
    C4 dedupe at paragraph granularity rather than frequency-gated
    line granularity).

    "First occurrence" is the (id, pos)-lexicographically smallest
    instance of the trimmed paragraph's hash, so the keep decision is
    deterministic and independent of partitioning. Blank paragraphs
    (runs of >2 newlines produce empty splits) carry layout, not
    content, and are always kept in place.

    Scale shape (10^12 docs):
      explode paragraphs   narrow (posexplode over split, no shuffle)
      first-winner         ONE groupBy on md5(para) computing
                           min(struct(id, pos)) — partial aggregation,
                           result is one row per DISTINCT paragraph
      classify             shuffle join occurrences ⋈ winners on the
                           paragraph hash; both sides partition on the
                           same key, no second exchange of the big side
      reassemble           ONE groupBy on doc id: array_sort +
                           array_join (same shape as line dedup)
    Never O(n²); no window over an unbounded group.

    Returns (id_col, text_dedup, n_paras, n_dropped).

    Reference analog: the per-request consecutive-duplicate collapse
    (/root/reference/src/decoders.cc CTC dedupe step) lifted from one
    sequence's adjacent tokens to corpus-wide paragraph identity.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n\n")).alias("pos", "para"))
    keyed = paras.withColumn("pkey", F.md5(F.trim(F.col("para"))))
    nonblank = keyed.filter(F.trim(F.col("para")) != "")
    winners = (nonblank.groupBy("pkey")
               .agg(F.min(F.struct(
                   F.col(id_col).alias("id"),
                   F.col("pos").alias("pos"))).alias("first")))
    classified = (keyed.join(winners, "pkey", "left")
                  .filter((F.trim(F.col("para")) == "")
                          | ((F.col("first.id") == F.col(id_col))
                             & (F.col("first.pos") == F.col("pos")))))
    survivors = (classified
                 .groupBy(id_col)
                 .agg(F.array_sort(F.collect_list(
                          F.struct("pos", "para"))).alias("kept"),
                      F.count(F.lit(1)).cast("long").alias("n_kept")))
    totals = (paras.groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_paras")))
    return (totals.join(survivors, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(
                        F.array_join(F.transform(
                            "kept", lambda s: s["para"]), "\n\n"),
                        F.lit("")).alias("text_dedup"),
                    F.col("n_paras"),
                    (F.col("n_paras") - F.coalesce(F.col("n_kept"),
                                                   F.lit(0))
                     ).cast("long").alias("n_dropped")))


# ---------- mojibake repair (ftfy-class double-encoding fix) ----------

# A UTF-8 byte sequence read back as Latin-1 shows a lead-byte char
# (U+00C2..U+00F4) immediately followed by a continuation-byte char
# (U+0080..U+00BF) — the precise bigram signature of mojibake. A plain
# accented word ('caf\u00e9') never matches: its non-ASCII chars are
# not followed by continuation-range chars.
MOJIBAKE_SIG_RE = "[\u00C2-\u00F4][\u0080-\u00BF]"
_NON_LATIN1_RE = "[^\u0000-\u00FF]"


def fix_mojibake(df: DataFrame, text_col: str = "text",
                 out_col: str = "fixed") -> DataFrame:
    """Repair the dominant web mojibake class — UTF-8 bytes that were
    decoded as Latin-1 somewhere upstream ('\u00e9' shown as
    '\u00c3\u00a9', '\u20ac' as '\u00e2\u0082\u00ac') — by
    inverting the mis-decode: re-encode the characters as Latin-1 and
    decode the bytes as UTF-8. Pure Catalyst (JVM `encode`/`decode`),
    zero Python, zero shuffle.

    Three per-row gates keep the inverse total and false-positive-safe:
      1. the text matches MOJIBAKE_SIG_RE (lead+continuation bigram);
      2. every char is in the Latin-1 range (else the re-encode is not
         byte-faithful — genuine CJK/emoji text is never touched);
      3. is_valid_utf8 over the re-encoded bytes (the candidate bytes
         were not actually valid UTF-8 — e.g. a lone '\u00c3' in
         clean text — so the decode would not be a true inverse).
    Rows failing any gate pass through unchanged; `<out_col>_applied`
    records which rows were repaired (null text -> false, never null).
    One pass fixes single double-encoding; run twice for the rarer
    triple-encoded class.

    Totality under Spark 4's strict codingErrorAction: gate 2 makes
    the Latin-1 encode infallible (every char <= U+00FF maps), gate 3
    makes the UTF-8 decode infallible (bytes pre-validated), and both
    sit inside CaseWhen branches that only evaluate where their gates
    hold — no session conf is touched (an earlier version set
    spark.sql.legacy.codingErrorAction session-wide as a hidden side
    effect, silently downgrading every other encode/decode in the
    session to '?'-substitution).

    Reference analog: the charset sniff + re-decode branch of input
    normalization (P1/P9, htmlseg.decode_html; the reference
    normalizes inputs before any stage sees them,
    /root/reference/src/preprocessing/image_ops.cpp).
    """
    c = F.col(text_col)
    candidate = (c.rlike(MOJIBAKE_SIG_RE)
                 & ~c.rlike(_NON_LATIN1_RE))
    # nested lazy CaseWhen: the encode only runs where gate 2 holds
    # (infallible there: all chars <= U+00FF), the decode only where
    # is_valid_utf8 passed (infallible there) — total under strict
    # codingErrorAction with no session-conf side effect
    ok = F.when(candidate,
                F.is_valid_utf8(F.encode(c, "ISO-8859-1"))) \
        .otherwise(F.lit(False))
    repaired = F.when(ok, F.decode(F.encode(c, "ISO-8859-1"), "UTF-8")) \
        .otherwise(c)
    applied = F.coalesce(repaired != c, F.lit(False))
    return (df.withColumn(out_col, repaired)
              .withColumn(f"{out_col}_applied", applied))


# ---------- host-level quality prior ----------

def host_quality_prior(df: DataFrame, host_col: str = "host",
                       score_col: str = "quality_score",
                       m: int = 20, micro: int = 1_000_000
                       ) -> DataFrame:
    """Bayesian-smoothed host reputation from per-doc quality scores —
    the host-level prior web curation pipelines mix into per-doc
    gates (a page on a consistently good host survives a borderline
    score; one on a spam farm doesn't). Shrinks small hosts toward
    the corpus mean: prior = (sum + m*mean) / (n + m), the standard
    additive-smoothing estimator with pseudo-count m.

    Exactness discipline (dsir.py micro-nat rule): per-doc scores are
    quantized to integer micro-units BEFORE any aggregation, so both
    the per-host and the global sums are order-independent integer
    arithmetic; the only float ops are the final two divisions,
    identical in op order in the DuckDB twin.

    Scale shape: ONE partial-aggregated groupBy(host) (host-sized
    output, ~10^8 rows at web scale vs 10^12 docs — the
    linkgraph.host_pagerank argument), then a 1-row global aggregate
    broadcast back via crossJoin. Zero windows, zero Python.
    Returns (host, n_docs, sum_q_micro, prior)."""
    q_micro = F.round(F.col(score_col) * micro, 0).cast("long")
    # host-sized; localCheckpoint (lazy) pins it so the global
    # aggregate below reuses the ONE corpus pass instead of Catalyst
    # duplicating the whole groupBy subtree (= a second corpus scan)
    per_host = (df.groupBy(F.col(host_col).alias("host"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                     F.sum(q_micro).cast("long").alias("sum_q_micro"))
                .localCheckpoint(eager=False))
    glob = per_host.agg(F.sum("n_docs").cast("long").alias("_gn"),
                        F.sum("sum_q_micro").cast("long").alias("_gs"))
    prior = F.round(
        (F.col("sum_q_micro") + m * (F.col("_gs") / F.col("_gn")))
        / (F.col("n_docs") + m) / micro, 6)
    return (per_host.crossJoin(F.broadcast(glob))
            .select("host", "n_docs", "sum_q_micro",
                    prior.alias("prior")))


def with_host_prior(df: DataFrame, priors: DataFrame,
                    host_col: str = "host") -> DataFrame:
    """Join the host prior back onto the corpus as a per-doc feature:
    priors is host-sized -> BROADCAST, corpus never shuffles. Hosts
    absent from the prior table (new hosts mid-crawl) read NULL —
    callers decide the cold-start policy, we don't invent one."""
    p = priors.select(F.col("host").alias("_ph"), "prior")
    return (df.join(F.broadcast(p), df[host_col] == F.col("_ph"),
                    "left")
            .drop("_ph"))


# ---------- drop-reason funnel (curation audit) ----------

def drop_reasons(df: DataFrame, gates, keep_label: str = "kept",
                 out_col: str = "drop_reason") -> DataFrame:
    """Per-row filter attribution: `out_col` names the FIRST failing
    gate, or `keep_label` if every gate passes — the funnel report
    every production curation pipeline ships next to its keep-list
    (what fraction died where; a gate suddenly eating 40% of the
    corpus is the on-call page).

    gates: ordered (label, keep_predicate Column) pairs — pipeline
    order IS the attribution order, exactly the short-circuit a
    sequential filter chain would apply. Predicates are made total
    with coalesce(pred, False): a NULL predicate (null text reaching
    a comparison) attributes the row to that gate instead of leaking
    a NULL reason (ADVICE r2 fixed_applied lesson).

    Scale shape: pure column logic over whatever the predicates cost —
    this adds zero shuffles of its own; window-backed predicates (e.g.
    dedup survivorship) keep their own exchange. One when-chain, one
    output column; replayable as an identical SQL CASE chain.
    """
    reason = None
    for label, pred in gates:
        failed = ~F.coalesce(pred, F.lit(False))
        reason = (F.when(failed, F.lit(label)) if reason is None
                  else reason.when(failed, F.lit(label)))
    reason = (F.lit(keep_label) if reason is None
              else reason.otherwise(F.lit(keep_label)))
    return df.withColumn(out_col, reason)


def funnel_report(df: DataFrame,
                  reason_col: str = "drop_reason") -> DataFrame:
    """(drop_reason, n) rollup of a drop_reasons() result — the
    monitoring view (partial-aggregated groupBy over a handful of
    distinct labels; snapshots.diff_summary discipline)."""
    return (df.groupBy(reason_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n")))
