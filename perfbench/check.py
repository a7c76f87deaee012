"""Output checks run on every benchmark pass.

Two checks, both counted per url into the run's `failed` set:
  * whole-output summary: row count, distinct urls and the order-free
    digest bit_xor(xxhash64(url, text)) must match the reference pass;
    on a mismatch the differing urls are found by a join;
  * reference sample: the text of a fixed, seeded set of urls must equal
    pipeline.extract_python computed in-process from the staged html.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Summary:
    rows: int
    urls: int
    digest: int


def summarize(df) -> Summary:
    """One job: rows, distinct urls and the (url, text) digest."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("rows"),
               F.countDistinct("url").alias("urls"),
               F.expr("bit_xor(xxhash64(url, text))").alias("digest")).first()
    return Summary(int(r["rows"]), int(r["urls"]), int(r["digest"] or 0))


def diff_urls(expected, got) -> set[str]:
    """Urls missing from either side, duplicated, or with different text."""
    from pyspark.sql import functions as F

    e = expected.groupBy("url").agg(F.count(F.lit(1)).alias("n_e"),
                                    F.first("text").alias("t_e"))
    g = got.groupBy("url").agg(F.count(F.lit(1)).alias("n_g"),
                               F.first("text").alias("t_g"))
    bad = (e.join(g, "url", "full_outer")
           .where(F.col("n_e").isNull() | F.col("n_g").isNull()
                  | (F.col("n_e") != 1) | (F.col("n_g") != 1)
                  | ~F.col("t_e").eqNullSafe(F.col("t_g"))))
    return {r["url"] for r in bad.select("url").collect()}


def compare_texts(expected: dict[str, str], got: dict[str, str]) -> set[str]:
    """Urls of `expected` that are missing from `got` or differ."""
    return {u for u, t in expected.items() if got.get(u) != t}


def reference_texts(rows) -> dict[str, str]:
    """extract_python text for (url, html) rows."""
    from dxnn_ocr_cpp_spark.pipeline import extract_python

    return {r["url"]: extract_python(r["url"], r["html"])["text"]
            for r in rows}


def texts_for(df, urls) -> dict[str, str]:
    """{url: text} of `df` restricted to `urls`."""
    from pyspark.sql import functions as F

    return {r["url"]: r["text"] for r in
            df.where(F.col("url").isin(list(urls))).select("url", "text")
            .collect()}


class Checker:
    """Collects failing urls across every check of a run."""

    def __init__(self, n_docs: int):
        self.n_docs = n_docs
        self.failed: set[str] = set()
        self.problems: list[str] = []

    def expect_summary(self, label: str, want: Summary, got: Summary,
                       expected_df=None, got_df=None) -> None:
        if got == want:
            return
        self.problems.append(f"{label}: {got} != {want}")
        if expected_df is not None and got_df is not None:
            bad = diff_urls(expected_df, got_df)
        else:
            bad = set()
        # a mismatch always fails at least one doc, even if the diff
        # cannot name it (e.g. no reference frame at hand)
        self.failed |= bad or {f"<{label}>"}

    def expect_texts(self, label: str, want: dict[str, str],
                     got: dict[str, str]) -> None:
        bad = compare_texts(want, got)
        if bad:
            self.problems.append(f"{label}: {len(bad)} urls differ")
            self.failed |= bad

    @property
    def fail_frac(self) -> float:
        return min(len(self.failed), self.n_docs) / self.n_docs
