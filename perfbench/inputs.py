"""Seeded benchmark inputs.

Every input is a pure function of (workload, seed): the crawl corpus
comes from `corpus.make_document` / `corpus.generate_documents_df`,
and the adversarial pages of `hostile_nesting` are built here. The
program under test only ever sees the staged parquet rows.
"""

from __future__ import annotations

import os
import random

WORKLOADS = ("crawl_extract", "hostile_nesting", "checkpoint_resume")

# docs per workload; sized so a 2-slot pass is 2-3 s and a run's five
# passes, checkpoint cycle and two set-ups fit about a minute
N_DOCS = {"crawl_extract": 1600, "hostile_nesting": 1600,
          "checkpoint_resume": 1200}

# staged input files = tasks per pass (one task per file, see
# run.spark_conf): 2 per slot at 2 slots, the same 4 at 1 slot. Python
# worker start-up is paid per task, so fewer tasks cost less fixed time
PARTITIONS = 4

# hostile_nesting composition: a fixed count per (depth, shape) cell so
# the cost mix does not change with the seed; the seed picks which docs
# are replaced, the exact depth (base + up to base/32) and the words.
# The 6 pages cost about as much kernel time as the 1600 crawl docs.
HOSTILE_DEPTHS = (1000, 2000, 4000)
HOSTILE_SHAPES = ("stray", "text")
HOSTILE_PER_CELL = 1

# residues that make_document turns into FIXTURES edge pages; hostile
# pages never replace them, so every seed keeps every edge case
EDGE_RESIDUES = ((101, 7), (503, 21), (4999, 13))

_WORDS = ("alpha beta gamma delta nest level depth stack close open "
          "text node block page").split()


def is_edge(i: int) -> bool:
    return any(i % m == r for m, r in EDGE_RESIDUES)


def hostile_depth(base: int, rng: random.Random) -> int:
    return base + rng.randrange(base // 32)


def hostile_page(depth: int, shape: str, rng: random.Random) -> bytes:
    """One adversarial page: `depth` nested <div>s.

    stray: a single text leaf, then one stray </span> per level before
           the real closers (unmatched closers scan the open stack);
    text:  a text run at every level (each level re-inherits context).
    """
    if shape == "stray":
        leaf = " ".join(rng.choice(_WORDS) for _ in range(12))
        body = ("<div>" * depth + f"<p>{leaf}</p>" + "</span>" * depth
                + "</div>" * depth)
    elif shape == "text":
        body = "".join(f"<div>{rng.choice(_WORDS)} {k} " for k in range(depth))
        body += "</div>" * depth
    else:
        raise ValueError(f"unknown hostile shape {shape!r}")
    page = ('<!DOCTYPE html><html><head><meta charset="utf-8">'
            f"<title>nest {depth}</title></head><body>{body}</body></html>")
    return page.encode("utf-8")


def hostile_plan(n_docs: int, seed: int) -> list[tuple[int, int, str]]:
    """(doc index, depth, shape) for every replaced doc, sorted by index.
    Cell k always lands in staged file k % PARTITIONS (doc i is in file
    i % PARTITIONS), so every seed gives every task the same hostile load."""
    rng = random.Random(f"hostile-plan-{seed}")
    cells = [(base, shape) for base in HOSTILE_DEPTHS
             for shape in HOSTILE_SHAPES for _ in range(HOSTILE_PER_CELL)]
    plan = []
    for k, (base, shape) in enumerate(cells):
        # never an edge page, never in the resumed tenth (index ending
        # in 0), never in the kernel sample (index ending in 1)
        pool = [i for i in range(k % PARTITIONS, n_docs, PARTITIONS)
                if not is_edge(i) and i % 10 > 1]
        plan.append((rng.choice(pool), hostile_depth(base, rng), shape))
    return sorted(plan)


def hostile_rows(n_docs: int, seed: int) -> list[dict]:
    """The replacement rows: same url and timestamp as the doc they
    replace, html swapped for the adversarial page."""
    from dxnn_ocr_cpp_spark.corpus import make_document

    rows = []
    for i, depth, shape in hostile_plan(n_docs, seed):
        doc = make_document(i, seed)
        rng = random.Random(f"hostile-page-{seed}-{i}")
        rows.append({"url": doc["url"], "warc_epoch": doc["warc_epoch"],
                     "html": hostile_page(depth, shape, rng),
                     "text": None, "lang": "en",
                     "depth": depth, "shape": shape, "index": i})
    return rows


def stage(workload: str, seed: int, path: str) -> None:
    """Write the workload's input as PARTITIONS parquet files, doc i in
    file i % PARTITIONS, in the schema of corpus.generate_documents_df.
    Doc i is corpus.make_document(i, seed), the row generate_documents_df
    yields for it; writing from this process keeps staging free of Spark
    jobs and Python workers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dxnn_ocr_cpp_spark.corpus import make_document

    n = N_DOCS[workload]
    hostile = ({r["index"]: r for r in hostile_rows(n, seed)}
               if workload == "hostile_nesting" else {})
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    for p in range(PARTITIONS):
        rows = [hostile.get(i) or make_document(i, seed)
                for i in range(p, n, PARTITIONS)]
        cols = {k: [r[k] for r in rows] for k in ("url", "html", "text", "lang")}
        cols["warc_ts"] = [r["warc_epoch"] * 1_000_000 for r in rows]
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(path, f"part-{p:05d}.parquet"))


def resume_split(docs):
    """The 90% of docs a crashed run had finished: every doc whose index
    (the url's last digits) does not end in 0. The same docs for every
    seed, so the resumed tenth has a fixed make-up."""
    from pyspark.sql import functions as F
    return docs.where(~F.col("url").endswith("0"))


def warm_split(docs):
    """A quarter of the urls, spread over every staged file: the
    warm-up pass starts every task's Python worker on a quarter of
    the work."""
    from pyspark.sql import functions as F
    return docs.where(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)


def urls(seed: int, indices) -> list[str]:
    """The urls of docs `indices` (hostile pages keep their doc's url)."""
    from dxnn_ocr_cpp_spark.corpus import make_document

    return [make_document(i, seed)["url"] for i in indices]


def check_indices(n_docs: int, seed: int, workload: str) -> list[int]:
    """Doc indices compared against extract_python in every run: every
    edge residue below n_docs, 48 seeded picks, and on hostile_nesting
    the 1k-level hostile pages (deeper ones are slow in-process and are
    covered by the whole-output digest)."""
    edge = [i for i in range(n_docs) if is_edge(i)]
    # cp1252, entity soup, RTL and broken-charset rows (FIXTURES §1)
    for m, r in ((20, 4), (11, 3), (13, 5), (50, 31)):
        edge += [i for i in range(r, n_docs, m)][:2]
    picks = random.Random(f"check-{seed}").sample(range(n_docs), 48)
    hostile = []
    if workload == "hostile_nesting":
        hostile = [i for i, d, _ in hostile_plan(n_docs, seed)
                   if d < HOSTILE_DEPTHS[1]]
    return sorted(set(edge + picks + hostile))


def kernel_indices(n_docs: int) -> list[int]:
    """Docs timed in-process for the per-doc kernel means of the traced
    run: every tenth doc (index ending in 1), a uniform sample."""
    return list(range(1, n_docs, 10))


def tail_indices(n_docs: int, seed: int, workload: str) -> list[int]:
    """Docs timed in-process for the kernel tail (htmlseg.max_doc_ms):
    every edge page and every hostile page of the workload."""
    edge = [i for i in range(n_docs) if is_edge(i)]
    hostile = ([i for i, _, _ in hostile_plan(n_docs, seed)]
               if workload == "hostile_nesting" else [])
    return sorted(set(edge + hostile))
