"""Per-layer metrics of the traced run (--trace 1).

Each layer is timed from outside, by calling its public functions from
the benchmark: the htmlseg kernel in-process on a seeded sample of the
workload's docs, the Spark side from the event log of the traced
session (job groups set by the benchmark), and lineage through spans
wrapped around CheckpointedRun's public methods. NOTES.md lists which
end-to-end metric each of these should move.
"""

from __future__ import annotations

import random
import statistics
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from perfbench import inputs
from perfbench.probes import read_event_logs
from perfbench.run import SLOTS, dir_bytes

# name -> unit, as in BENCHMARK.json
PER_LAYER = {
    "session.build_s": "s",
    "corpus.stage_s": "s",
    "io.scan_ms_per_doc": "ms",
    "io.sink_ms_per_doc": "ms",
    "io.out_bytes_per_doc": "B",
    "htmlseg.decode_ms_per_doc": "ms",
    "htmlseg.segment_ms_per_doc": "ms",
    "htmlseg.normalize_ms_per_doc": "ms",
    "htmlseg.blocks_per_doc": "count",
    "htmlseg.candidates_per_doc": "count",
    "htmlseg.truncated_frac": "ratio",
    "htmlseg.max_doc_ms": "ms",
    "htmlseg.nesting_growth": "ratio",
    "segment.segment_one_ms_per_doc": "ms",
    "segment.assemble_ms_per_doc": "ms",
    "segment.udf_python_ms_per_doc": "ms",
    "segment.udf_init_ms_per_task": "ms",
    "segment.udf_bytes_sent_per_doc": "B",
    "segment.udf_bytes_recv_per_doc": "B",
    "segment.udf_rows": "count",
    "segment.py_worker_peak_rss_mb": "MB",
    "score_emit.ms_per_doc": "ms",
    "lineage.blocks_stage_s": "s",
    "lineage.extracted_stage_s": "s",
    "lineage.resume_filter_s": "s",
    "lineage.resume_parse_amplification": "ratio",
    "lineage.spark_jobs_fresh": "count",
    "lineage.spark_jobs_resume": "count",
    "lineage.shuffle_bytes_per_doc": "B",
    "lineage.blocks_bytes_per_doc": "B",
    "lineage.extracted_bytes_per_doc": "B",
    "spark.plumbing_ms_per_doc": "ms",
    "spark.tasks_busy_frac": "ratio",
    "spark.tasks_max_over_median": "ratio",
    "spark.gc_ms_per_doc": "ms",
    "spark.jvm_peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
}

KERNEL_REPS = 2      # in-process kernel calls per doc and function (best taken)
GROWTH_DEPTH = 2000  # nesting_growth compares this depth with its double
ARROW_UDF = "ArrowEvalPython"


@F.pandas_udf(BinaryType())
def identity_udf(html: pd.Series) -> pd.Series:
    """The plumbing floor: the same Arrow hop as the segment UDF, no work."""
    return html


def probe(run, docs) -> None:
    """Run every layer probe in the traced 2-slot session."""
    _spark_side(run, docs)
    run.note("probes: spark side done")
    _lineage(run, docs)
    run.note("probes: lineage done")
    _kernel(run, docs)
    _nesting_growth(run)
    run.note("probes: kernel done")
    run.layer["spark.jvm_peak_rss_mb"] = run.leg_peaks["jvm"]
    run.layer["segment.py_worker_peak_rss_mb"] = run.leg_peaks["py_worker"]


def _spark_side(run, docs) -> None:
    from dxnn_ocr_cpp_spark.operators.segment import with_blocks
    from dxnn_ocr_cpp_spark.pipeline import extract

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    n = run.n
    sink = run.dir / "T-sink"
    jobs = {
        "scan": lambda: noop(docs.select("url", "html")),
        "plumbing": lambda: noop(docs.select("url", identity_udf("html").alias("html"))),
        "blocks": lambda: noop(with_blocks(docs.select("url", "html"), slim=True)),
        "extract_noop": lambda: noop(extract(docs)),
        "extract_sink": lambda: run.extract_to(docs, sink),
    }
    walls = {name: run.timed(f"probe-{name}", fn)[0] for name, fn in jobs.items()}
    run.check("probe sink", run.read(sink))
    run.layer.update({
        "io.scan_ms_per_doc": 1000 * walls["scan"] / n,
        "io.sink_ms_per_doc": 1000 * (walls["extract_sink"] - walls["extract_noop"]) / n,
        "io.out_bytes_per_doc": dir_bytes(sink) / n,
        "spark.plumbing_ms_per_doc": 1000 * walls["plumbing"] / n,
        "score_emit.ms_per_doc": 1000 * (walls["extract_noop"] - walls["blocks"]) / n,
    })


@contextmanager
def _wrapped_lineage(tracer):
    """Spans around CheckpointedRun's public stage calls, restored after."""
    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun

    saved = {}
    for name in ("run_incremental_stage", "run_stage", "resume_filter"):
        orig = getattr(CheckpointedRun, name)
        saved[name] = orig

        def wrapper(self, *a, _orig=orig, _name=name, **kw):
            # the stage name is the first str argument of all three
            stage = kw.get("stage", next((x for x in a if isinstance(x, str)), None))
            with tracer.span(f"lineage.{_name}", stage=stage):
                return _orig(self, *a, **kw)
        setattr(CheckpointedRun, name, wrapper)
    try:
        yield
    finally:
        for name, orig in saved.items():
            setattr(CheckpointedRun, name, orig)


def _lineage(run, docs) -> None:
    """The run's checkpoint cycle (Run.cycle) with spans around the
    lineage calls, and resume_filter's anti-join counted between the
    fresh and the resumed run."""
    from dxnn_ocr_cpp_spark.lineage import CheckpointedRun

    tr = run.tracer
    mark = len(tr.spans)
    found = {}

    def count_filter(root):
        found["fresh"] = tr.spans[mark:]
        # resume_filter is lazy: its cost is that of counting its output
        filt = CheckpointedRun(run.spark, str(root)).resume_filter(docs, "blocks")
        found["filter_s"] = run.timed("lineage-filter", filt.count)[0]

    rec = run.new_rec()
    with _wrapped_lineage(tr):
        run.cycle("lineage", docs, rec, after_fresh=count_filter)

    def span_s(name, stage):
        return sum(s["end"] - s["start"] for s in found["fresh"]
                   if s["name"] == name and s.get("stage") == stage)

    n = run.n
    run.layer.update({
        "lineage.blocks_stage_s": span_s("lineage.run_incremental_stage", "blocks"),
        "lineage.extracted_stage_s": span_s("lineage.run_stage", "extracted"),
        "lineage.resume_filter_s": found["filter_s"],
        "lineage.blocks_bytes_per_doc": rec["bytes"]["blocks"] / n,
        "lineage.extracted_bytes_per_doc": rec["bytes"]["extracted"] / n,
    })


def _kernel(run, docs) -> None:
    """decode / tokenize+segment / normalize / segment_one in-process:
    per-doc means on a uniform sample of the staged input, the tail on
    its edge and hostile pages."""
    from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG as cfg
    from dxnn_ocr_cpp_spark.htmlseg import decode_html, normalize_text, segment_html
    from dxnn_ocr_cpp_spark.operators.segment import segment_one

    def rows(indices):
        urls = inputs.urls(run.seed, indices)
        return docs.where(F.col("url").isin(urls)).select("html").collect()

    tr = run.tracer
    tot = {"decode": 0.0, "segment_html": 0.0, "normalize": 0.0, "one": 0.0}
    blocks = cands = truncated = 0

    def best(name, fn):
        # best of KERNEL_REPS calls, so every call is timed warm
        times = []
        for _ in range(KERNEL_REPS):
            t0 = time.perf_counter()
            with tr.span(name):
                out = fn()
            times.append(time.perf_counter() - t0)
        return min(times), out

    sample = rows(inputs.kernel_indices(run.n))
    for r in sample:
        raw = r["html"]
        t, _ = best("htmlseg.decode_html", lambda: decode_html(raw, cfg.sniff_bytes))
        tot["decode"] += t
        t, res = best("htmlseg.segment_html", lambda: segment_html(
            raw, cfg.max_candidates, cfg.max_html_bytes, cfg.sniff_bytes,
            engine=cfg.parser_engine))
        tot["segment_html"] += t
        t, _ = best("htmlseg.normalize_text",
                    lambda: [normalize_text(b.text_raw) for b in res.blocks])
        tot["normalize"] += t
        t, seg = best("segment.segment_one", lambda: segment_one(raw, cfg, slim=True))
        tot["one"] += t
        blocks += len(seg["blocks"])
        cands += seg["n_candidates"]
        truncated += bool(seg["truncated"])
    max_one = 0.0
    for r in rows(inputs.tail_indices(run.n, run.seed, run.workload)):
        t0 = time.perf_counter()
        with tr.span("segment.segment_one", tail=True):
            segment_one(r["html"], cfg, slim=True)
        max_one = max(max_one, time.perf_counter() - t0)
    k = len(sample)
    ms = {key: 1000 * v / k for key, v in tot.items()}
    run.layer.update({
        "htmlseg.decode_ms_per_doc": ms["decode"],
        # segment_html decodes first; its own share is the rest
        "htmlseg.segment_ms_per_doc": ms["segment_html"] - ms["decode"],
        "htmlseg.normalize_ms_per_doc": ms["normalize"],
        "htmlseg.blocks_per_doc": blocks / k,
        "htmlseg.candidates_per_doc": cands / k,
        "htmlseg.truncated_frac": truncated / k,
        "htmlseg.max_doc_ms": 1000 * max_one,
        "segment.segment_one_ms_per_doc": ms["one"],
        "segment.assemble_ms_per_doc": ms["one"] - ms["segment_html"] - ms["normalize"],
    })


def _nesting_growth(run) -> None:
    """Cost ratio of segment_html on a stray-closer hostile page when
    its depth doubles (best of three each): 4 is quadratic, 2 linear."""
    from dxnn_ocr_cpp_spark.htmlseg import segment_html

    best = {}
    for depth in (GROWTH_DEPTH, 2 * GROWTH_DEPTH):
        page = inputs.hostile_page(depth, "stray", random.Random(f"growth-{run.seed}"))
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            with run.tracer.span("htmlseg.segment_html", depth=depth):
                segment_html(page)
            times.append(time.perf_counter() - t0)
        best[depth] = min(times)
    run.layer["htmlseg.nesting_growth"] = best[2 * GROWTH_DEPTH] / best[GROWTH_DEPTH]


def metrics(run, log_dir) -> dict[str, float]:
    """Fold the event log of the traced session into run.layer."""
    g = read_event_logs(str(log_dir))
    n = run.n
    m = dict(run.layer)

    udf = g["probe-extract_noop"]["sql"]
    udf_tasks = len(g["probe-extract_noop"]["task_ms"])
    m.update({
        "segment.udf_python_ms_per_doc": udf[f"{ARROW_UDF}/time to run Python workers"] / n,
        "segment.udf_init_ms_per_task":
            udf[f"{ARROW_UDF}/time to initialize Python workers"] / udf_tasks,
        "segment.udf_bytes_sent_per_doc": udf[f"{ARROW_UDF}/data sent to Python workers"] / n,
        "segment.udf_bytes_recv_per_doc":
            udf[f"{ARROW_UDF}/data returned from Python workers"] / n,
        "segment.udf_rows": int(udf[f"{ARROW_UDF}/number of output rows"]),
    })

    fresh, resume = g["lineage"], g["lineage-resume"]
    m.update({
        "lineage.spark_jobs_fresh": fresh["jobs"],
        "lineage.spark_jobs_resume": resume["jobs"],
        "lineage.shuffle_bytes_per_doc": fresh["shuffle_write_bytes"] / run.ref90.rows,
        "lineage.resume_parse_amplification":
            resume["sql"][f"{ARROW_UDF}/number of output rows"] / (n - run.ref90.rows),
    })

    # the traced leg's timed passes, against the untraced leg's
    t, a = run.legs["T"][SLOTS], run.legs["A"][SLOTS]
    passes = [g[f"T-s{SLOTS}-pass{k}"] for k in range(len(t["wall"]))]
    docs_per_pass = n if not run.ckpt else run.ref90.rows
    m.update({
        "spark.tasks_busy_frac": statistics.median(
            sum(p["task_ms"]) / 1000 / (SLOTS * w)
            for p, w in zip(passes, t["wall"])),
        # stragglers within the pass's busiest stage
        "spark.tasks_max_over_median": statistics.median(
            max(ts) / statistics.median(ts) for ts in
            (max(p["stage_task_ms"].values(), key=sum) for p in passes)),
        "spark.gc_ms_per_doc": statistics.median(
            p["gc_ms"] / docs_per_pass for p in passes),
        "trace.overhead_frac":
            statistics.median(t["wall"]) / statistics.median(a["wall"]) - 1,
    })
    return m
