"""Debug block-dump sink — the K3 visualizer analog
(/root/reference/src/common/visualizer.cpp draws detected boxes +
recognized text side by side; we render scored DOM blocks kept/dropped
side by side as a static HTML page per document).

Usage:
    python tools/dump_blocks.py [--n 5] [--out /tmp/block_dump]

Renders the first N corpus documents: every candidate block with its
depth, boiler marker, score, link density, and whether the span filter
kept it — the heuristic-tuning feedback loop (why did this block
drop?). Debug tool only: collects N documents to the driver by design;
never part of the hot path.
"""

from __future__ import annotations

import argparse
import html as html_mod
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

_CSS = """
body { font-family: monospace; margin: 1em 2em; background: #fafafa; }
.block { border-left: 5px solid; margin: 6px 0; padding: 4px 10px;
         background: #fff; }
.kept { border-color: #2a2; }
.dropped { border-color: #c33; opacity: 0.65; }
.meta { color: #666; font-size: 0.85em; }
.score { font-weight: bold; }
h1 { font-size: 1.1em; } h2 { font-size: 1em; color: #444; }
"""


def render_doc(url: str, blocks: list, cfg) -> str:
    """blocks: list of Row/dicts with the extract_blocks columns."""
    parts = [f"<html><head><meta charset='utf-8'><style>{_CSS}</style>",
             f"</head><body><h1>{html_mod.escape(url)}</h1>",
             f"<h2>box_thresh={cfg.box_thresh} "
             f"min_text_chars={cfg.min_text_chars} "
             f"max_link_density={cfg.max_link_density}</h2>"]
    n_kept = 0
    for b in blocks:
        if b["block_id"] is None:
            continue
        # mirrors emit.span_filter exactly (change that, change this —
        # the debug tool must explain the engine's actual predicate)
        ld = b["n_link_chars"] / max(b["n_text_chars"], 1)
        kept = (b["score"] >= cfg.box_thresh
                and b["score"] >= cfg.rec_score_thresh
                and b["n_text_chars"] >= cfg.min_text_chars
                and ld <= cfg.max_link_density and b["text"])
        n_kept += bool(kept)
        cls = "kept" if kept else "dropped"
        reason = "" if kept else (
            " &larr; low score" if b["score"] < cfg.box_thresh else
            " &larr; below rec thresh" if b["score"] < cfg.rec_score_thresh
            else
            " &larr; too short" if b["n_text_chars"] < cfg.min_text_chars else
            " &larr; link-dense" if ld > cfg.max_link_density else
            " &larr; empty")
        parts.append(
            f"<div class='block {cls}'>"
            f"<div class='meta'>#{b['block_id']} "
            f"&lt;{html_mod.escape(b['tag'])}&gt; "
            f"depth={b['depth']}{' boiler' if b['boiler'] else ''} "
            f"<span class='score'>score={b['score']:.3f}</span> "
            f"chars={b['n_text_chars']} link_density={ld:.2f}{reason}</div>"
            f"{html_mod.escape(b['text'])}</div>")
    parts.append(f"<p>{n_kept} kept / {len(blocks)} candidates</p>"
                 "</body></html>")
    return "\n".join(parts)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--out", default="/tmp/block_dump")
    args = ap.parse_args()

    from dxnn_ocr_cpp_spark.config import DEFAULT_CONFIG
    from dxnn_ocr_cpp_spark.corpus import generate_documents_df
    from dxnn_ocr_cpp_spark.pipeline import extract_blocks
    from dxnn_ocr_cpp_spark.session import build_session

    spark = build_session(app="dump-blocks", master="local[4]")
    try:
        docs = generate_documents_df(spark, args.n)
        rows = extract_blocks(docs, DEFAULT_CONFIG).collect()
    finally:
        spark.stop()

    by_url: dict = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r.asDict())
    outdir = pathlib.Path(args.out)
    outdir.mkdir(parents=True, exist_ok=True)
    for i, (url, blocks) in enumerate(sorted(by_url.items())):
        blocks.sort(key=lambda b: (b["pos"] or 0, b["depth"] or 0,
                                   b["block_id"] or 0))
        p = outdir / f"doc_{i:03d}.html"
        p.write_text(render_doc(url, blocks, DEFAULT_CONFIG),
                     encoding="utf-8")
        print(p)


if __name__ == "__main__":
    main()
