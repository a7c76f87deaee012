"""Automated physical-plan audit over every registered driver query.

For each `queries()` entry, builds the DataFrame at a small sf dir and
counts the plan features that decide 100-TB viability:

  exchanges   shuffle boundaries (Exchange nodes; fewer = better, and
              a query whose exchange count GROWS with data size is
              mis-shaped)
  python      Python hops (ArrowEvalPython / BatchEvalPython /
              MapInPandas / FlatMapGroupsInPandas) — each is an
              optimization barrier; the extraction hot path budgets
              exactly one
  cartesian   CartesianProduct / BroadcastNestedLoopJoin nodes — a
              nonzero count is a scale-killer unless the query is
              deliberately tiny-side (none here should be)
  bhj         broadcast hash joins (good: small side pinned broadcast)

Writes BENCH/PLANS.md (sorted worst-first by cartesian, then
exchanges) and prints totals. Plans are BUILT, not executed — some
queries run small eager actions at plan time (vocab fits, scalar
thresholds); at sf0.001 those are sub-second.

Usage: python tools/plan_audit.py [sf_dir]
"""
import pathlib
import re
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
            "FlatMapGroupsInPandas", "AggregateInPandas")
BAD_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")

# queries whose nested-loop joins are DELIBERATE and scale-safe: the
# loop side is a literal/scalar/guarded table, never corpus x corpus
DELIBERATE_NLJ = {
    "dataset_mix": "1-row feasibility scalar cross-joined onto the "
                   "group rate table (mixing.mix_rates)",
    "host_quality_prior": "1-row global-mean scalar cross-joined for "
                          "Bayesian smoothing",
    "embedding_topk": "brute-force ANN baseline: k query vectors "
                      "broadcast against the corpus BY DESIGN",
    "embedding_cosine_dups": "exact all-pairs twin, refuses corpora "
                             "above max_rows (similarity.py guard)",
    "dataset_mix_temperature": "1-row weight-sum scalars cross-joined "
                               "twice for temperature renormalization "
                               "+ the mix_rates feasibility scalar "
                               "(mixing.temperature_weights/mix_rates)",
    "epoch_plan": "1-row weight-sum scalar cross-joined to normalize "
                  "shares over the small domain table "
                  "(mixing.epoch_plan)",
}


def audit_plan(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan))
        - len(re.findall(r"\bReusedExchange\b", plan)),
        "reused": len(re.findall(r"\bReusedExchange\b", plan)),
        "python": sum(plan.count(n) for n in PY_NODES),
        "cartesian": sum(plan.count(n) for n in BAD_NODES),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entrymod
    from dxnn_ocr_cpp_spark.session import build_session
    spark = build_session(app="plan-audit", master="local[8]")
    rows = []
    t0 = time.monotonic()
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            rows.append({"query": name, **audit_plan(plan), "err": ""})
        except Exception as e:  # keep auditing; report the failure
            rows.append({"query": name, "exchanges": -1, "reused": 0,
                         "python": -1, "cartesian": -1, "bhj": 0,
                         "err": str(e)[:80]})
    spark.stop()
    rows.sort(key=lambda r: (-r["cartesian"], -r["exchanges"],
                             r["query"]))
    lines = [
        "# Physical-plan audit — every driver query",
        "",
        f"Built (not executed) at `{sf_dir}`; regenerated by "
        f"`tools/plan_audit.py`. Exchange counts EXCLUDE "
        f"ReusedExchange (a reused shuffle is the optimization, not a "
        f"second cost). A nonzero cartesian column is a scale-killer "
        f"and fails the audit.",
        "",
        "| query | exchanges | reused | python hops | cartesian | "
        "broadcast joins |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        note = ""
        if r["cartesian"] > 0 and r["query"] in DELIBERATE_NLJ:
            note = f" deliberate: {DELIBERATE_NLJ[r['query']]}"
        lines.append(
            f"| {r['query']} | {r['exchanges']} | {r['reused']} | "
            f"{r['python']} | {r['cartesian']} | {r['bhj']} |{note}"
            + (f" <!-- {r['err']} -->" if r["err"] else ""))
    offenders = [r["query"] for r in rows if r["cartesian"] > 0
                 and r["query"] not in DELIBERATE_NLJ]
    n_delib = sum(1 for r in rows if r["cartesian"] > 0
                  and r["query"] in DELIBERATE_NLJ)
    n_err = sum(1 for r in rows if r["err"])
    lines += [
        "",
        f"Totals: {len(rows)} queries audited in "
        f"{time.monotonic() - t0:.0f}s — "
        f"**{len(offenders)} unjustified cartesian/nested-loop "
        f"joins** ({n_delib} deliberate tiny-side/guarded, annotated "
        f"inline), {n_err} plan-build failures, median exchanges "
        f"{sorted(r['exchanges'] for r in rows)[len(rows) // 2]}.",
        "",
    ]
    out = REPO / "BENCH" / "PLANS.md"
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(rows)} queries, "
          f"{len(offenders)} unjustified cartesian ({offenders}), "
          f"{n_err} errors")
    if offenders or n_err:
        sys.exit(1)


if __name__ == "__main__":
    main()
