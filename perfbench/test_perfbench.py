"""Self-tests of the benchmark (not of the program).

    python3 -m pytest perfbench -q

Generators are seed-deterministic, hostile pages have their stated
shapes, printed metric names and units match BENCHMARK.json, and the
checker catches one corrupted and one dropped row.
"""

from __future__ import annotations

import json
import random
import re
import shutil
from pathlib import Path

import pytest

from perfbench import check, inputs, layers, run

WORK = run.WORK / "selftest"


@pytest.fixture()
def workdir():
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    yield WORK
    shutil.rmtree(WORK, ignore_errors=True)


def _staged_bytes(workload: str, seed: int, path: Path) -> dict[str, bytes]:
    inputs.stage(workload, seed, str(path))
    return {f.name: f.read_bytes() for f in sorted(path.glob("*.parquet"))}


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_staging_is_seed_deterministic(workload, workdir):
    a = _staged_bytes(workload, 7, workdir / "a")
    b = _staged_bytes(workload, 7, workdir / "b")
    c = _staged_bytes(workload, 8, workdir / "c")
    assert len(a) == inputs.PARTITIONS
    assert a == b
    assert all(a[k] != c[k] for k in a)


def test_hostile_rows_are_seed_deterministic():
    n = inputs.N_DOCS["hostile_nesting"]
    a, b, c = (inputs.hostile_rows(n, s) for s in (3, 3, 4))
    assert [r["html"] for r in a] == [r["html"] for r in b]
    assert [r["html"] for r in a] != [r["html"] for r in c]


def test_hostile_pages_have_stated_depths_and_shapes():
    n = inputs.N_DOCS["hostile_nesting"]
    rows = inputs.hostile_rows(n, 11)
    cells = {}
    for r in rows:
        html = r["html"].decode()
        depth, shape = r["depth"], r["shape"]
        base = max(b for b in inputs.HOSTILE_DEPTHS if b <= depth)
        assert base <= depth < base + base // 32
        cells[(base, shape)] = cells.get((base, shape), 0) + 1
        assert html.count("<div>") == depth
        assert html.count("</div>") == depth
        if shape == "stray":
            assert html.count("</span>") == depth
            assert html.count("<p>") == 1
        else:
            assert "</span>" not in html
            assert len(re.findall(r"<div>\w+ \d+ ", html)) == depth
        # never an edge page, the resumed tenth or the kernel sample
        assert not inputs.is_edge(r["index"]) and r["index"] % 10 > 1
        assert r["index"] not in inputs.kernel_indices(n)
    # the same hostile load per staged file for every seed
    assert sorted(r["index"] % inputs.PARTITIONS for r in rows) == \
        sorted(k % inputs.PARTITIONS for k in range(len(rows)))
    assert cells == {(b, s): inputs.HOSTILE_PER_CELL
                     for b in inputs.HOSTILE_DEPTHS for s in inputs.HOSTILE_SHAPES}


def test_hostile_page_rejects_unknown_shape():
    with pytest.raises(ValueError):
        inputs.hostile_page(10, "spiral", random.Random(0))


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(inputs.WORKLOADS)


def test_compare_texts_flags_corrupted_and_dropped_rows():
    want = {f"u{i}": f"text {i}" for i in range(20)}
    got = dict(want)
    got["u3"] = "text 3!"
    del got["u7"]
    assert check.compare_texts(want, got) == {"u3", "u7"}
    assert check.compare_texts(want, dict(want)) == set()


@pytest.fixture(scope="module")
def spark():
    from dxnn_ocr_cpp_spark.session import build_session

    s = build_session(app="perfbench-selftest", master="local[1]",
                      extra_conf={"spark.driver.memory": "1g",
                                  "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_checker_flags_one_corrupted_and_one_dropped_row(spark):
    rows = [(f"https://h/page-{i:06d}", f"text {i}") for i in range(50)]
    ref = spark.createDataFrame(rows, "url string, text string")
    want = check.summarize(ref)
    assert (want.rows, want.urls) == (50, 50)

    corrupted = spark.createDataFrame(
        [(u, t + "x" if i == 5 else t) for i, (u, t) in enumerate(rows)],
        "url string, text string")
    dropped = spark.createDataFrame(rows[:9] + rows[10:], "url string, text string")
    duplicated = spark.createDataFrame(rows + rows[:1], "url string, text string")
    for df, bad in ((corrupted, rows[5][0]), (dropped, rows[9][0]),
                    (duplicated, rows[0][0])):
        c = check.Checker(50)
        c.expect_summary("pass", want, check.summarize(df), ref, df)
        assert c.failed == {bad}
        assert c.fail_frac == 1 / 50

    c = check.Checker(50)
    c.expect_summary("pass", want, check.summarize(ref), ref, ref)
    assert c.failed == set() and c.fail_frac == 0

