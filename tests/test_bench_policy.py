"""bench.py reporting policy units — no Spark, no measurement.

Each scaling window is in one of two states: measured this run (only
under `--full`, on a host with the hi leg's cores), or its committed
record BENCH/stable_scaling_*.json printed verbatim with its
`measured_at`. Only a stable measured window rewrites its record; an
unstable one is published flagged and leaves the record as it was.

The failure modes these pin:
  * a physically impossible engine headline (median efficiency above
    the host's own ceiling) passed the validity gate and REPLACED the
    stable record (round 2);
  * the final stdout JSON line overflowed the driver's 2000-char tail
    capture, recording no parsed bench at all;
  * a window whose hi leg needs more cores than the host has was
    measured oversubscribed.
"""

import json

import bench


class TestWindowUnstable:
    def test_healthy_window_is_stable(self):
        assert not bench.window_unstable(
            bracket_probes=[0.95, 0.97], eff_rounds=[0.94, 0.96, 0.95],
            eff=0.95, ceiling=0.97)

    def test_probe_drift_flags(self):
        assert bench.window_unstable(
            bracket_probes=[1.06, 0.95], eff_rounds=[0.95, 0.95, 0.95],
            eff=0.95, ceiling=0.95)

    def test_round_spread_flags(self):
        assert bench.window_unstable(
            bracket_probes=[0.95], eff_rounds=[0.80, 1.01, 0.95],
            eff=0.95, ceiling=0.95)

    def test_high_steal_flags_even_when_rounds_agree(self):
        # the observed failure: both wide rounds agreed at ~0.37
        # (spread fine, probes fine) while the hypervisor stole ~13%
        # of the load-period core budget
        assert bench.window_unstable(
            bracket_probes=[0.84, 0.82], eff_rounds=[0.3517, 0.387],
            eff=0.3694, ceiling=0.8406, max_steal=0.131)

    def test_low_steal_does_not_flag(self):
        assert not bench.window_unstable(
            bracket_probes=[0.95, 0.97], eff_rounds=[0.94, 0.96, 0.95],
            eff=0.95, ceiling=0.97, max_steal=0.02)

    def test_superunit_engine_median_flags(self):
        # the exact r2 numbers: median 1.0508 vs ceiling 0.9541
        assert bench.window_unstable(
            bracket_probes=[0.9541, 0.8793],
            eff_rounds=[1.0508, 1.0519, 0.9577],
            eff=1.0508, ceiling=0.9541)

    def test_engine_above_host_ceiling_flags(self):
        # median <= 1.02 but still 10% above what the host can do
        assert bench.window_unstable(
            bracket_probes=[0.80, 0.82], eff_rounds=[0.90, 0.91, 0.90],
            eff=0.90, ceiling=0.82)

    def test_wide_window_low_ceiling_is_not_unstable(self):
        # 8->32 on this VM: host ceiling ~0.75 and engine below it is
        # business as usual, not drift
        assert not bench.window_unstable(
            bracket_probes=[0.74, 0.76], eff_rounds=[0.70, 0.72, 0.71],
            eff=0.71, ceiling=0.76, dps=(5000.0, 11000.0))

    def test_nonmonotone_throughput_flags(self):
        # zero-shuffle embarrassingly-parallel job: best throughput at
        # 4x cores BELOW the lo level = the hi legs ran on a throttled
        # host (the r3 cgroup window), not an engine property
        assert bench.window_unstable(
            bracket_probes=[0.96, 0.84], eff_rounds=[0.21, 0.26, 0.18],
            eff=0.21, ceiling=0.96, dps=(6666.0, 6295.0))

class TestStableWindowPolicy:
    LEVELS = (2, 8)

    def _window(self, eff, ceiling, unstable):
        return {
            "local[2]": {"cores": 2, "wall_sec": 100.0, "docs": 1000,
                         "docs_per_sec": 10.0, "chars_per_sec": 1.0},
            "local[8]": {"cores": 8, "wall_sec": 25.0, "docs": 1000,
                         "docs_per_sec": 40.0, "chars_per_sec": 4.0},
            "scaling_factor": 4.0,
            "scaling_efficiency": eff,
            "scaling_efficiency_best": eff,
            "efficiency_per_round": [eff],
            "host_cpu_ceiling": ceiling,
            "host_ceiling_probes": [ceiling],
            "efficiency_vs_host_ceiling": round(eff / ceiling, 4),
            "host_window_unstable": unstable,
        }

    def test_stable_window_writes_cache_and_is_returned(self, tmp_path,
                                                        monkeypatch):
        monkeypatch.setattr(bench, "REPO", tmp_path)
        monkeypatch.setattr(
            bench, "stable_cache_path",
            lambda levels, tag="": tmp_path / f"stable_{levels[0]}_{levels[1]}.json")
        w = self._window(0.95, 0.97, unstable=False)
        out = bench.stable_window_policy(w, self.LEVELS, "corpusA")
        assert out is w
        cached = json.loads(
            (tmp_path / "stable_2_8.json").read_text())
        assert cached["scaling_efficiency"] == 0.95
        assert cached["window_key"]["corpus"] == "corpusA"

class TestPerCoreAccounting:
    def test_proc_stat_busy_monotone(self):
        a = bench._proc_stat_busy()
        sum(i * i for i in range(2_000_000))  # burn a little CPU
        b = bench._proc_stat_busy()
        assert b >= a > 0.0

    def test_borrowed_cores_scenario(self):
        # the wide-window artifact: local[8] measurably used 11 cores
        # (JVM work on idle cores), local[32] used 28. Raw ratio reads
        # 0.51; per-busy-core reads the engine's true scalability.
        lo = {"docs_per_sec": 5846.0, "cores_used": 11.0}
        hi = {"docs_per_sec": 11615.0, "cores_used": 28.0}
        r = bench.per_core_ratio(hi, lo, lo)
        assert abs(r - (11615.0 / 28.0) / (5846.0 / 11.0)) < 1e-9
        assert 0.7 < r < 0.85  # raw would be 11615/(4*5846) = 0.497

    def test_missing_cores_used_returns_none(self):
        lo = {"docs_per_sec": 10.0, "cores_used": 2.1}
        hi = {"docs_per_sec": 40.0}  # pre-instrumentation round
        assert bench.per_core_ratio(hi, lo, lo) is None
        assert bench.per_core_ratio(
            {"docs_per_sec": 40.0, "cores_used": 8.0},
            {"docs_per_sec": 10.0}, lo) is None

    def test_ext_summary_carries_per_core_when_present(self):
        w = TestStableWindowPolicy()._window(0.95, 0.97, unstable=False)
        assert "per_core_eff" not in bench._ext_summary(w, (2, 8))
        w["per_core_efficiency"] = 0.88
        s = bench._ext_summary(w, (2, 8))
        assert s["per_core_eff"] == 0.88
        assert len(json.dumps(s)) < 280


class TestCompactLine:
    def test_ext_summary_is_small_and_scalar(self):
        w = TestStableWindowPolicy()._window(0.95, 0.97, unstable=False)
        s = bench._ext_summary(w, (2, 8))
        assert s["efficiency"] == 0.95
        assert s["docs_per_sec"] == {"2": 10.0, "8": 40.0}
        assert len(json.dumps(s)) < 250

    def test_full_compact_line_fits_tail_capture(self):
        # real worst case: every inline query at 6-char timings + all
        # three window summaries, each a committed record (cached
        # timestamp) carrying per-core efficiency
        w = TestStableWindowPolicy()._window(0.95, 0.97, unstable=False)
        w["per_core_efficiency"] = 0.9063
        w.update(measured_at="2026-08-21T18:49:29+00:00",
                 remeasure_skipped="not_measurable_here")
        wide = dict(w)
        wide["local[32]"] = w["local[8]"]
        compact = {
            "metric": "bench_total_wall", "value": 999.999,
            "unit": "sec",
            "queries": {k: 99.999 for k in bench.INLINE_QUERIES},
            "sf": "sf0.1",
            "detail": "BENCH/bench_detail.json",
            "extraction": bench._ext_summary(w, (2, 8)),
            "extraction_wide": bench._ext_summary(wide, (8, 32)),
            "extraction_iso": bench._ext_summary(wide, (8, 32)),
        }
        for key in ("extraction", "extraction_wide", "extraction_iso"):
            assert compact[key]["cached"] == w["measured_at"]
        assert len(json.dumps(compact)) < 1500


class TestTwoStates:
    """A default run prints the committed records; `--full` measures
    every window the host has the cores for, and only a stable one
    rewrites its record."""

    def _host(self, tmp_path, monkeypatch, argv=("bench.py",)):
        import shutil
        import sys as _sys
        (tmp_path / "BENCH").mkdir()
        for f in (bench.REPO / "BENCH").glob("stable_scaling_*.json"):
            shutil.copy(f, tmp_path / "BENCH" / f.name)
        monkeypatch.setattr(bench, "REPO", tmp_path)
        monkeypatch.setattr(bench.os, "cpu_count", lambda: 32)
        monkeypatch.setattr(bench, "run_queries",
                            lambda: {"q1": 1.25, "q2": 0.75})
        monkeypatch.setattr(bench, "ensure_corpus", lambda *a: None)
        monkeypatch.setattr(_sys, "argv", list(argv))

        def boom(*a, **k):
            raise AssertionError("measured a window it was not asked to")
        monkeypatch.setattr(bench, "run_scaling", boom)

    def _records(self):
        return {key: bench.stable_cache_path(
                    levels, "iso" if key == "extraction_iso" else "")
                for key, levels in bench.WINDOWS}

    def _run(self, capsys):
        bench.main()
        line = capsys.readouterr().out.strip().splitlines()[-1]
        assert len(line) <= 1900
        detail = json.loads(
            (bench.REPO / "BENCH" / "bench_detail.json").read_text())
        return json.loads(line), detail

    @staticmethod
    def _window(levels, eff, unstable):
        lo, hi = levels
        w = TestStableWindowPolicy()._window(eff, 0.97, unstable)
        legs = w.pop("local[2]"), w.pop("local[8]")
        w[f"local[{lo}]"], w[f"local[{hi}]"] = legs
        return w

    def test_default_run_prints_the_records(self, tmp_path, monkeypatch,
                                            capsys):
        self._host(tmp_path, monkeypatch)
        before = {k: p.read_bytes() for k, p in self._records().items()}
        d, detail = self._run(capsys)
        assert d["value"] == 2.0
        for key, path in self._records().items():
            record = json.loads(before[key])
            assert d[key]["cached"] == record["measured_at"]
            assert "stale" not in d[key]
            assert detail[key]["remeasure_skipped"] == (
                "not_measurable_here" if key == "extraction_iso"
                else "not_requested")
            assert path.read_bytes() == before[key]

    def test_optional_window_without_record_is_omitted(
            self, tmp_path, monkeypatch, capsys):
        self._host(tmp_path, monkeypatch)
        bench.stable_cache_path((8, 32)).unlink()
        assert bench.measure_or_reuse_window((8, 32)) is None
        d, detail = self._run(capsys)
        assert "extraction_wide" not in d
        assert "extraction_wide" not in detail
        assert d["extraction"]["cached"]

    def test_full_unstable_window_is_published_verbatim(
            self, tmp_path, monkeypatch, capsys):
        self._host(tmp_path, monkeypatch, ("bench.py", "--full"))
        measured = {}

        def fake(corpus, levels, **k):
            measured[levels] = self._window(levels, 0.70, unstable=True)
            return measured[levels]
        monkeypatch.setattr(bench, "run_scaling", fake)
        before = {k: p.read_bytes() for k, p in self._records().items()}
        d, detail = self._run(capsys)
        for key, levels in (("extraction", (2, 8)),
                            ("extraction_wide", (8, 32))):
            assert detail[key] == measured[levels]
            assert d[key]["unstable"] is True
            assert d[key]["efficiency"] == 0.70
            assert "cached" not in d[key]
        for key, path in self._records().items():
            assert path.read_bytes() == before[key]
        report = (tmp_path / "BENCH" / "BASELINE.md").read_text()
        assert report.count("Window flagged UNSTABLE") == 2
        assert report.count("measured this run") == 2

    def test_full_stable_window_rewrites_record(
            self, tmp_path, monkeypatch, capsys):
        self._host(tmp_path, monkeypatch, ("bench.py", "--full"))
        monkeypatch.setattr(
            bench, "run_scaling",
            lambda corpus, levels, **k: self._window(levels, 0.9,
                                                     unstable=False))
        iso = self._records()["extraction_iso"]
        iso_before = iso.read_bytes()
        d, detail = self._run(capsys)
        for key, levels in (("extraction", (2, 8)),
                            ("extraction_wide", (8, 32))):
            assert d[key]["efficiency"] == 0.9
            assert "remeasure_skipped" not in detail[key]
            record = json.loads(bench.stable_cache_path(levels).read_text())
            assert record["scaling_efficiency"] == 0.9
            assert record["window_key"]["levels"] == list(levels)
            assert record["measured_at"]
        assert iso.read_bytes() == iso_before


class TestDeadlineCappedRounds:
    """Noise-triggered extension rounds run up to max_rounds and no
    further."""

    def _fake_workers(self, walls={"n": 0}):
        # alternating throughput so the matched-pair ratio spread
        # stays > 0.1 and the noise extension WANTS to run
        def lo_fn(cores):
            return {"cores": cores, "wall_sec": 5.0, "docs": 100,
                    "docs_per_sec": 20.0}

        def hi_fn(cores):
            walls["n"] += 1
            dps = 80.0 if walls["n"] % 2 else 40.0
            return {"cores": cores, "wall_sec": 5.0, "docs": 100,
                    "docs_per_sec": dps}
        return lo_fn, hi_fn

    def _quiet_probes(self, monkeypatch):
        monkeypatch.setattr(
            bench, "cpu_ceiling",
            lambda lo, hi, with_steal=False:
                (0.95, 0.0) if with_steal else 0.95)
        monkeypatch.setattr(bench, "_proc_stat_steal", lambda: 0.0)

    def _patch_workers(self, monkeypatch):
        lo_fn, hi_fn = self._fake_workers()
        monkeypatch.setattr(
            bench, "_run_worker",
            lambda cores, corpus, timeout: hi_fn(cores) if cores == 8
            else lo_fn(cores))

    def test_noisy_window_extends_without_deadline(self, monkeypatch):
        self._quiet_probes(monkeypatch)
        self._patch_workers(monkeypatch)
        out = bench.run_scaling("/nonexistent", (2, 8), min_rounds=2,
                                max_rounds=4)
        assert len(out["efficiency_per_round"]) == 4  # extended


class TestLegTimeout:
    def test_leg_timeout_is_the_window_cost_estimate(self, monkeypatch):
        """Every scaling leg's subprocess gets its window's cost
        estimate (25% headroom included) as its timeout, not a fixed
        900 s."""
        import subprocess as _sp
        monkeypatch.setattr(
            bench, "cpu_ceiling",
            lambda lo, hi, with_steal=False:
                (0.95, 0.0) if with_steal else 0.95)
        monkeypatch.setattr(bench, "_proc_stat_steal", lambda: 0.0)
        seen = []

        def fake_run(cmd, **kw):
            seen.append(kw["timeout"])
            cores = int(cmd[cmd.index("--scaling-worker") + 1])
            leg = {"cores": cores, "wall_sec": 5.0, "docs": 100,
                   "docs_per_sec": 19.0 * cores}
            return _sp.CompletedProcess(cmd, 0, json.dumps(leg) + "\n", "")

        monkeypatch.setattr(bench.subprocess, "run", fake_run)
        bench.run_scaling("/nonexistent", (2, 8), min_rounds=2,
                          max_rounds=2)
        want = bench._window_cost_estimate((2, 8), 2)
        assert len(seen) == 5  # lo hi lo hi lo
        assert seen == [want] * 5 and want != 900


class TestCodeDigestClosure:
    def test_insensitive_to_non_extraction_modules(self, monkeypatch,
                                                   tmp_path):
        # copy the package tree, touch a curation-side file: digest
        # must NOT change (a dedup operator edit must not invalidate a
        # measured-stable scaling window that never executed it)
        import shutil
        pkg = tmp_path / "dxnn_ocr_cpp_spark"
        shutil.copytree(bench.REPO / "dxnn_ocr_cpp_spark", pkg)
        monkeypatch.setattr(bench, "REPO", tmp_path)
        before = bench._package_code_digest()
        (pkg / "operators" / "dedup.py").write_text("# changed\n")
        assert bench._package_code_digest() == before

    def test_sensitive_to_hot_path(self, monkeypatch, tmp_path):
        import shutil
        pkg = tmp_path / "dxnn_ocr_cpp_spark"
        shutil.copytree(bench.REPO / "dxnn_ocr_cpp_spark", pkg)
        monkeypatch.setattr(bench, "REPO", tmp_path)
        before = bench._package_code_digest()
        with open(pkg / "htmlseg.py", "a") as f:
            f.write("\n# semantics change\n")
        assert bench._package_code_digest() != before

    def test_closure_files_all_exist(self):
        pkg = bench.REPO / "dxnn_ocr_cpp_spark"
        missing = [r for r in bench._EXTRACTION_CLOSURE
                   if not (pkg / r).exists()]
        assert not missing, missing


class TestIsoShardSlicing:
    def test_iso_stable_cache_is_separate_from_single_jvm(self):
        # the iso window must never republish (or be substituted by)
        # a single-JVM 8->32 window: distinct cache files
        a = bench.stable_cache_path((8, 32))
        b = bench.stable_cache_path((8, 32), "iso")
        assert a != b
        assert "iso" in b.name


class TestNotMeasurableHere:
    """A window whose hi leg needs more cores than the host has is
    never measured, not even under `--full`: oversubscribed legs would
    measure the host's time-slicing, not the engine."""

    def _no_measure(self, monkeypatch):
        def boom(*a, **k):
            raise AssertionError("measured an oversubscribed window")
        monkeypatch.setattr(bench, "run_scaling", boom)
        monkeypatch.setattr(bench, "ensure_corpus", boom)
        monkeypatch.setattr(bench.os, "cpu_count", lambda: 4)

    def test_wide_window_on_small_host_reuses_committed_record(
            self, monkeypatch):
        self._no_measure(monkeypatch)
        committed = json.loads(
            bench.stable_cache_path((8, 32)).read_text())
        out = bench.measure_or_reuse_window((8, 32), full=True)
        assert out["remeasure_skipped"] == "not_measurable_here"
        assert out["measured_at"] == committed["measured_at"]
        assert out["scaling_efficiency"] == committed["scaling_efficiency"]

    def test_full_run_on_small_host_measures_nothing(
            self, tmp_path, monkeypatch, capsys):
        import shutil
        import sys as _sys
        self._no_measure(monkeypatch)
        (tmp_path / "BENCH").mkdir()
        for f in (bench.REPO / "BENCH").glob("stable_scaling_*.json"):
            shutil.copy(f, tmp_path / "BENCH" / f.name)
        monkeypatch.setattr(bench, "REPO", tmp_path)
        monkeypatch.setattr(bench, "run_queries",
                            lambda: {"q1": 1.25, "q2": 0.75})
        monkeypatch.setattr(_sys, "argv", ["bench.py", "--full"])
        bench.main()
        line = capsys.readouterr().out.strip().splitlines()[-1]
        assert len(line) <= 1900
        d = json.loads(line)
        assert d["value"] == 2.0
        detail = json.loads(
            (tmp_path / "BENCH" / "bench_detail.json").read_text())
        for key, levels in bench.WINDOWS:
            tag = "iso" if key == "extraction_iso" else ""
            committed = json.loads(
                bench.stable_cache_path(levels, tag).read_text())
            assert d[key]["cached"] == committed["measured_at"]
            assert detail[key]["remeasure_skipped"] == \
                "not_measurable_here"
        report = (tmp_path / "BENCH" / "BASELINE.md").read_text()
        assert report.count("not measurable here") == 3


class TestKnobs:
    def test_environment_reads_are_exactly_the_kept_knobs(self):
        # every SPARK_GRAFT_* variable bench.py reads, via
        # os.environ.get / os.getenv / os.environ[...]
        import ast
        tree = ast.parse((bench.REPO / "bench.py").read_text())
        read = set()
        for node in ast.walk(tree):
            arg = None
            if isinstance(node, ast.Call) and node.args and (
                    (isinstance(node.func, ast.Attribute)
                     and node.func.attr in ("get", "getenv"))):
                arg = node.args[0]
            elif isinstance(node, ast.Subscript):
                arg = node.slice
            if isinstance(arg, ast.Constant) \
                    and isinstance(arg.value, str) \
                    and arg.value.startswith("SPARK_GRAFT_"):
                read.add(arg.value[len("SPARK_GRAFT_"):])
        assert read == {"SF_DIR", "CPUS", "SCALE_DOCS", "CORPUS_CACHE",
                        "SKIP_QUERIES"}


class TestPinning:
    def _cmd(self, mod, monkeypatch):
        import subprocess as _sp
        seen = []

        def fake_run(cmd, **kw):
            seen.append(cmd)
            leg = {"cores": 2, "wall_sec": 1.0, "docs": 1,
                   "docs_per_sec": 1.0}
            return _sp.CompletedProcess(cmd, 0, json.dumps(leg), "")
        monkeypatch.setattr(mod.subprocess, "run", fake_run)
        monkeypatch.setattr(mod.os, "cpu_count", lambda: 32)
        mod._run_worker(2, "/nonexistent", 10.0)
        return seen[0]

    def test_legs_pin_when_taskset_exists(self, monkeypatch):
        monkeypatch.setattr(bench, "PIN_CPUS", True)
        cmd = self._cmd(bench, monkeypatch)
        assert cmd[:3] == ["taskset", "-c", "0-1"]

    def test_no_taskset_means_no_prefix(self, monkeypatch):
        # PIN_CPUS is decided once, at import, from what the host has
        import importlib.util
        import shutil
        monkeypatch.setattr(shutil, "which", lambda name: None)
        spec = importlib.util.spec_from_file_location(
            "bench_without_taskset", bench.REPO / "bench.py")
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        assert mod.PIN_CPUS is False
        cmd = self._cmd(mod, monkeypatch)
        assert "taskset" not in cmd
        assert cmd[1:3] == [str(bench.REPO / "bench.py"), "--scaling-worker"]


class TestCommittedRecords:
    def test_each_record_parses_with_measured_at_and_legs(self):
        # a default run's JSON line rests on these files alone
        for key, levels in bench.WINDOWS:
            tag = "iso" if key == "extraction_iso" else ""
            record = json.loads(
                bench.stable_cache_path(levels, tag).read_text())
            assert record["measured_at"]
            for n in levels:
                assert record[f"local[{n}]"]["docs_per_sec"] > 0
