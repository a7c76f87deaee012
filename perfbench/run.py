"""Extraction benchmark.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \
        --seconds 10 --trace 0

Runs one workload (inputs.WORKLOADS, see NOTES.md) through the public
API in one process, closed loop: each timed pass is one job over the
whole staged input and the next starts when it ends. Passes alternate
between the local[2] session's two task slots and one slot (the other
held by a sleeping task), so the 1->2 scaling ratio compares passes
measured back to back. Then one checkpoint cycle: extract_checkpointed
over 90% of the urls, resumed over 100%. Every output is checked
(check.py).

Prints one `workload/metric value unit` line per metric, then, as the
last line, one JSON object {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics (END_TO_END);
--trace 1 adds a traced session and reports the per-layer metrics
(layers.PER_LAYER). Exits non-zero and prints no result if the program
cannot be imported, the slots would not fit the CPUs, or the run
overruns DEADLINE_S.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager, nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402
from perfbench.check import (Checker, reference_texts,  # noqa: E402
                             summarize, texts_for)
from perfbench.probes import (RssSampler, Tracer, tree_cpu_s,  # noqa: E402
                              tree_pids)

# name -> unit, as in BENCHMARK.json
END_TO_END = {
    "docs_per_s": "docs/s",
    "docs_per_s_1slot": "docs/s",
    "scaling_eff_1_2": "ratio",
    "cpu_ms_per_doc": "ms",
    "resume_s": "s",
    "ckpt_bytes_per_doc": "B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

SLOTS = 2           # task slots of the session; 1-slot passes hold one
DRIVER_CPUS = 1     # this process and the driver JVM beside the task slots
MIN_ROUNDS = 2      # rounds of timed passes, even past --seconds
FIRST_PASSES = MIN_ROUNDS + 1   # 2-slot passes every run has (cpu_ms_per_doc)
DEADLINE_S = 170    # the whole run, set-up and checks included


def pinned_env() -> dict:
    """Environment for this process and all it starts: a fixed hash
    seed (driver and Python workers), workers that can import the
    program, and temporary files kept inside the checkout."""
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    return dict(os.environ, PYTHONHASHSEED="0", PYTHONPATH=":".join(path),
                TMPDIR=str(WORK / "tmp"),
                SPARK_LOCAL_DIRS=str(WORK / "spark-local"))


def spark_conf(event_log: Path | None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # prepended to the program's own extraJavaOptions (its GC choice)
        "spark.driver.defaultJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.executorEnv.PYTHONHASHSEED": "0",
        # one task per staged file: files are never packed together
        "spark.sql.files.openCostInBytes": str(1 << 30),
    }
    if event_log is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*.parquet"))


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload = workload
        self.ckpt = workload == "checkpoint_resume"
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.n = inputs.N_DOCS[workload]
        self.dir = WORK / "run"
        self.checker = Checker(self.n)
        self.tracer = Tracer(uuid.uuid4().hex[:16], traced)
        self.sampler = RssSampler(os.getpid())
        self.spark = None
        self.legs: dict[str, dict] = {}     # leg -> slots -> pass records
        self.setups: list[float] = []
        self.layer: dict[str, float] = {}   # per-layer values, traced run
        self.ref = self.ref90 = self.ref_dir = self.expected = None
        self.peak_rss_mb = 0.0                   # tree peak of the last timed call
        self.leg_peaks: dict[str, float] = {}    # JVM / Python worker peaks of a leg
        self.t0 = time.perf_counter()

    def note(self, msg: str) -> None:
        """Progress on stderr; stdout carries only the results."""
        print(f"perfbench [{time.perf_counter() - self.t0:6.1f}s] {msg}",
              file=sys.stderr, flush=True)

    # --- sessions ---------------------------------------------------------

    def start(self, event_log: Path | None = None) -> float:
        from dxnn_ocr_cpp_spark.session import build_session

        t0 = time.perf_counter()
        with self.tracer.span("session.build_session"):
            self.spark = build_session(app=f"perfbench-{self.workload}",
                                       master=f"local[{SLOTS}]",
                                       extra_conf=spark_conf(event_log))
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and its JVM, wait for them, and leave no process
        of this run behind."""
        try:
            self.stop()
        finally:
            from pyspark import SparkContext

            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            for pid in tree_pids(os.getpid())[1:]:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            self.sampler.stop()

    def docs(self):
        return self.spark.read.parquet(str(self.dir / "docs"))

    def read(self, path: Path):
        return self.spark.read.parquet(str(path))

    # --- the workload's jobs ------------------------------------------------

    def extract_to(self, docs, out: Path) -> None:
        from dxnn_ocr_cpp_spark.pipeline import extract

        with self.tracer.span("pipeline.extract"):
            extract(docs).write.mode("overwrite").parquet(str(out))

    def checkpointed(self, docs, root: Path):
        from dxnn_ocr_cpp_spark.pipeline import extract_checkpointed

        with self.tracer.span("pipeline.extract_checkpointed"):
            out, _ = extract_checkpointed(self.spark, docs, str(root))
        return out

    def timed(self, label: str, fn, one_slot: bool = False):
        """(wall s, process-tree CPU s, result) of fn(), as job group
        `label`, on one task slot if `one_slot`."""
        sc = self.spark.sparkContext
        with self.one_slot() if one_slot else nullcontext():
            sc.setJobGroup(label, label)
            self.sampler.reset()
            c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            with self.tracer.span(label, slots=1 if one_slot else SLOTS):
                out = fn()
            t1, c1 = time.perf_counter(), tree_cpu_s(os.getpid())
            sc.setJobGroup("untimed", "untimed")
        self.peak_rss_mb = self.sampler.peak_mb("tree")
        for k in ("jvm", "py_worker"):   # per-layer peaks over the leg
            self.leg_peaks[k] = max(self.leg_peaks.get(k, 0.0),
                                    self.sampler.peak_mb(k))
        return t1 - t0, c1 - c0, out

    # --- checks -------------------------------------------------------------

    def set_reference(self, ref_dir: Path, docs) -> None:
        """The output every later pass must reproduce (extract() over
        the whole input), its 90% split, and the extract_python texts of
        the check sample, which the reference must match too."""
        self.ref_dir = ref_dir
        ref = self.read(ref_dir)
        self.ref = summarize(ref)
        self.ref90 = summarize(inputs.resume_split(ref))
        off = abs(self.n - self.ref.urls) + self.ref.rows - self.ref.urls
        if off:   # missing or duplicated rows, each a failed doc
            self.checker.failed |= {f"<reference row {i}>" for i in range(off)}
            self.checker.problems.append(f"reference: {self.ref}")
        urls = inputs.urls(self.seed, inputs.check_indices(
            self.n, self.seed, self.workload))
        with self.tracer.span("pipeline.extract_python"):
            self.expected = reference_texts(
                docs.where(docs.url.isin(urls)).select("url", "html").collect())
        self.check_sample("reference sample", ref)

    def check(self, label: str, out_df, full: bool = True) -> None:
        ref_df = self.read(self.ref_dir)
        want = self.ref
        if not full:
            ref_df, want = inputs.resume_split(ref_df), self.ref90
        self.checker.expect_summary(label, want, summarize(out_df),
                                    ref_df, out_df)

    def check_sample(self, label: str, out_df) -> None:
        self.checker.expect_texts(label, self.expected,
                                  texts_for(out_df, self.expected))

    # --- set-up and measurement ----------------------------------------------

    @contextmanager
    def one_slot(self):
        """Hold one of the session's two task slots with a sleeping JVM
        task, so the jobs run inside use one slot; released on exit."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        sched = sc._jsc.sc().taskScheduler()

        def running() -> int:
            # the scheduler's own count: the status tracker's lags by
            # seconds (it is refreshed on a timer, not per task)
            opt = sched.runningTasksByExecutors().get("driver")
            return opt.get() if opt.isDefined() else 0

        def wait_until(cond, what):
            deadline = time.monotonic() + 60
            while not cond():
                if time.monotonic() > deadline:
                    raise RuntimeError(f"the slot-holding task {what}")
                time.sleep(0.01)

        def hold():
            sc.setJobGroup("hold-slot", "hold-slot", interruptOnCancel=True)
            try:   # id + ...: not foldable, so it sleeps in a task
                self.spark.range(1, numPartitions=1).selectExpr(
                    "java_method('java.lang.Thread', 'sleep', id + 600000L)").collect()
            except Py4JJavaError:
                pass   # cancelled on release

        thread = threading.Thread(target=hold, daemon=True)
        thread.start()
        wait_until(lambda: running() == 1, "never started")
        try:
            yield
        finally:
            sc.cancelJobGroup("hold-slot")
            thread.join(timeout=60)
            wait_until(lambda: running() == 0, "was never released")

    def setup(self, event_log: Path | None = None, stage: bool = False):
        """One set-up sample: build_session and a discarded warm-up pass
        over a quarter of the urls. The first also stages the input
        (timed on its own) and, on checkpoint_resume, makes the
        reference with extract()."""
        build = self.start(event_log)
        self.leg_peaks = {}
        if stage:
            t0 = time.perf_counter()
            with self.tracer.span("corpus.stage"):
                inputs.stage(self.workload, self.seed, str(self.dir / "docs"))
            self.layer["corpus.stage_s"] = time.perf_counter() - t0
            self.layer["session.build_s"] = build
        docs = self.docs()
        t0 = time.perf_counter()
        warm, part = self.dir / f"warm{len(self.setups)}", inputs.warm_split
        if self.ckpt:
            self.checkpointed(part(inputs.resume_split(docs)), warm)
            self.checkpointed(part(docs), warm)
        else:
            self.extract_to(part(docs), warm)
        self.setups.append(build + time.perf_counter() - t0)
        self.note(f"set-up {self.setups[-1]:.2f}s (session {build:.2f}s)")
        if self.ckpt and self.ref is None:
            # the checkpointed output must equal extract() on the same docs
            self.extract_to(docs, self.dir / "reference")
            self.set_reference(self.dir / "reference", docs)
        return docs

    @staticmethod
    def new_rec() -> dict:
        return {"wall": [], "rate": [], "cpu_per_doc": [], "rss_mb": [],
                "resume": [], "bytes": {}}

    def measure(self, leg: str, docs, slot_counts, seconds: float) -> None:
        """Rounds of one timed pass per slot count, back to back, until
        `seconds` are used and at least MIN_ROUNDS ran, then a closing
        pass at the first slot count, so the legs sit symmetric in time
        (2 1 2 1 2). On checkpoint_resume a pass is the fresh run of a
        checkpoint cycle."""
        recs = self.legs[leg] = {n: self.new_rec() for n in slot_counts}

        def one_pass(n):
            label = f"{leg}-s{n}-pass{len(recs[n]['wall'])}"
            if self.ckpt:
                self.cycle(label, docs, recs[n], slots=n, resume=False)
            else:
                self.pass_extract(label, n, docs, recs[n])

        t0 = time.perf_counter()
        r = 0
        while r < MIN_ROUNDS or time.perf_counter() - t0 < seconds:
            for n in slot_counts:
                one_pass(n)
            r += 1
        one_pass(slot_counts[0])
        for n, rec in recs.items():
            self.note(f"{leg} {n}-slot passes " + " ".join(f"{w:.2f}" for w in rec["wall"]))

    def record(self, rec: dict, docs: int, wall: float, cpu: float) -> None:
        rec["wall"].append(wall)
        rec["rate"].append(docs / wall)
        rec["cpu_per_doc"].append(cpu / docs)
        rec["rss_mb"].append(self.peak_rss_mb)

    def pass_extract(self, label: str, slots: int, docs, rec: dict) -> None:
        """extract() over the whole input to a parquet sink. The run's
        first pass is the reference; the others are checked against it,
        the first of each slot count per url too, and deleted."""
        out = self.dir / label
        wall, cpu, _ = self.timed(label, lambda: self.extract_to(docs, out),
                                  one_slot=slots == 1)
        self.record(rec, self.n, wall, cpu)
        if self.ref is None:
            self.set_reference(out, docs)
            return
        out_df = self.read(out)
        self.check(label, out_df)
        if len(rec["wall"]) == 1:
            self.check_sample(f"{label} sample", out_df)
        shutil.rmtree(out, ignore_errors=True)

    def cycle(self, label: str, docs, rec: dict, slots: int = SLOTS,
              resume: bool = True, after_fresh=None) -> None:
        """One checkpoint cycle: a fresh extract_checkpointed over the
        90% split (what a crashed run had finished), then the resumed
        run over 100% on the same root. Records the fresh pass, the
        resume wall, and the bytes of the blocks and extracted
        checkpoints (_lineage, which carries a random run id, excluded).
        `after_fresh(root)` runs between the two."""
        root = self.dir / label
        wall, cpu, out = self.timed(
            label, lambda: self.checkpointed(inputs.resume_split(docs), root),
            one_slot=slots == 1)
        self.record(rec, self.ref90.rows, wall, cpu)
        self.check(f"{label} fresh", out, full=False)
        if after_fresh is not None:
            after_fresh(root)
        if resume:
            wall, _, out = self.timed(f"{label}-resume",
                                      lambda: self.checkpointed(docs, root))
            rec["resume"].append(wall)
            self.check(f"{label} resume", out)
            self.check_sample(f"{label} resume sample", out)
            rec["bytes"].update({s: dir_bytes(root / s / "data")
                                 for s in ("blocks", "extracted")})
            self.note(f"{label} fresh {rec['wall'][-1]:.2f}s, resume {wall:.2f}s")
        shutil.rmtree(root, ignore_errors=True)

    # --- the run --------------------------------------------------------------

    def run(self) -> dict[str, float]:
        self.sampler.start()
        docs = self.setup(stage=True)
        if self.traced:
            return self.run_traced(docs)
        self.measure("A", docs, (SLOTS, 1), self.seconds)
        self.legs["C"] = self.new_rec()
        self.cycle("C", docs, self.legs["C"])
        self.stop()
        self.setup()                 # the second set-up sample
        self.stop()
        return self.end_to_end()

    def run_traced(self, docs) -> dict[str, float]:
        """Untraced 2-slot passes (the base of trace.overhead_frac), then
        a session with the event log on and spans recorded: its passes
        and the layer probes."""
        from perfbench import layers

        self.measure("A", docs, (SLOTS,), 0)
        self.stop()
        log = self.dir / "eventlog"
        log.mkdir(parents=True)
        self.tracer.enabled = True
        docs = self.setup(event_log=log)
        self.measure("T", docs, (SLOTS,), 0)
        layers.probe(self, docs)
        self.stop()
        return layers.metrics(self, log)

    def end_to_end(self) -> dict[str, float]:
        hi, lo, ck = self.legs["A"][SLOTS], self.legs["A"][1], self.legs["C"]
        docs_per_s = statistics.median(hi["rate"])
        per_slot = statistics.median(lo["rate"])
        return {
            "docs_per_s": docs_per_s,
            "docs_per_s_1slot": per_slot,
            "scaling_eff_1_2": docs_per_s / (SLOTS * per_slot),
            # the same passes in every run, so every run samples the
            # JVM's JIT at the same age
            "cpu_ms_per_doc": 1000 * statistics.median(
                hi["cpu_per_doc"][:FIRST_PASSES]),
            "resume_s": ck["resume"][0],
            "ckpt_bytes_per_doc": sum(ck["bytes"].values()) / self.n,
            "peak_rss_mb": statistics.median(hi["rss_mb"]),
            "setup_s": statistics.median(self.setups),
        }


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminated(signum, frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main(argv=None) -> int:
    args = parse_args(argv)
    env = pinned_env()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # the hash seed is read at interpreter start: re-exec pinned
        os.execve(sys.executable, [sys.executable] + sys.argv, env)
    os.environ.update(env)
    try:
        import dxnn_ocr_cpp_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    if SLOTS + DRIVER_CPUS > cpus:
        print(f"perfbench: {SLOTS} task slots need {SLOTS + DRIVER_CPUS} "
              f"CPUs, this process has {cpus}; refusing to run",
              file=sys.stderr)
        return 3
    shutil.rmtree(WORK / "run", ignore_errors=True)
    for d in ("run", "tmp", "spark-local", "trace"):
        (WORK / d).mkdir(parents=True, exist_ok=True)

    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminated)   # still stop the JVM
    signal.alarm(DEADLINE_S)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        metrics = run.run()
    finally:
        run.shutdown()
        signal.alarm(0)
        shutil.rmtree(WORK / "run", ignore_errors=True)
    if args.trace:
        from perfbench.layers import PER_LAYER as units
        run.tracer.write(str(WORK / "trace" / f"{args.workload}-seed{args.seed}.json"))
    else:
        units = END_TO_END
    for problem in run.checker.problems:
        print(f"perfbench: check failed: {problem}", file=sys.stderr)
    for name, unit in units.items():
        print(f"{args.workload}/{name} {metrics[name]!r} {unit}")
    print(f"{args.workload}/fail_frac {run.checker.fail_frac!r} ratio")
    failed = min(len(run.checker.failed), run.n)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.n,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
