"""Layered benchmark of the extraction engine.

    python3 perfbench/run.py --workload pdf_heavy --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke

One run: pre-flight checks, input generation and goldens (untimed), session
start and one warm-up job (reported as ``setup_s``), then timed jobs through
the engine's public entry points for ``--seconds``, each checked against
its expected output.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--smoke`` runs every workload once at a tiny size, traced, with every
correctness gate and a planted-error self-test of the checks; it exits
non-zero if any of that fails.  See perfbench/README.md for the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
REQUIRED = ("databricks_pdf_ocr_spark/__init__.py", "jobs/extract.py",
            "jobs/curate.py", "tools/goldens.py", "settings.toml")

#: workload → (kind, documents per job, documents in smoke mode)
WORKLOADS = {
    "pdf_heavy": ("extract", 160, 12),
    "span_flood": ("extract", 200, 30),
    "resume_tail": ("resume", 400, 40),
    "curate_neardup": ("curate", 800, 60),
}
RESUME_BUCKETS = 8                # buckets the resumed run extracts
WARMUP_JOBS = 1                   # untimed jobs before the clock starts
MIN_TIMED_JOBS = 3                # keeps the median on the same jobs

END_TO_END = {"job_s": "s", "docs_per_s": "1/s", "cpu_s": "s",
              "peak_rss_mb": "MB", "setup_s": "s"}
SPARK_LAYERS = ("job", "tables", "checkpoint", "extract", "state_views",
                "text_analysis", "dedup", "curate")
SELF_LAYERS = ("job", "tables", "checkpoint", "curate", "dedup")
PER_LAYER = {
    **{f"extract_span.busy_s.{k}": "s" for k in ("pdf", "html", "text",
                                                  "image")},
    **{f"extract_span.spans.{k}": "count" for k in ("pdf", "html", "text",
                                                     "image")},
    "extract_span.failed": "count",
    "span_fail_ratio": "ratio",
    "pdfmini.parse_pdf.busy_s": "s", "pdfmini.pages": "count",
    "segment.reading_order_text.busy_s": "s",
    "htmlmini.extract_blocks.busy_s": "s",
    "ocr_fallback.calls": "count",
    "extract.explode_s": "s", "extract.arrow_roundtrip_s": "s",
    "extract.extract_s": "s", "extract.reassemble_s": "s",
    "extract.kernel_share": "ratio",
    "tables.append_s": "s", "tables.append_mb": "MB",
    "tables.append_files": "count", "tables.overwrite_partitions_s": "s",
    "checkpoint.next_run_seq_s": "s", "checkpoint.filter_pending_s": "s",
    "checkpoint.mark_from_results_s": "s", "checkpoint.spark_jobs": "count",
    "state_views.latest_results_s": "s",
    "job.select_s": "s", "job.extract_write_s": "s", "job.mark_s": "s",
    "job.assemble_s": "s",
    "text_analysis.with_features_s": "s", "curate.exact_dedup_s": "s",
    "dedup.minhash_lsh_pairs_s": "s", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "dedup.neardup_components_s": "s", "dedup.components_rounds": "count",
    "curate.write_s": "s", "curate.kept_docs": "count",
    "trace.job_s": "s", "trace.self_sum_s": "s", "trace.overhead_s": "s",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS},
    **{f"{layer}.spark.{f}": u for layer in SPARK_LAYERS
       for f, u in (("jobs", "count"), ("tasks", "count"), ("run_s", "s"),
                    ("gc_s", "s"), ("shuffle_write_mb", "MB"),
                    ("spill_mb", "MB"), ("task_skew", "ratio"))},
    "spark.core_util": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark process: one workload, one seed, one session."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, smoke: bool):
        self.name = workload
        self.kind, n_docs, n_smoke = WORKLOADS[workload]
        self.n_docs = n_smoke if smoke else n_docs
        self.seed, self.seconds = seed, seconds
        self.trace, self.smoke = trace, smoke
        self.cores = os.cpu_count() or 4
        self.dir = WORK / "runs" / f"{workload}-{seed}-{os.getpid()}"
        self.spark = None

    # -- set-up -------------------------------------------------------------

    def prepare_inputs(self) -> None:
        """Inputs and expected outputs, before any JVM exists (the golden
        pass forks worker processes)."""
        from perfbench import inputs
        from databricks_pdf_ocr_spark import fixtures
        if self.kind == "curate":
            self.rows = inputs.curate_corpus(self.seed, self.n_docs)
            self.expected = inputs.curate_expected(self.rows)
            log(f"curate corpus: {len(self.rows)} docs, "
                f"{len(self.expected)} expected survivors")
        else:
            profile = (inputs.SPAN_FLOOD if self.name == "span_flood"
                       else fixtures.BENCH_HEAVY if self.name == "pdf_heavy"
                       else fixtures.BENCH)
            self.inp = inputs.extraction_inputs(
                ROOT, WORK, self.dir, self.name, profile, self.seed,
                self.n_docs, self.cores)
            log(f"input: {self.inp.n_docs} docs, {self.inp.n_spans} spans, "
                f"{self.inp.failed_spans} failing; goldens "
                f"{'cached' if self.inp.golden_cached else 'computed'} "
                f"(input {self.inp.input_hash[:12]})")

    def start(self) -> float:
        """One cold session start: JVM launch, context, Python workers."""
        from perfbench import engine
        zip_path = engine.build_zip(ROOT, WORK / "build" /
                                    "databricks_pdf_ocr_spark.zip")
        events = self.dir / "events" if self.trace else None
        t0 = time.perf_counter()
        self.spark = engine.start_session(zip_path, self.cores, self.dir,
                                          events)
        start_s = time.perf_counter() - t0
        if self.kind != "curate":
            for k, v in engine.EXTRACT_CONFS.items():
                self.spark.conf.set(k, v)
        log(f"session start {start_s:.2f}s")
        return start_s

    def warm_up(self) -> float:
        """``WARMUP_JOBS`` untimed jobs.  For resume_tail the first is the
        crashed run whose tables every later run resumes from: it stops
        after all but ``RESUME_BUCKETS`` of the input's occupied buckets."""
        from perfbench import engine
        from jobs.extract import run_job
        t0 = time.perf_counter()
        n = WARMUP_JOBS
        if self.kind == "resume":
            occupied = engine.occupied_buckets(self.spark,
                                               self.inp.input_path)
            if occupied <= RESUME_BUCKETS:
                raise RuntimeError(f"{occupied} occupied buckets leave "
                                   f"nothing to crash before")
            self.snapshot = engine.fresh_dir(self.dir / "crashed")
            with contextlib.redirect_stderr(io.StringIO()):
                _, rc = run_job(self.spark, engine.extract_args(
                    self.inp.input_path, self.snapshot, "incremental",
                    fail_after=occupied - RESUME_BUCKETS))
            if rc != 3:
                raise RuntimeError(f"crash run exited {rc}, expected 3")
            n -= 1
        for i in range(n):
            run = (engine.run_curate if self.kind == "curate"
                   else engine.run_extract)
            run(self.spark, self.job_args(self.dir / f"warm{i}"))
            shutil.rmtree(self.dir / f"warm{i}", ignore_errors=True)
        return time.perf_counter() - t0

    def job_args(self, tables: Path):
        from perfbench import engine
        if self.kind == "curate":
            return engine.curate_args(self.dir / "curate_in",
                                      engine.fresh_dir(tables) / "out")
        if self.kind == "resume":
            shutil.rmtree(tables, ignore_errors=True)
            shutil.copytree(self.snapshot, tables)
            return engine.extract_args(self.inp.input_path, tables,
                                       "incremental")
        return engine.extract_args(self.inp.input_path,
                                   engine.fresh_dir(tables), "reprocess_all")

    # -- one timed job ------------------------------------------------------

    def timed_job(self, tables: Path) -> dict:
        from perfbench import engine
        args = self.job_args(tables)
        if self.kind == "curate":
            rec = engine.run_curate(self.spark, args)
            rec["check"] = engine.check_curate(self.spark, Path(args.out),
                                               self.expected)
        else:
            rec = engine.run_extract(self.spark, args)
            rec["check"] = engine.check_extract(
                self.spark, tables, self.inp, rec["stats"]["fingerprint"])
            if self.kind == "resume":
                # the resumed run itself must have extracted the pending
                # buckets, not found an already finished table
                done = rec["stats"].get("docs_done", 0)
                rec["check"]["resumed_docs"] = done
                if not 0 < done < self.inp.n_docs:
                    rec["check"]["failures"] += self.inp.n_docs
        rec["args"] = args
        c = rec["check"]
        log(f"job {rec['wall']:.3f}s cpu {rec['cpu_s']:.2f}s "
            f"rss {rec['peak_rss_mb']:.0f}MB (live heap at start "
            f"{rec['live_heap_mb']:.0f}MB) check {json.dumps(c)}")
        return rec

    def self_test(self, rec: dict) -> None:
        """The checks must see a planted error in a copy of a good output."""
        from perfbench import engine
        args, dest = rec["args"], self.dir / "planted"
        shutil.rmtree(dest, ignore_errors=True)
        if self.kind == "curate":
            (self.spark.read.parquet(args.out)
             .filter(f"doc_id != '{min(self.expected)}'")
             .write.parquet(str(dest)))
            got = engine.check_curate(self.spark, dest,
                                      self.expected)["failures"]
        else:
            engine.plant_wrong_span(self.spark, Path(args.tables), dest)
            got = engine.check_extract(self.spark, dest, self.inp,
                                       rec["stats"]["fingerprint"])["bad_docs"]
        if got != 1:
            raise RuntimeError(f"self-test: planted error reported as {got} "
                               f"failures, expected 1")
        log("self-test: planted error detected")

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        self.prepare_inputs()
        session_s = self.start()
        if self.kind == "curate":
            from perfbench import engine
            engine.write_curate_input(self.spark, self.rows,
                                      self.dir / "curate_in")
        warm_s = self.warm_up()
        log(f"warm-up jobs {warm_s:.2f}s")
        recs, t0 = [], time.perf_counter()
        # the JIT is still warming after one job (curate_neardup, 4 cores:
        # 3.4, 2.9, 2.7, 2.5, 2.5 s for five jobs in a row), so a fixed
        # minimum job count keeps the median on the same job of that slope
        # whatever the host speed
        while (len(recs) < (1 if self.smoke else MIN_TIMED_JOBS)
               or time.perf_counter() - t0 < self.seconds):
            recs.append(self.timed_job(self.dir / f"job{len(recs)}"))
            if not self.smoke:
                shutil.rmtree(self.dir / f"job{len(recs) - 1}",
                              ignore_errors=True)
        if self.smoke:
            self.self_test(recs[0])
        checks = [r["check"] for r in recs]
        if self.trace:
            # the replay is set against the untraced job of median wall time
            by_wall = sorted(recs, key=lambda r: r["wall"])
            metrics, replay_check = self.traced(
                by_wall[(len(by_wall) - 1) // 2])
            checks.append(replay_check)
            units = PER_LAYER
        else:
            job_s = statistics.median(r["wall"] for r in recs)
            metrics = {"job_s": job_s,
                       "docs_per_s": self.n_docs / job_s,
                       "cpu_s": statistics.median(r["cpu_s"] for r in recs),
                       # the smallest: objects an earlier job of the
                       # session leaves reachable (0.3-0.8 GB at the start
                       # of about one curate job in three) only ever add
                       # to a job's peak, and a job run in a session of its
                       # own would not have them
                       "peak_rss_mb": min(r["peak_rss_mb"] for r in recs),
                       "setup_s": session_s + warm_s}
            units = END_TO_END
        failed = sum(c["failures"] for c in checks)
        return {"correct": failed == 0 and all(c.get("fail_ratio_ok", True)
                                               for c in checks),
                "attempted": self.n_docs * len(checks), "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u}
                            for k, u in units.items()},
                "samples": len(recs)}

    # -- traced run ---------------------------------------------------------

    def traced(self, untraced: dict) -> tuple[dict, dict]:
        """Per-layer metrics, and the correctness check of the replay."""
        from perfbench import engine, replay, tracing
        m = {k: 0 for k in PER_LAYER}
        m["trace.job_s"] = untraced["wall"]
        if self.kind != "curate":
            m.update(untraced["phases"])
            m["span_fail_ratio"] = (untraced["check"]["failed_spans"]
                                    / untraced["check"]["spans_in"])
        tr = tracing.Tracer(self.spark)
        tables = self.dir / "replay"
        args = self.job_args(tables)
        if self.kind == "curate":
            m.update(replay.curate_replay(self.spark, tr, args))
            check = engine.check_curate(self.spark, Path(args.out),
                                        self.expected)
            root = "curate.replay"
        else:
            root = "job.replay"
            m.update(replay.extract_probes_before(self.spark, tr, args))
            out = replay.extract_replay(self.spark, tr, args)
            check = engine.check_extract(self.spark, tables, self.inp,
                                         out["fingerprint"])
            m.update(replay.extract_probes_after(self.spark, tr, args,
                                                 out["to_assemble"]))
            m["tables.append_files"] = out["append_files"]
            m["tables.append_mb"] = out["append_mb"]
            for k in ("tables.append", "tables.overwrite_partitions",
                      "checkpoint.next_run_seq",
                      "checkpoint.mark_from_results"):
                m[k + "_s"] = tr.duration(k)
        log(f"replay check {json.dumps(check)}")
        selfs = tr.self_times(root)
        replay_wall = sum(selfs.values())
        for layer in SELF_LAYERS:
            m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
        m["trace.self_sum_s"] = replay_wall
        m["trace.overhead_s"] = replay_wall - untraced["wall"]
        if self.kind != "curate":
            m.update(replay.kernel_pass(self.inp.input_path))
            kernel = sum(m[f"extract_span.busy_s.{k}"]
                         for k in ("pdf", "html", "text", "image"))
            m["extract.kernel_share"] = (kernel / self.cores
                                         / m["extract.extract_s"])
        # event logs are complete once the session has stopped
        replay_groups = {s["name"] for s in tr.subtree(root)}
        self.spark.stop()
        self.spark = None
        groups = tracing.read_event_logs(str(self.dir / "events"))
        for layer in SPARK_LAYERS:
            for f, v in tracing.layer_counters(groups, layer).items():
                m[f"{layer}.spark.{f}"] = v
        m["checkpoint.spark_jobs"] = sum(
            rec["jobs"] for g, rec in groups.items()
            if g in replay_groups and g.startswith("checkpoint."))
        run_s = sum(rec["run_s"] for g, rec in groups.items()
                    if g in replay_groups)
        m["spark.core_util"] = run_s / (self.cores * replay_wall)
        return m, check

    def close(self) -> None:
        """Stop the session, then the JVM itself: it serves the Python
        gateway until its stdin closes, and outlives ``spark.stop()``."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def smoke() -> int:
    """Every workload once at its smoke size, traced, with the planted-error
    self-test; each in its own process, as the long runs are."""
    failures = []
    for name in WORKLOADS:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload",
             name, "--seed", "1", "--seconds", "0", "--trace", "1",
             "--smoke-size"], stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
        ok = bool(res.get("correct")) and res.get("failed") == 0
        log(f"smoke {name}: {'ok' if ok else 'FAILED'} "
            f"(exit {proc.returncode}, {time.perf_counter() - t0:.0f}s)")
        if not ok:
            failures.append(name)
    print(json.dumps({"smoke": "failed" if failures else "ok",
                      "failed_workloads": failures}))
    return 1 if failures else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at a tiny size")
    ap.add_argument("--smoke-size", action="store_true",
                    help="tiny input plus the planted-error self-test")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        log(f"engine sources not found next to the benchmark: {missing}")
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")

    sys.path.insert(0, str(ROOT))
    from perfbench import procstat
    strays = procstat.wait_for_no_strays()
    if strays:
        log("refusing to start: Spark processes still running:\n  "
            + "\n  ".join(strays))
        return 3
    host_before = procstat.host_sample()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              args.smoke_size)
    shutil.rmtree(run.dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        (run.dir / sub).mkdir(parents=True)
    # every scratch file of the JVM, its workers and this process stays in
    # the run directory
    os.environ["SPARK_LOCAL_DIRS"] = str(run.dir / "local")
    os.environ["TMPDIR"] = str(run.dir / "tmp")
    import tempfile
    tempfile.tempdir = str(run.dir / "tmp")
    try:
        result = run.run()
    finally:
        started = procstat.descendants()
        run.close()
        left = procstat.wait_for_exit(started)
        if left:
            log(f"child processes still alive after stop: {left}")
        shutil.rmtree(run.dir, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host_before": host_before,
              "host_after": procstat.host_sample(),
              "samples": result.pop("samples"),
              "correct": result["correct"],
              "metrics": {k: v["value"] for k, v in result["metrics"].items()}}
    with open(WORK / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    log(f"host: {json.dumps(record['host_before'])}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
