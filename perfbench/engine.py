"""Calls into the engine: sessions, jobs and their correctness checks.

Everything here goes through the engine's public entry points —
``jobs.extract.run_job``, ``jobs.curate.run_curate`` and the public
functions of each layer — and times them from outside.
"""

from __future__ import annotations

import contextlib
import gc
import io
import json
import os
import shutil
import time
import zipfile
from pathlib import Path

from pyspark.sql import functions as F

from . import procstat

PACKAGE = "databricks_pdf_ocr_spark"
YOUNG_GEN = "512m"
#: session confs ``jobs/extract.py`` main() applies with its default
#: ``--split-mb 8``; ``run_job`` itself leaves them to the caller
EXTRACT_CONFS = {"spark.sql.files.maxPartitionBytes": "8m",
                 "spark.sql.files.openCostInBytes": "1m",
                 "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"}


def build_zip(root: Path, out: Path) -> Path:
    """The ``--py-files`` archive of the engine package, rebuilt from source
    so that Python workers import the same code as this process."""
    out.parent.mkdir(parents=True, exist_ok=True)
    tmp = out.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for path in sorted((root / PACKAGE).rglob("*.py")):
            z.write(path, path.relative_to(root))
    os.replace(tmp, out)
    return out


def start_session(zip_path: Path, cores: int, run_dir: Path,
                  event_log: Path | None = None):
    """One engine session on ``local[cores]`` with the package shipped to
    the workers, warmed by the same identity ``mapInPandas`` job
    ``jobs/extract.py`` runs before its clock starts."""
    from databricks_pdf_ocr_spark.session import get_spark

    # the maximum heap is the engine's own setting (get_spark's default)
    # and G1 grows the heap as the job demands; a pinned -Xms would make
    # resident memory read the heap cap whatever the job does.  What G1
    # grows it by is made to follow the job, not the host's speed: the
    # young generation is fixed (sized by pause-time goals it swung
    # resident memory by 0.6 GB between runs of the same job), and
    # GCTimeRatio=1 stops G1 growing the heap whenever GC pauses pass a
    # few percent of wall time, which on a shared host they do at random
    # (jobs of one run read 1.9 and 2.5 GB).  32 MB regions keep the
    # engine's few-MB buffers from being humongous allocations, each of
    # which could grow the heap by hundreds of MB
    conf = {"spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(run_dir / "local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xmn{YOUNG_GEN} -XX:GCTimeRatio=1 "
                f"-XX:G1HeapRegionSize=32m -XX:-UsePerfData "
                f"-Djava.io.tmpdir={run_dir / 'tmp'}"}
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false"})
    spark = get_spark(master=f"local[{cores}]", app_name="perfbench",
                      shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.addPyFile(str(zip_path))
    spark.range(cores * 4, numPartitions=cores).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long").count()
    return spark


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# ---------------------------------------------------------------------------
# extraction
# ---------------------------------------------------------------------------

def extract_args(input_path: str, tables: Path, mode: str,
                 fail_after: int | None = None):
    from jobs.extract import build_parser
    argv = ["--input", input_path, "--tables", str(tables), "--mode", mode]
    if fail_after is not None:
        argv += ["--fail-after-buckets", str(fail_after)]
    return build_parser().parse_args(argv)


def occupied_buckets(spark, input_path: str) -> int:
    """Checkpoint buckets the input's documents fall in."""
    from databricks_pdf_ocr_spark.config import load_config
    from databricks_pdf_ocr_spark.operators.extract import bucket_col
    return (spark.read.parquet(input_path)
            .select(bucket_col(load_config().n_buckets)).distinct().count())


def timed_call(fn, spark, args) -> dict:
    """Run ``fn(spark, args)`` under the process-tree meter, capturing its
    stderr (the extraction job reports its phase times there).

    Before it, untimed, the session's memory is brought back to the state
    the first job found, as in a session of its own:

    - Python-side garbage is collected, which lets go of the JVM plans
      (and the broadcasts in them) of earlier jobs' DataFrames caught in
      reference cycles;
    - blocks earlier jobs left cached are dropped.  Curate's
      ``localCheckpoint`` RDDs stay persisted until the context cleaner
      sees them collected, at some later GC: 6, 8, then 13 of them after
      three jobs in a row;
    - full GCs until one frees little (``full_gc_until_settled``): the
      context cleaner frees what one GC found unreachable only after it.
      G1 then sizes the heap for this job from what is still live
      (``live_heap_mb``).  Neither this nor the Python collection is
      enough alone: with either one, curate jobs started with 0.3-0.7 GB
      live; with both, mostly with 0.1 GB;
    - the meter starts once resident memory has stopped falling, since G1
      hands the freed heap back to the OS concurrently."""
    gc.collect()
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    live_mb = full_gc_until_settled(spark)
    procstat.wait_until_settled()
    err = io.StringIO()
    with procstat.TreeMeter() as meter, contextlib.redirect_stderr(err):
        t0 = time.perf_counter()
        out = fn(spark, args)
        wall = time.perf_counter() - t0
    return {"out": out, "wall": wall, "cpu_s": meter.cpu_s,
            "live_heap_mb": live_mb,
            "peak_rss_mb": meter.peak_rss_mb, "stderr": err.getvalue()}


def full_gc_until_settled(spark, tol_mb: float = 16.0,
                          max_rounds: int = 6) -> float:
    """Full GCs, 0.2 s apart, until one frees less than ``tol_mb``;
    returns the live heap in MB."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = float("inf")
    for _ in range(max_rounds):
        jvm.System.gc()
        now = bean.getHeapMemoryUsage().getUsed() / 2**20
        if live - now < tol_mb:
            return now
        live = now
        time.sleep(0.2)
    return live


def run_extract(spark, args) -> dict:
    from jobs.extract import run_job
    rec = timed_call(run_job, spark, args)
    stats, rc = rec["out"]
    if rc != 0:
        raise RuntimeError(f"run_job exited {rc}: {stats}")
    rec["stats"] = stats
    rec["phases"] = parse_phases(rec["stderr"], stats)
    return rec


def parse_phases(stderr: str, stats: dict) -> dict:
    """job.{select,extract_write,mark}_s from the job's phase line;
    job.assemble_s is the rest of ``elapsed_sec``."""
    line = next(ln for ln in reversed(stderr.splitlines())
                if ln.startswith('{"phase_select_sec"'))
    p = json.loads(line)
    out = {"job.select_s": p["phase_select_sec"],
           "job.extract_write_s": p["phase_extract_write_sec"],
           "job.mark_s": p["phase_mark_sec"]}
    out["job.assemble_s"] = round(stats["elapsed_sec"] - sum(out.values()), 2)
    return out


def check_extract(spark, tables: Path, inp, fingerprint: str) -> dict:
    """Compare the assembled table with the goldens (a join, not a
    re-extraction) and the checkpoint log with the input.

    failures = docs whose span sequence on (kind, text, media_ref, order)
    differs from the golden, missing docs and extra docs, plus the input
    doc count when the checkpoint's docs_done total is not N."""
    from databricks_pdf_ocr_spark.schemas import CHECKPOINT_SCHEMA
    ext = spark.read.parquet(str(tables / "extracted_documents"))
    got = ext.select("doc_id", F.col("spans").alias("got"))
    want = (spark.read.parquet(inp.golden_path)
            .select("doc_id", F.col("spans").cast(ext.schema["spans"]
                                                  .dataType).alias("want")))
    row = (got.join(want, "doc_id", "full_outer")
           .agg(F.sum((~F.col("got").eqNullSafe(F.col("want")))
                      .cast("long")).alias("bad"),
                F.count(F.lit(1)).alias("rows"),
                F.countDistinct("doc_id").alias("docs"))
           .first())
    cp = (spark.read.schema(CHECKPOINT_SCHEMA)
          .parquet(str(tables / "extraction_checkpoint"))
          .filter((F.col("input_fingerprint") == fingerprint)
                  & (F.col("status") == "done"))
          .agg(F.sum("docs_done").alias("docs"),
               F.sum("spans_in").alias("spans"),
               F.sum("failed_spans").alias("failed"))
          .first())
    bad = int(row["bad"] or 0) + int(row["rows"]) - int(row["docs"])
    docs_ok = int(cp["docs"] or 0) == inp.n_docs
    return {"failures": bad + (0 if docs_ok else inp.n_docs),
            "bad_docs": bad, "docs_done": int(cp["docs"] or 0),
            "failed_spans": int(cp["failed"] or 0),
            "spans_in": int(cp["spans"] or 0),
            "fail_ratio_ok": int(cp["failed"] or 0) == inp.failed_spans}


def plant_wrong_span(spark, tables: Path, dest: Path) -> None:
    """Copy of ``tables`` whose assembled table has one span text changed
    in one doc — the check must report exactly that doc."""
    shutil.copytree(tables, dest)
    ext = spark.read.parquet(str(tables / "extracted_documents"))
    victim = ext.select(F.min("doc_id")).first()[0]
    spans = F.col("spans")
    wrong = F.transform(spans, lambda s, i: F.when(
        i == 0, s.withField("text", F.concat(F.coalesce(s["text"],
                                                        F.lit("")),
                                             F.lit(" [planted]"))))
        .otherwise(s))
    planted = ext.withColumn("spans", F.when(F.col("doc_id") == victim, wrong)
                             .otherwise(spans))
    shutil.rmtree(dest / "extracted_documents")
    planted.write.partitionBy("bucket").parquet(
        str(dest / "extracted_documents"))


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

def write_curate_input(spark, rows, tables: Path) -> None:
    """The corpus as an ``extracted_documents`` table, laid out the way
    the extraction job writes it (partitioned by checkpoint bucket)."""
    from databricks_pdf_ocr_spark.config import load_config
    from databricks_pdf_ocr_spark.operators.extract import bucket_col
    from databricks_pdf_ocr_spark.schemas import EXTRACTED_SCHEMA
    from databricks_pdf_ocr_spark.sources.tables import make_table_io
    df = (spark.createDataFrame(rows, EXTRACTED_SCHEMA)
          .withColumn("bucket", bucket_col(load_config().n_buckets)))
    make_table_io(spark, str(tables)).overwrite(
        df.repartition(spark.sparkContext.defaultParallelism),
        "extracted_documents", partition_by=["bucket"])


def curate_args(tables: Path, out: Path):
    from jobs.curate import build_parser
    return build_parser().parse_args(["--tables", str(tables),
                                      "--out", str(out)])


def run_curate(spark, args) -> dict:
    from jobs.curate import run_curate as curate
    rec = timed_call(curate, spark, args)
    rec["stats"] = rec["out"]
    return rec


def check_curate(spark, out: Path, expected: set[str]) -> dict:
    """failures = docs kept that should not be, docs dropped that should
    not be, and duplicate output rows."""
    ids = [r[0] for r in spark.read.parquet(str(out)).select("doc_id")
           .collect()]
    got = set(ids)
    return {"failures": len(got ^ expected) + len(ids) - len(got),
            "kept": len(got)}
