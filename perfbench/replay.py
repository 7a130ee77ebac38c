"""Traced replays: each workload's job re-run step by step through the public
functions of its layers, one span per call, plus noop-sink probes that time
single layers in isolation.

The replay follows the same calls, in the same order, as
``jobs.extract.run_job`` / ``jobs.curate.run_curate`` for the options the
workloads use, so the sum of its layer self-times is comparable with the
untraced job's wall time; its output is checked like the job's.  Probes run
outside the replay span and are not part of that sum.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

from pyspark.sql import functions as F


def noop(df) -> None:
    """Compute every column of every row and discard the result."""
    df.write.format("noop").mode("overwrite").save()


def _identity_arrow(df):
    """``df`` through an identity ``mapInPandas``: the Python UDF boundary
    (Arrow serialisation both ways, worker hand-off) with no kernel."""
    def identity(batches):
        yield from batches
    return df.mapInPandas(identity, schema=df.schema)


def _files(path: Path) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _config(spark, args):
    from databricks_pdf_ocr_spark.config import load_config
    return load_config(env=args.env, config_file=args.config, overrides={
        "n_buckets": args.n_buckets,
        "shuffle_partitions": args.partitions
        or int(spark.conf.get("spark.sql.shuffle.partitions")),
        "processing_mode": args.mode,
    })


def _pending(cp, documents, fingerprint, cfg, mode):
    from databricks_pdf_ocr_spark.operators.extract import bucket_col
    if mode == "reprocess_all":
        return documents.withColumn("bucket", bucket_col(cfg.n_buckets))
    return cp.filter_pending(documents, fingerprint)


def extract_probes_before(spark, tr, args) -> dict:
    """Noop-sink probes over the initial state: work selection, explode,
    the Arrow round trip, and explode + kernel."""
    from jobs.extract import load_input
    from databricks_pdf_ocr_spark.operators.extract import (
        explode_spans, extract_spans)
    from databricks_pdf_ocr_spark.plans.checkpoint import CheckpointManager
    from databricks_pdf_ocr_spark.sources.tables import make_table_io

    cfg = _config(spark, args)
    cp = CheckpointManager(make_table_io(spark, args.tables), cfg)
    documents, fingerprint = load_input(spark, args.input, cfg)
    with tr.span("checkpoint.filter_pending"):
        noop(cp.filter_pending(documents, fingerprint))
    pending = _pending(cp, documents, fingerprint, cfg, args.mode)
    spans = explode_spans(pending.select("doc_id", "spans"))
    with tr.span("extract.explode"):
        noop(spans)
    with tr.span("extract.arrow_roundtrip"):
        noop(_identity_arrow(spans))
    with tr.span("extract.extract"):
        noop(extract_spans(spans, cfg))
    return {"checkpoint.filter_pending_s": tr.duration("checkpoint.filter_pending"),
            "extract.explode_s": tr.duration("extract.explode"),
            "extract.arrow_roundtrip_s": tr.duration("extract.arrow_roundtrip"),
            "extract.extract_s": tr.duration("extract.extract")}


def extract_replay(spark, tr, args) -> dict:
    """``run_job`` step by step.  Returns the counters the spans cannot
    give (files and bytes the results append wrote, assembled buckets)."""
    from jobs.extract import EXTRACTED_TABLE, RESULTS_TABLE, load_input
    from databricks_pdf_ocr_spark.operators.extract import (
        bucket_col, explode_spans, extract_spans, reassemble)
    from databricks_pdf_ocr_spark.plans.checkpoint import (
        CheckpointManager, new_run_id)
    from databricks_pdf_ocr_spark.plans.metrics import observed_results
    from databricks_pdf_ocr_spark.plans.state_views import latest_results
    from databricks_pdf_ocr_spark.schemas import RESULTS_RUN_SCHEMA
    from databricks_pdf_ocr_spark.sources.tables import make_table_io

    cfg = _config(spark, args)
    io = make_table_io(spark, args.tables)
    cp = CheckpointManager(io, cfg)
    results_dir = Path(args.tables) / RESULTS_TABLE
    with tr.span("job.replay"):
        t0 = time.time()
        with tr.span("job.select"):
            documents, fingerprint = load_input(spark, args.input, cfg)
            pending = _pending(cp, documents, fingerprint, cfg, args.mode)
            run_id = new_run_id()
            with tr.span("checkpoint.next_run_seq"):
                run_seq = cp.next_run_seq()
            results = (extract_spans(explode_spans(
                           pending.select("doc_id", "spans")), cfg)
                       .withColumn("bucket", bucket_col(cfg.n_buckets))
                       .withColumn("run_id", F.lit(run_id))
                       .withColumn("run_seq", F.lit(run_seq).cast("long"))
                       .withColumn("input_fingerprint", F.lit(fingerprint))
                       .withColumn("processed_at", F.current_timestamp()))
            results, _ = observed_results(
                results.repartition(cfg.n_buckets, "bucket"))
        before = _files(results_dir)
        with tr.span("job.extract_write"):
            with tr.span("tables.append"):
                io.append(results, RESULTS_TABLE, partition_by=["bucket"])
        written = {p: s for p, s in _files(results_dir).items()
                   if p not in before}
        with tr.span("job.mark"):
            if args.mode == "reprocess_all":
                pend_list = list(range(cfg.n_buckets))
            else:
                pend_list = sorted(r["bucket"] for r in
                                   pending.select("bucket").distinct()
                                   .collect())
            this_run = (io.read(RESULTS_TABLE, schema=(
                            "run_id string, is_first_span boolean, "
                            "sub_idx int, status string, pages_parsed int, "
                            "ocr_fallback boolean, bucket int"))
                        .filter(F.col("bucket").isin(pend_list)
                                if pend_list else F.lit(False))
                        .filter(F.col("run_id") == run_id)
                        .drop("run_id"))
            with tr.span("checkpoint.mark_from_results"):
                cp.mark_from_results(this_run, run_id, fingerprint,
                                     int((time.time() - t0) * 1000),
                                     run_seq=run_seq)
        with tr.span("job.assemble"):
            results_all = io.read(RESULTS_TABLE, schema=RESULTS_RUN_SCHEMA)
            with tr.span("checkpoint.all_marked_buckets"):
                res_list = cp.all_marked_buckets() | set(pend_list)
            ext = io.read(EXTRACTED_TABLE)
            if ext is None:
                to_assemble = sorted(res_list)
            else:
                have = {r["bucket"] for r in
                        ext.select("bucket").distinct().collect()}
                to_assemble = sorted(set(pend_list) | (res_list - have))
            touched = results_all.filter(
                F.col("bucket").isin(to_assemble) if to_assemble
                else F.lit(False))
            assembled = reassemble(latest_results(touched)).withColumn(
                "bucket", bucket_col(cfg.n_buckets))
            with tr.span("tables.overwrite_partitions"):
                io.overwrite_partitions(assembled, EXTRACTED_TABLE, ["bucket"])
            with tr.span("checkpoint.run_history"):
                cp.run_history(5).collect()
    return {"append_files": len(written),
            "append_mb": sum(written.values()) / 2 ** 20,
            "to_assemble": to_assemble, "fingerprint": fingerprint}


def extract_probes_after(spark, tr, args, to_assemble) -> dict:
    """Noop-sink probes over the replay's results table: the latest-wins
    view and the offset-sorted reassembly, each alone."""
    from jobs.extract import RESULTS_TABLE
    from databricks_pdf_ocr_spark.operators.extract import reassemble
    from databricks_pdf_ocr_spark.plans.state_views import latest_results
    from databricks_pdf_ocr_spark.schemas import RESULTS_RUN_SCHEMA
    from databricks_pdf_ocr_spark.sources.tables import make_table_io

    touched = (make_table_io(spark, args.tables)
               .read(RESULTS_TABLE, schema=RESULTS_RUN_SCHEMA)
               .filter(F.col("bucket").isin(to_assemble)))
    with tr.span("state_views.latest_results"):
        noop(latest_results(touched))
    with tr.span("extract.reassemble"):
        noop(reassemble(touched))
    return {"state_views.latest_results_s":
                tr.duration("state_views.latest_results"),
            "extract.reassemble_s": tr.duration("extract.reassemble")}


def curate_replay(spark, tr, args) -> dict:
    """``run_curate`` step by step for the default ladder (no quality gate,
    no optional stages, min-id survivors, no sampling)."""
    from pyspark import StorageLevel
    from pyspark.sql import Observation, Window
    from jobs.curate import EXTRACTED_TABLE, doc_text
    from databricks_pdf_ocr_spark.operators import dedup, text_analysis
    from databricks_pdf_ocr_spark.sources.tables import make_table_io

    io = make_table_io(spark, args.tables)
    cc: dict = {}
    with tr.span("curate.replay"):
        enriched = text_analysis.with_features(
            doc_text(io.read(EXTRACTED_TABLE)))
        gated = enriched.filter(F.col("quality_score_e6") >= args.min_quality)
        h = F.sha2(F.col("text"), 256)
        with tr.span("curate.exact_dedup"):
            exact_kept = (gated
                          .withColumn("__min_id", F.min("doc_id").over(
                              Window.partitionBy(h)))
                          .filter(F.col("doc_id") == F.col("__min_id"))
                          .drop("__min_id")
                          .persist(StorageLevel.MEMORY_AND_DISK))
            exact_kept.count()
        with tr.span("dedup.minhash_lsh_pairs"):
            pairs = dedup.minhash_lsh_pairs(
                exact_kept, hash_mode=args.hash_mode,
                verify_threshold=args.neardup_jaccard).localCheckpoint()
            verified = pairs.count()
        with tr.span("dedup.neardup_components"):
            labels = dedup.neardup_components(pairs, stats=cc)
        with tr.span("curate.write"):
            losers = (labels.filter(F.col("comp") != F.col("node"))
                      .select(F.col("node").alias("doc_id")))
            kept = exact_kept.join(losers, "doc_id", "left_anti")
            n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
            kept = kept.repartition(n_shuffle, F.col("predicted_lang"),
                                    F.pmod(F.xxhash64("doc_id"), F.lit(4)))
            obs = Observation("curate")
            kept = kept.observe(obs, F.count(F.lit(1)).alias("docs"))
            (kept.write.mode("overwrite").partitionBy("predicted_lang")
             .parquet(args.out))
            kept_docs = obs.get["docs"]
    # probes: features alone, and the unverified LSH candidate set
    with tr.span("text_analysis.with_features"):
        noop(enriched)
    with tr.span("dedup.candidates"):
        candidates = dedup.minhash_lsh_pairs(
            exact_kept, hash_mode=args.hash_mode).count()
    exact_kept.unpersist()
    return {"text_analysis.with_features_s":
                tr.duration("text_analysis.with_features"),
            "curate.exact_dedup_s": tr.duration("curate.exact_dedup"),
            "dedup.minhash_lsh_pairs_s": tr.duration("dedup.minhash_lsh_pairs"),
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / candidates if candidates else 0.0,
            "dedup.neardup_components_s":
                tr.duration("dedup.neardup_components"),
            "dedup.components_rounds": cc.get("rounds", 0),
            "curate.write_s": tr.duration("curate.write"),
            "curate.kept_docs": kept_docs}


def kernel_pass(input_path: str) -> dict:
    """Single-process pass of ``extract_span`` over every input span, with
    the sub-kernels it dispatches to wrapped for busy time and counts."""
    import pyarrow.parquet as pq
    from databricks_pdf_ocr_spark.config import load_config
    from databricks_pdf_ocr_spark.functions import (
        extract_span as es, htmlmini, ocr_fallback, pdfmini, segment)

    cfg = load_config()
    busy = {"pdfmini.parse_pdf.busy_s": 0.0,
            "segment.reading_order_text.busy_s": 0.0,
            "htmlmini.extract_blocks.busy_s": 0.0}
    calls = {"ocr_fallback.calls": 0}

    def timed(fn, key):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                busy[key] += time.perf_counter() - t0
        return wrapper

    def counted(fn, key):
        def wrapper(*a, **kw):
            calls[key] += 1
            return fn(*a, **kw)
        return wrapper

    patches = [(pdfmini, "parse_pdf",
                timed(pdfmini.parse_pdf, "pdfmini.parse_pdf.busy_s")),
               (segment, "reading_order_text",
                timed(segment.reading_order_text,
                      "segment.reading_order_text.busy_s")),
               (htmlmini, "extract_blocks",
                timed(htmlmini.extract_blocks,
                      "htmlmini.extract_blocks.busy_s")),
               (ocr_fallback, "fallback_text",
                counted(ocr_fallback.fallback_text, "ocr_fallback.calls"))]
    originals = [(m, n, getattr(m, n)) for m, n, _ in patches]
    kinds = ("pdf", "html", "text", "image")
    out = {f"extract_span.busy_s.{k}": 0.0 for k in kinds}
    out.update({f"extract_span.spans.{k}": 0 for k in kinds})
    failed = pages = 0
    try:
        for m, n, w in patches:
            setattr(m, n, w)
        for row in pq.read_table(input_path).to_pylist():
            for s in row["spans"]:
                t0 = time.perf_counter()
                status, _, n_pages, _, _ = es.extract_span(
                    s["kind"], s["text"], s["media_ref"],
                    max_payload_bytes=cfg.max_payload_bytes,
                    max_pages=cfg.max_pages_per_doc,
                    max_retries=cfg.max_retries,
                    retry_backoff_s=cfg.retry_backoff_s)
                out[f"extract_span.busy_s.{s['kind']}"] += (
                    time.perf_counter() - t0)
                out[f"extract_span.spans.{s['kind']}"] += 1
                failed += status == "failed"
                pages += n_pages
    finally:
        for m, n, fn in originals:
            setattr(m, n, fn)
    out.update(busy)
    out.update(calls)
    out["extract_span.failed"] = failed
    out["pdfmini.pages"] = pages
    return out
