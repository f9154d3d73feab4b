"""Per-layer metrics of the traced run.

Each function times one layer from outside, through its public
function, and returns metrics named ``<layer>.<metric>``. A layer a
workload does not exercise reads zero there, so every traced run
prints the same keys.
"""

from __future__ import annotations

import statistics
import time

from observe import stage_totals, task_run_ms

CLASSES = ("html", "pdf", "rtf", "other")


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def extraction(rows: list[tuple], tracer) -> dict:
    """``extract_document`` in this process, no Spark, per doc_class."""
    from ocr_service_spark.extraction.pipeline import extract_document

    times: dict[str, list[float]] = {c: [] for c in CLASSES}
    total_bytes = 0
    with tracer.span("extraction.pass", docs=len(rows)):
        for url, payload in rows:
            with tracer.span("extraction.extract_document"):
                t0 = time.perf_counter()
                out = extract_document(payload, url)
                ms = (time.perf_counter() - t0) * 1e3
            cls = out["doc_class"] if out["doc_class"] in CLASSES else "other"
            times[cls].append(ms)
            total_bytes += len(payload or b"")
    metrics = {}
    for cls in CLASSES:
        metrics[f"extraction.{cls}.docs"] = len(times[cls])
        metrics[f"extraction.{cls}.busy_ms"] = sum(times[cls])
        metrics[f"extraction.{cls}.p50_ms"] = _pct(times[cls], 0.5)
        metrics[f"extraction.{cls}.p99_ms"] = _pct(times[cls], 0.99)
    busy_s = sum(sum(t) for t in times.values()) / 1e3
    metrics["extraction.mb_per_s"] = total_bytes / 1e6 / busy_s if busy_s else 0.0
    return metrics


def extract_operator(spark, pages_path, tracer) -> dict:
    """``extract_documents`` alone over the whole pages table into an
    aggregate sink; its stages' executor run time minus the documents'
    own ``elapsed_ms`` is the mapInPandas boundary's cost: Arrow
    conversion, batching and worker I/O."""
    from pyspark.sql import functions as F

    from ocr_service_spark.operators.extract import extract_documents
    from ocr_service_spark.sources.pages import read_pages

    with tracer.span("operators.extract.extract_documents") as span:
        row = extract_documents(read_pages(spark, str(pages_path))).agg(
            F.sum("elapsed_ms").alias("busy"), F.count(F.lit(1)).alias("rows")).first()
    stages = stage_totals(spark, {tracer.group_of(span)})
    busy = float(row["busy"] or 0.0)
    return {
        "extraction.spark_busy_ms": busy,
        "operators.extract.stage_run_ms": stages.executor_run_ms,
        "operators.extract.overhead_ms": stages.executor_run_ms - busy,
        "operators.extract.tasks": stages.tasks,
        "operators.extract.rows": int(row["rows"]),
    }


def router(spark, pages_path, tracer) -> dict:
    """The router's two subsets, each through ``run_extraction`` alone,
    and the salted branch's bucket fan-out and payload copies."""
    from pyspark.sql import functions as F

    from ocr_service_spark.operators.extract import explode_pdf_buckets
    from ocr_service_spark.plans.job import is_big_pdf, run_extraction
    from ocr_service_spark.sources.pages import read_pages
    from workloads import sink_digests

    pages = read_pages(spark, str(pages_path))
    big = is_big_pdf()
    salted = pages.filter(big)
    counts = salted.agg(F.count(F.lit(1)).alias("docs"),
                        F.sum(F.octet_length("html")).alias("bytes")).first()
    metrics = {
        "plans.job.salted_docs": int(counts["docs"]),
        "plans.job.buckets": 0,
        "plans.job.bucket_payload_ratio": 0.0,
        "plans.job.salted_s": 0.0,
        "plans.job.max_task_ms": 0.0,
        "plans.job.median_task_ms": 0.0,
    }
    if counts["docs"]:
        fan = explode_pdf_buckets(salted).agg(
            F.count(F.lit(1)).alias("buckets"),
            F.sum(F.octet_length("payload")).alias("bytes")).first()
        metrics["plans.job.buckets"] = int(fan["buckets"])
        metrics["plans.job.bucket_payload_ratio"] = fan["bytes"] / counts["bytes"]
        with tracer.span("plans.job.run_extraction.salted") as span:
            t0 = time.perf_counter()
            sink_digests(run_extraction(salted))
            metrics["plans.job.salted_s"] = time.perf_counter() - t0
        # the bucket-extraction stage is the salted run's heaviest
        stages = stage_totals(spark, {tracer.group_of(span)})
        _run_ms, stage_id, attempt = max(stages.per_stage)
        tasks = task_run_ms(spark, stage_id, attempt)
        metrics["plans.job.max_task_ms"] = max(tasks)
        metrics["plans.job.median_task_ms"] = statistics.median(tasks)
    with tracer.span("plans.job.run_extraction.single_pass"):
        t0 = time.perf_counter()
        sink_digests(run_extraction(pages.filter(~F.coalesce(big, F.lit(False)))))
        metrics["plans.job.single_pass_s"] = time.perf_counter() - t0
    return metrics


def manifest(spark, pages_path, checkpoint_s: float, written: tuple, tracer) -> dict:
    """Checkpoint cost: ``run_with_checkpoint`` minus a noop-sink
    ``run_extraction`` of the same input, and what it left on disk."""
    from ocr_service_spark.plans.job import run_extraction
    from ocr_service_spark.sources.pages import read_pages

    with tracer.span("plans.job.run_extraction.noop"):
        t0 = time.perf_counter()
        run_extraction(read_pages(spark, str(pages_path))).write.format("noop").mode(
            "overwrite").save()
        noop_s = time.perf_counter() - t0
    out_bytes, files, rows = written
    return {
        "plans.manifest.write_s": checkpoint_s - noop_s,
        "plans.manifest.output_mb": out_bytes / 1e6,
        "plans.manifest.files": files,
        "plans.manifest.rows": rows,
    }


def timed_call(spark, tracer, span, cores: int, table_bytes: int) -> dict:
    """Spark's view of one timed call (a round), from the status stores,
    and the CPU its process tree spent: the driver JVM and the Python
    workers, which the stages' own CPU counter leaves out."""
    st = stage_totals(spark, tracer.groups_under(span))
    wall_s = span.end - span.start
    return {
        "sources.scan_mb": st.scan_bytes / 1e6,
        "sources.scan_ratio": st.scan_bytes / table_bytes,
        "spark.stages": st.stages,
        "spark.tasks": st.tasks,
        "spark.executor_run_ms": st.executor_run_ms,
        "spark.executor_cpu_ms": st.executor_cpu_ms,
        "spark.gc_ms": st.gc_ms,
        "spark.shuffle_write_mb": st.shuffle_write_bytes / 1e6,
        "spark.shuffle_read_mb": st.shuffle_read_bytes / 1e6,
        "spark.cpu_util": span.attrs["cpu_s"] / (wall_s * cores),
    }


def queries(spark, tracer, round_span, names) -> dict:
    """``query.<name>.s/.stages/.tasks`` from one traced pass."""
    metrics = {}
    by_name = {s.name: s for s in tracer.spans if s.parent == round_span.id}
    for name in names:
        span = by_name[f"query.{name}"]
        st = stage_totals(spark, {tracer.group_of(span)})
        metrics[f"query.{name}.s"] = span.end - span.start
        metrics[f"query.{name}.stages"] = st.stages
        metrics[f"query.{name}.tasks"] = st.tasks
    return metrics
