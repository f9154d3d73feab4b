"""Extraction benchmark: one command, three workloads.

    python3 extbench/run.py --workload crawl_html --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository; the workloads are
``crawl_html``, ``pdf_skew`` and ``corpus_queries``. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). ``--trace 0``
reports the end-to-end metrics, measured with tracing off; ``--trace 1``
reports the per-layer metrics and writes the run's spans and metrics to
``.extbench_traces/<run id>.json``. Progress goes to standard error.
See extbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Spark's local[k]: the workloads are sized for 4 cores, and k never
# exceeds this host's CPUs (the session builder's default is local[32]).
CORES = min(4, len(os.sched_getaffinity(0)))

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "docs_per_s": "1/s",
    "payload_mb_per_s": "MB/s",
    "pages_per_s": "1/s",
    "query_geomean_s": "s",
    "peak_mem_mb": "MB",
}


def log(msg: str) -> None:
    print(f"extbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last == "mb_per_s":
        return "MB/s"
    if last.endswith("_ms"):
        return "ms"
    if last.endswith("_s") or last == "s":
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith(("_ratio", "_util")):
        return "ratio"
    return "count"


def run(args, work: Path, sampler) -> dict:
    import workloads
    from observe import Tracer, median

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    tracer = Tracer(args.workload, run_id, enabled=False)
    workload = workloads.WORKLOADS[args.workload]()
    session = workloads.Session(work, CORES, tracer)
    tally = workloads.Tally()
    try:
        # Set-up, several times over; the last one's inputs are measured.
        # Outputs are removed, untimed, while they are young (see README:
        # deletes).
        setup_s = []
        for i in range(workloads.N_SETUPS):
            session.stop()
            shutil.rmtree(work / f"setup{i - 1}", ignore_errors=True)
            t0 = time.perf_counter()
            spark = session.start()
            inputs = workload.build(args.seed, work / f"setup{i}")
            workload.warm_up(spark, inputs, work / "warm")
            setup_s.append(time.perf_counter() - t0)
            shutil.rmtree(work / "warm", ignore_errors=True)
            log(f"set-up {i}: {setup_s[-1]:.2f} s")
        if args.workload == "corpus_queries":
            workload.check_pass(spark, inputs, tally)
            log("oracle check pass done")

        # Whole rounds until --seconds of measured time; with --trace 1
        # they alternate untraced and traced. Between rounds, untimed: a
        # full driver GC, so each round starts from the same heap and
        # Spark's cleaner drops the last call's shuffle files while they
        # are young, the check of the round's output, and its removal.
        rounds: list = []
        while (len(rounds) < (2 if args.trace else 1)
               or sum(r.job_s for r in rounds) < args.seconds):
            spark.sparkContext._jvm.System.gc()
            tracer.enabled = bool(args.trace) and len(rounds) % 2 == 1
            with sampler.window():
                rnd = workload.round(spark, inputs, work / "round", tracer)
            rnd.traced, tracer.enabled = tracer.enabled, False
            workload.check(rnd, inputs, session, tally)
            shutil.rmtree(work / "round", ignore_errors=True)
            rounds.append(rnd)
            log(f"round {len(rounds) - 1}{' traced' if rnd.traced else ''}: {rnd.job_s:.2f} s")
        log(f"checked: {tally.attempted} operations, {tally.failed} failed")

        plain = [r for r in rounds if not r.traced]
        job_s = median([r.job_s for r in plain])
        if args.trace:
            traced = [r for r in rounds if r.traced]
            tracer.enabled = True
            metrics = layer_metrics(args, workload, inputs, spark, tracer, traced[-1], job_s)
            metrics["trace.overhead_s"] = median([r.job_s for r in traced]) - job_s
            units = {k: unit_of(k) for k in metrics}
            out_dir = ROOT / ".extbench_traces"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"{run_id}.json").write_text(json.dumps({
                "run_id": run_id, "workload": args.workload, "seed": args.seed,
                "cores": CORES, "rounds": [[r.job_s, r.traced] for r in rounds],
                "metrics": metrics, "spans": tracer.to_json(),
            }, indent=1))
        else:
            geomeans = [math.exp(sum(math.log(t) for _, t in r.calls) / len(r.calls))
                        for r in plain]
            metrics = {
                "setup_s": median(setup_s),
                "job_s": job_s,
                "docs_per_s": inputs.rows / job_s,
                "payload_mb_per_s": inputs.payload_bytes / 1e6 / job_s,
                "pages_per_s": median([r.pages for r in plain]) / job_s,
                "query_geomean_s": median(geomeans),
                "peak_mem_mb": sampler.peak_mb(),
            }
            units = END_TO_END_UNITS
    finally:
        session.shutdown()
        log("session shut down")
    for note in tally.notes:
        log(note)
    return {
        "correct": tally.wrong == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def layer_metrics(args, workload, inputs, spark, tracer, last, untraced_job_s) -> dict:
    """Every per-layer metric; a layer the workload does not exercise
    reads zero."""
    import layers
    import workloads

    names = workloads.query_names()
    metrics = {
        **{f"extraction.{c}.{m}": 0 for c in layers.CLASSES
           for m in ("docs", "busy_ms", "p50_ms", "p99_ms")},
        "extraction.mb_per_s": 0, "extraction.spark_busy_ms": 0,
        **{f"operators.extract.{m}": 0 for m in ("stage_run_ms", "overhead_ms", "tasks",
                                                 "rows")},
        **{f"plans.job.{m}": 0 for m in ("salted_docs", "buckets", "bucket_payload_ratio",
                                         "salted_s", "single_pass_s", "max_task_ms",
                                         "median_task_ms")},
        **{f"plans.manifest.{m}": 0 for m in ("write_s", "output_mb", "files", "rows")},
        **{f"query.{n}.{m}": 0 for n in names for m in ("s", "stages", "tasks")},
    }
    metrics.update(layers.timed_call(spark, tracer, last.span, CORES, inputs.disk_bytes))
    if args.workload == "corpus_queries":
        metrics.update(layers.queries(spark, tracer, last.span, names))
        return metrics

    pages = inputs.dir / ("crawl" if args.workload == "crawl_html" else "skew")
    big = inputs.extra.get("big_urls", [])
    # a seeded sample; on pdf_skew three of the big PDFs ride along
    sample = workloads.sample_rows(pages, args.seed, 300 if big else 400, big[:3])
    metrics.update(layers.extraction(sample, tracer))
    metrics.update(layers.extract_operator(spark, pages, tracer))
    metrics.update(layers.router(spark, pages, tracer))
    if args.workload == "crawl_html":
        metrics.update(layers.manifest(spark, pages, untraced_job_s, last.written, tracer))
    return metrics


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    import workloads
    from observe import PssSampler, wait_for_exit

    p = argparse.ArgumentParser(prog="extbench/run.py")
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured time to reach; whole rounds run until it is reached")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "ocr_service_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"extbench: no ocr_service_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    # A fresh scratch directory per run holds inputs, outputs, Spark's
    # local dirs and every temporary file, the package zip the session
    # builder leaves in the temp dir included (see README).
    runs = ROOT / ".extbench_runs"
    runs.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-s{args.seed}-", dir=runs))
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sampler = PssSampler()
    sampler.start()
    try:
        result = run(args, work, sampler)
    finally:
        sampler.stop()
        wait_for_exit({p: t for p, t in sampler.start_times.items() if p != os.getpid()}, 60)
        shutil.rmtree(work, ignore_errors=True)
        log("processes ended, scratch removed")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
