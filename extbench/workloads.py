"""The three workloads: inputs, warm-up, one timed round, output checks.

Each workload builds its inputs from the seed (``gen``), warms the
session up on a slice of them, then runs whole rounds of the same calls
into the program. Each round's outputs are checked right after it,
outside its timing, against what the generator recorded or against
DuckDB, never against a stored copy of an earlier run.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

import gen

N_SETUPS = 3  # set-ups per run; setup_s is their median


@dataclass
class Inputs:
    dir: Path  # everything the set-up wrote
    rows: int
    payload_bytes: int
    disk_bytes: int
    expected: dict = field(default_factory=dict)  # url -> expected row
    extra: dict = field(default_factory=dict)


@dataclass
class Round:
    job_s: float
    calls: list[tuple[str, float]]  # (call name, seconds) for the geomean
    pages: int  # sum of the results' pages column
    output: object = None  # what check() reads
    span: object = None  # the round's span when traced
    traced: bool = False
    written: tuple[int, int, int] = (0, 0, 0)  # bytes, data files, rows on disk


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0  # raised, or output did not check out
    wrong: int = 0  # subset of failed: output produced but incorrect
    notes: list[str] = field(default_factory=list)

    def add(self, attempted: int, failed: int, wrong: int, note: str | None = None) -> None:
        self.attempted += attempted
        self.failed += failed
        self.wrong += wrong
        if note and len(self.notes) < 20:
            self.notes.append(note)


def _expected(path: Path) -> dict:
    table = pq.read_table(path).to_pylist()
    return {row["url"]: row for row in table}


def check_docs(got: dict, expected: dict, tally: Tally, label: str) -> None:
    """``got``: url -> (token_digest, pages, success, ocr_skipped).

    One operation per input url. Text rows must reproduce the
    generator's tokens and page count; images are skipped under NO_OCR
    (empty text, success, ocr_skipped); a null payload is skipped before
    processing, which the reference reports as success with
    ocr_skipped (its api/process.py), not as a failure.
    """
    empty = gen.token_digest([])
    bad = 0
    for url, exp in expected.items():
        row = got.get(url)
        if row is None:
            bad += 1
            continue
        digest, pages, success, skipped = row
        if exp["kind"] in ("png", "null"):
            ok = digest == empty and success and skipped
            ok = ok and (pages is None if exp["kind"] == "null" else pages == 1)
        else:
            ok = (digest == exp["token_digest"] and pages == exp["pages"]
                  and success and not skipped)
        bad += not ok
    extra = sum(u not in expected for u in got)
    tally.add(len(expected), bad + extra, bad + extra,
              f"{label}: {bad} rows differ, {extra} unexpected rows" if bad or extra else None)


def _token_digest_py(text: str | None) -> str:
    return gen.token_digest((text or "").split())


def _session_conf(work: Path) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": (
            "-Djava.net.preferIPv6Addresses=false "
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms3g"
        ),
    }


class Session:
    """One Spark session at a time, on ``local[cores]``."""

    def __init__(self, work: Path, cores: int, tracer) -> None:
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.spark = None

    def start(self):
        from ocr_service_spark.plans.session import build_session

        self.spark = build_session(app_name="extbench", cpus=self.cores,
                                   extra_conf=_session_conf(self.work))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            proc.wait(timeout=60)


def warm_slice():
    """Half the rows, spread over every input file, so the warm-up runs
    on each of the k cores as a round does."""
    from pyspark.sql import functions as F

    return F.crc32("url") % 2 == 0


def sink_digests(results):
    """The aggregate sink: one small row per url, hashed JVM-side."""
    from pyspark.sql import functions as F

    tokens = F.filter(F.split(F.coalesce("extracted_text", F.lit("")), r"(?U)\s+"),
                      lambda t: t != "")
    return results.select(
        "url", "pages", "success", "ocr_skipped",
        F.sha2(F.concat_ws(" ", tokens), 256).alias("token_digest"),
        F.sha2(F.coalesce("extracted_text", F.lit("")), 256).alias("text_sha"),
    ).collect()


# ---------------------------------------------------------------------------
# crawl_html
# ---------------------------------------------------------------------------


class CrawlHtml:
    """The checkpointed job ``python -m ocr_service_spark`` runs, over a
    Common-Crawl-style pages table (90% boilerplate-heavy HTML)."""

    name = "crawl_html"
    n_docs = 6000
    n_files = 8

    def build(self, seed: int, out: Path) -> Inputs:
        from ocr_service_spark.plans.job import SALT_MIN_BYTES

        docs = gen.crawl_docs(seed, self.n_docs)
        info = gen.write_pages(docs, str(out), "crawl", self.n_files)
        biggest = max(len(d.payload or b"") for d in docs)
        if biggest > SALT_MIN_BYTES:
            raise RuntimeError(f"crawl payload of {biggest} B would take the salted path")
        return Inputs(out, info["rows"], info["payload_bytes"], info["disk_bytes"],
                      _expected(out / "crawl_expected.parquet"))

    def _run(self, spark, pages_path: Path, out: Path, where=None) -> None:
        from ocr_service_spark.plans.manifest import run_with_checkpoint
        from ocr_service_spark.sources.pages import read_pages

        pages = read_pages(spark, str(pages_path))
        if where is not None:
            pages = pages.filter(where)
        run_with_checkpoint(spark, pages, str(pages_path), str(out / "results"),
                            str(out / "manifest"))

    def warm_up(self, spark, inputs: Inputs, out: Path) -> None:
        self._run(spark, inputs.dir / "crawl", out, warm_slice())

    def round(self, spark, inputs: Inputs, out: Path, tracer) -> Round:
        with tracer.span("plans.manifest.run_with_checkpoint", cpu=True) as span:
            t0 = time.perf_counter()
            self._run(spark, inputs.dir / "crawl", out)
            job_s = time.perf_counter() - t0
        return Round(job_s, [("run_with_checkpoint", job_s)], 0, out, span)

    def check(self, rnd: Round, inputs: Inputs, session, tally: Tally) -> None:
        out = rnd.output
        table = pq.read_table(out / "results", columns=[
            "url", "extracted_text", "pages", "success", "ocr_skipped"]).to_pylist()
        got = {r["url"]: (_token_digest_py(r["extracted_text"]), r["pages"], r["success"],
                          r["ocr_skipped"]) for r in table}
        rnd.pages = sum(r["pages"] or 0 for r in table)
        results_bytes, files = dir_bytes(out / "results")
        rnd.written = (results_bytes + dir_bytes(out / "manifest")[0], files, len(table))
        check_docs(got, inputs.expected, tally, "crawl_html results")
        if len(table) != len(got):
            tally.add(0, len(table) - len(got), len(table) - len(got), "duplicate result urls")
        manifest = pq.read_table(out / "manifest", columns=["part_hash", "doc_count"])
        parts = set(manifest.column("part_hash").to_pylist())
        docs = sum(manifest.column("doc_count").to_pylist())
        ok = len(parts) == 64 and manifest.num_rows == 64 and docs == inputs.rows
        tally.add(1, not ok, not ok,
                  None if ok else f"manifest: {len(parts)} parts, {docs} docs")


# ---------------------------------------------------------------------------
# pdf_skew
# ---------------------------------------------------------------------------


class PdfSkew:
    """``run_extraction`` into an aggregate sink over a table whose bytes
    sit mostly in a dozen multi-hundred-page PDFs, routed to the salted
    explode / bucket-extract / ordered re-aggregate path."""

    name = "pdf_skew"
    n_pdfs = 12
    n_html = 3000
    n_files = 8

    def build(self, seed: int, out: Path) -> Inputs:
        from ocr_service_spark.plans.job import SALT_MIN_BYTES

        docs = gen.skew_docs(seed, self.n_pdfs, self.n_html)
        info = gen.write_pages(docs, str(out), "skew", self.n_files)
        for d in docs:
            if (d.kind == "pdf") != (len(d.payload) > SALT_MIN_BYTES):
                raise RuntimeError("pdf_skew: a payload is on the wrong side of the salt size")
        expected = _expected(out / "skew_expected.parquet")
        big = [u for u, e in expected.items() if e["kind"] == "pdf"]
        return Inputs(out, info["rows"], info["payload_bytes"], info["disk_bytes"], expected,
                      {"big_urls": big,
                       "smallest_pdf": min(big, key=lambda u: expected[u]["pages"])})

    def _run(self, spark, path: Path, where=None):
        from ocr_service_spark.plans.job import run_extraction
        from ocr_service_spark.sources.pages import read_pages

        pages = read_pages(spark, str(path))
        if where is not None:
            pages = pages.filter(where)
        return sink_digests(run_extraction(pages))

    def warm_up(self, spark, inputs: Inputs, out: Path) -> None:
        from pyspark.sql import functions as F

        # the HTML slice and one big PDF, the smallest, for the salted path
        smallest = F.col("url") == inputs.extra["smallest_pdf"]
        html = ~F.col("url").endswith(".pdf") & warm_slice()
        self._run(spark, inputs.dir / "skew", smallest | html)

    def round(self, spark, inputs: Inputs, out: Path, tracer) -> Round:
        with tracer.span("plans.job.run_extraction", cpu=True) as span:
            t0 = time.perf_counter()
            rows = self._run(spark, inputs.dir / "skew")
            job_s = time.perf_counter() - t0
        return Round(job_s, [("run_extraction", job_s)], sum(r["pages"] or 0 for r in rows),
                     rows, span)

    def single_pass_shas(self, spark, inputs: Inputs) -> dict:
        """Exact text of every big PDF through ``extract_document`` (the
        single-pass operator), with the salt size raised past them all."""
        from pyspark.sql import functions as F

        from ocr_service_spark.plans.job import run_extraction
        from ocr_service_spark.sources.pages import read_pages

        pages = read_pages(spark, str(inputs.dir / "skew"))
        big = pages.filter(F.col("url").isin(inputs.extra["big_urls"]))
        rows = sink_digests(run_extraction(big, salt_min_bytes=1 << 62))
        return {r["url"]: r["text_sha"] for r in rows}

    def check(self, rnd: Round, inputs: Inputs, session, tally: Tally) -> None:
        rows = rnd.output
        got = {r["url"]: (r["token_digest"], r["pages"], r["success"], r["ocr_skipped"])
               for r in rows}
        check_docs(got, inputs.expected, tally, "pdf_skew results")
        if len(rows) != len(got):
            tally.add(0, len(rows) - len(got), len(rows) - len(got), "duplicate result urls")
        if "single_pass" not in inputs.extra:
            inputs.extra["single_pass"] = self.single_pass_shas(session.spark, inputs)
        salted = {r["url"]: r["text_sha"] for r in rows}
        differ = sum(salted.get(u) != sha for u, sha in inputs.extra["single_pass"].items())
        differ += len(inputs.extra["big_urls"]) - len(inputs.extra["single_pass"])
        tally.add(len(inputs.extra["big_urls"]), differ, differ,
                  f"{differ} big PDFs differ between salted and single-pass" if differ else None)


# ---------------------------------------------------------------------------
# corpus_queries
# ---------------------------------------------------------------------------

# dedup, similarity, text_stats, corpus, quality, weburl and bitext
QUERIES = ("q34", "q79", "q19", "q121", "q86", "q155", "q53", "q70",
           "q95", "q152", "q127", "q166")


def query_names() -> list[str]:
    """The registered names of QUERIES, in order."""
    import __spark_entry__

    registry = __spark_entry__.queries()
    return [n for short in QUERIES for n in registry if n.split("_")[0] == short]


class CorpusQueries:
    """A fixed list of registered queries, each run to the noop sink."""

    name = "corpus_queries"

    def __init__(self) -> None:
        import __spark_entry__

        registry = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.queries = {name: registry[name] for name in query_names()}

    def build(self, seed: int, out: Path) -> Inputs:
        out.mkdir(parents=True)
        gen.write_corpus(seed, str(out))
        docs = pq.read_table(out / "documents.parquet", columns=["text"])
        vecs = pq.ParquetFile(out / "embeddings.parquet").metadata.num_rows
        text_bytes = sum(len(t.encode("utf-8")) for t in docs.column("text").to_pylist())
        return Inputs(out, docs.num_rows + vecs, text_bytes + vecs * 64 * 4,
                      sum(f.stat().st_size for f in out.iterdir()),
                      extra={"documents": docs.num_rows})

    def _noop(self, spark, name: str, inputs: Inputs) -> None:
        self.queries[name](spark, str(inputs.dir)).write.format("noop").mode("overwrite").save()

    def warm_up(self, spark, inputs: Inputs, out: Path) -> None:
        self._noop(spark, next(n for n in self.queries if n.startswith("q53_")), inputs)

    def round(self, spark, inputs: Inputs, out: Path, tracer) -> Round:
        calls = []
        with tracer.span("queries", cpu=True) as span:
            t0 = time.perf_counter()
            for name in self.queries:
                with tracer.span(f"query.{name}"):
                    q0 = time.perf_counter()
                    self._noop(spark, name, inputs)
                    calls.append((name, time.perf_counter() - q0))
            job_s = time.perf_counter() - t0
        return Round(job_s, calls, inputs.extra["documents"], None, span)

    def check_pass(self, spark, inputs: Inputs, tally: Tally) -> None:
        """Every query once through ``toPandas`` against its DuckDB oracle,
        compared as tools/check_oracles.py compares: column names, row
        count, dtypes, then every value after sorting."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{inputs.dir / 'duckdb_tmp'}'")
        for table in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"'{inputs.dir / (table + '.parquet')}'")
        # the oracles run on one thread of their own while Spark runs the
        # queries; this pass is untimed
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracles = {name: pool.submit(lambda sql: con.execute(sql).fetch_df(),
                                         self.oracles[name])
                       for name in self.queries}
            for name, query in self.queries.items():
                try:
                    got = query(spark, str(inputs.dir)).toPandas()
                except Exception as exc:  # a query that raises is a failed operation
                    tally.add(1, 1, 0, f"{name}: {type(exc).__name__}: {exc}"[:300])
                    continue
                problem = _frame_mismatch(got, oracles[name].result())
                tally.add(1, bool(problem), bool(problem),
                          f"{name}: {problem}" if problem else None)
        con.close()

    def check(self, rnd: Round, inputs: Inputs, session, tally: Tally) -> None:
        # the noop sink keeps no output; the timed calls count as operations
        # and their correctness is the check pass's, on the same inputs
        tally.add(len(rnd.calls), 0, 0)


def _frame_mismatch(got, want) -> str | None:
    cols = sorted(got.columns)
    if sorted(want.columns) != cols:
        return f"columns {cols} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    got_types = {c: str(got[c].dtype) for c in cols}
    want_types = {c: str(want[c].dtype) for c in cols}
    if got_types != want_types:
        return f"dtypes {got_types} vs {want_types}"
    a = got[cols].sort_values(cols, ignore_index=True)
    b = want[cols].sort_values(cols, ignore_index=True)
    if not a.equals(b):
        diff = (a != b) & ~(a.isna() & b.isna())
        return f"{int(diff.to_numpy().sum())} cells differ"
    return None


WORKLOADS = {"crawl_html": CrawlHtml, "pdf_skew": PdfSkew, "corpus_queries": CorpusQueries}


def sample_rows(pages_dir: Path, seed: int, n: int, keep=()) -> list[tuple]:
    """A seeded sample of (url, payload) rows of a pages table, plus
    every url in ``keep``."""
    table = pq.read_table(pages_dir, columns=["url", "html"])
    urls, payloads = table.column("url").to_pylist(), table.column("html")
    chosen = set(random.Random(seed).sample(range(len(urls)), min(n, len(urls))))
    chosen.update(i for i, u in enumerate(urls) if u in set(keep))
    return [(urls[i], payloads[i].as_py()) for i in sorted(chosen)]


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping Spark's marker files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
