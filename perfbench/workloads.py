"""The benchmark's workloads.

Each workload makes its inputs from the seed before set-up (``prepare``),
then runs passes over its operation list. An operation is one call that
produces an output: a registered query's build + noop write, one sink
write of the batch ingest, or one ``/ingest`` request. Outputs are checked
outside the timed passes.
"""

from __future__ import annotations

import glob
import http.client
import json
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

from corpus import make_corpus
from measure import SparkStats, Tracer
from tables import TABLES, ensure_tables


@dataclass
class Pass:
    wall_s: float = 0.0
    cpu_s: float = 0.0  # JIT compiler threads not counted
    jit_s: float = 0.0  # CPU of the JVM's JIT compiler threads
    op_s: dict[str, float] = field(default_factory=dict)  # latency per operation
    docs: int = 0
    attempted: int = 0
    failed: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    def add(self, counters: dict[str, float], prefix: str = "") -> None:
        for k, v in counters.items():
            self.counters[prefix + k] = self.counters.get(prefix + k, 0.0) + v


@dataclass
class Context:
    spark: object
    tracer: Tracer
    stats: SparkStats | None  # set on traced runs only
    work: str
    seed: int
    fault: bool = False  # corrupt one output before it is checked
    current: Pass | None = None  # the timed pass being run, if any

    def harvest(self, prefix: str = "spark.") -> dict[str, float]:
        """Traced runs: add what Spark ran since the last harvest to the
        current pass's counters."""
        if self.stats is None:
            return {}
        with self.tracer.span("trace.harvest"):
            got = self.stats.harvest()
        if self.current is not None:
            self.current.add(got, prefix)
        return got


def _fail(exc: BaseException) -> None:
    print(f"operation failed: {type(exc).__name__}: {exc}"[:400], flush=True)


class Workload:
    """prepare (before set-up) -> start -> warmup -> WARM_PASSES untimed
    passes -> run_pass/check per timed pass -> close."""

    name: str
    WARM_PASSES = 0

    def start(self, ctx: Context) -> None:
        pass

    def check(self, ctx: Context, p: Pass) -> None:
        pass

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------
# tpch_events: registered queries over on-disk parquet tables
# ---------------------------------------------------------------------


class TpchEvents(Workload):
    """Outputs are checked by the warm-up's collect against the oracle;
    a noop write has no output to check."""

    name = "tpch_events"
    QUERIES = (
        "q1_pricing_summary",
        "q5_region_revenue",
        "sql_q6_forecast_revenue",
        "q18_large_orders",
        "q21_sole_return_supplier",
        "window_running_user_value",
        "asof_error_prev_purchase",
        "stream_session_window",
    )
    WARM_PASSES = 2
    SCALE = 0.02
    DATA_SEED = 42  # the tables are fixed; the run seed orders each pass

    def prepare(self, ctx: Context) -> None:
        import duckdb

        from check_oracle import frame_hash, unsafe_oracle_types
        from ethiopia_legal_etl_spark.operators.registry import all_queries

        self.sf_dir = ensure_tables(
            os.path.join(ctx.work, "tables", f"sf{self.SCALE}-seed{self.DATA_SEED}"),
            self.DATA_SEED, self.SCALE,
        )
        self.queries = all_queries()
        self.frame_hash = frame_hash
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.expected = {}
        for name in self.QUERIES:
            rel = con.sql(self.queries[name].oracle)
            if unsafe_oracle_types(rel):
                raise RuntimeError(f"{name}: oracle result types cannot be compared")
            cols = [c.lower() for c in rel.columns]
            self.expected[name] = (sorted(cols), frame_hash(cols, rel.fetchall()))
        con.close()
        self.rng = random.Random(ctx.seed)

    def warmup(self, ctx: Context) -> Pass:
        """One collect of every query, compared with the DuckDB oracle."""
        p = Pass()
        for k, name in enumerate(self.QUERIES):
            p.attempted += 1
            try:
                df = self.queries[name].builder(ctx.spark, self.sf_dir)
                cols = [c.lower() for c in df.columns]
                rows = [tuple(r) for r in df.collect()]
            except Exception as exc:  # counted, and the run goes on
                _fail(exc)
                p.failed += 1
                continue
            if ctx.fault and k == 0:
                rows = rows[1:]
            if (sorted(cols), self.frame_hash(cols, rows)) != self.expected[name]:
                print(f"wrong result: {name}", flush=True)
                p.failed += 1
        return p

    def run_pass(self, ctx: Context, p: Pass) -> None:
        tr = ctx.tracer
        order = list(self.QUERIES)
        self.rng.shuffle(order)
        for name in order:
            tr.op = name
            p.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("op"):
                    with tr.span("operators.build"):
                        df = self.queries[name].builder(ctx.spark, self.sf_dir)
                    ctx.harvest("build.")
                    with tr.span("exec.write"):
                        df.write.format("noop").mode("overwrite").save()
                    ctx.harvest()
            except Exception as exc:
                _fail(exc)
                p.failed += 1
                continue
            p.op_s[name] = time.perf_counter() - t0
        tr.op = None


# ---------------------------------------------------------------------
# ingest: the paper's links -> fetch -> PDF text -> document -> JSON path
# ---------------------------------------------------------------------


def make_fetcher(index: dict[str, tuple[int, str, str]], log_dir: str | None):
    """Serve the corpus from local files. A closure, so cloudpickle ships
    it by value and Python workers need not import this module; on traced
    runs each call appends its timing to a per-process log."""

    def fetch(url: str) -> tuple[int, str, bytes]:
        import time

        t0 = time.perf_counter()
        status, ctype, path = index[url]
        with open(path, "rb") as fh:
            body = fh.read()
        if log_dir is not None:
            import os

            with open(os.path.join(log_dir, f"w-{os.getpid()}.log"), "a") as log:
                log.write(f"F {t0!r} {time.perf_counter()!r} {len(body)}\n")
        return status, ctype, body

    return fetch


def make_traced_extractor(log_dir: str):
    """The production extractor, timed per call into the same logs."""

    def extract(body: bytes) -> list[str]:
        import os
        import time

        from ethiopia_legal_etl_spark.operators.ingest import default_extractor

        t0 = time.perf_counter()
        try:
            return default_extractor(body)
        finally:
            with open(os.path.join(log_dir, f"w-{os.getpid()}.log"), "a") as log:
                log.write(f"X {t0!r} {time.perf_counter()!r} {len(body)}\n")

    return extract


_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


class Ingest(Workload):
    """The paper's ingest path both ways the reference runs it, one after
    the other in each pass: the CLI's batch composition with only the
    fetcher injected, then a closed loop of one client POSTing ``/ingest``,
    one document per request.

    The batch outputs are checked after each pass against the corpus's
    ground truth; each response is checked as it arrives. Passes post only
    ingestible PDFs, so every pass does like work; the warm-up also posts a
    broken link and a text-free PDF, whose error and empty responses are
    checked too."""

    name = "ingest"
    N_DOCS = 40
    REQUESTS = 1  # /ingest requests per pass
    WARM_PASSES = 2

    def prepare(self, ctx: Context) -> None:
        self.root = os.path.join(ctx.work, self.name)
        shutil.rmtree(self.root, ignore_errors=True)
        files = os.path.join(self.root, "files")
        os.makedirs(files)
        self.links = make_corpus(ctx.seed, self.N_DOCS)
        index = {}
        for i, link in enumerate(self.links):
            path = os.path.join(files, f"{i:05d}.bin")
            with open(path, "wb") as fh:
                fh.write(link.body)
            index[link.url] = (200, link.content_type, path)
        self.log_dir = None
        if ctx.tracer.enabled:
            self.log_dir = os.path.join(self.root, "worker-logs")
            os.makedirs(self.log_dir)
        self.fetcher = make_fetcher(index, self.log_dir)
        self.extractor = make_traced_extractor(self.log_dir) if self.log_dir else None

        self.links_path = os.path.join(self.root, "pdf_links.json")
        with open(self.links_path, "w") as fh:  # the scraper's bare array
            json.dump([link.url for link in self.links], fh, indent=2)
        self.done_dir = os.path.join(self.root, "done")
        os.makedirs(self.done_dir)
        for link in self.links:
            if link.kind == "done":
                with open(os.path.join(self.done_dir, f"{link.base_name}.json"), "w") as fh:
                    json.dump({"title": link.base_name.replace("_", " ")}, fh)
        self.docs_dir = os.path.join(self.root, "out", "documents")
        self.rejects_dir = os.path.join(self.root, "out", "rejects")
        # links fetched and PDFs extracted by one pass, requests included
        self.links_per_pass = self.REQUESTS + sum(1 for link in self.links if link.kind != "done")
        self.pdfs_per_pass = self.REQUESTS + sum(
            1 for link in self.links if link.kind not in ("done", "nonpdf"))

    def start(self, ctx: Context) -> None:
        from ethiopia_legal_etl_spark.operators import ingest
        from ethiopia_legal_etl_spark.operators.service import (
            make_ingest_server,
            start_ingest_server,
        )

        self.spark_calls: list[tuple[float, float]] = []
        if ctx.tracer.enabled:  # time the Spark side of each request
            inner = ingest.ingest_single

            def timed(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return inner(*args, **kwargs)
                finally:
                    self.spark_calls.append((t0, time.perf_counter()))

            ingest.ingest_single = timed
        try:
            self.server = make_ingest_server(ctx.spark, fetcher=self.fetcher, extractor=self.extractor)
        finally:
            if ctx.tracer.enabled:
                ingest.ingest_single = inner
        self.thread = start_ingest_server(self.server)
        self.port = self.server.server_address[1]
        shuffled = random.Random(ctx.seed).sample(self.links, len(self.links))
        self.order = [link for link in shuffled if link.kind == "pdf"]
        self.warm = [
            next(link for link in shuffled if link.kind in ("nonpdf", "corrupt")),
            next(link for link in shuffled if link.kind == "textfree"),
            self.order[-1],
        ]
        self.next = self.passes = 0

    def warmup(self, ctx: Context) -> Pass:
        p = Pass()
        self.run_batch(ctx, p)
        self.check(ctx, p)
        self._requests(ctx, p, self.warm)
        return p

    def run_pass(self, ctx: Context, p: Pass) -> None:
        self.run_batch(ctx, p)
        start = self.passes * self.REQUESTS
        self.passes += 1
        self._requests(ctx, p, [self.order[k % len(self.order)]
                                for k in range(start, start + self.REQUESTS)])

    def run_batch(self, ctx: Context, p: Pass) -> None:
        """The CLI's composition: links, --done listing, pipeline, both sinks."""
        from pyspark.sql import functions as F

        from ethiopia_legal_etl_spark.functions.text import base_name_from_url
        from ethiopia_legal_etl_spark.operators.ingest import ingest_pipeline, write_documents_json
        from ethiopia_legal_etl_spark.sources.tables import read_pdf_links

        tr, spark = ctx.tracer, ctx.spark
        tr.op = "ingest"
        p.attempted += 2
        written = 0
        try:
            with tr.span("sources.read_links"):
                links = read_pdf_links(spark, self.links_path)
            ctx.harvest()
            with tr.span("sources.done_listing"):
                done = (
                    spark.read.format("binaryFile")
                    .option("pathGlobFilter", "*.json")
                    .load(self.done_dir)
                    .select(base_name_from_url(F.col("path")).alias("base_name"))
                )
            ctx.harvest()
            with tr.span("operators.build"):
                docs, rejects = ingest_pipeline(
                    links, done, fetcher=self.fetcher, extractor=self.extractor
                )
            ctx.harvest("build.")
            for out_dir, span, write in (
                (self.docs_dir, "sink.docs_write", lambda: write_documents_json(docs, self.docs_dir)),
                (self.rejects_dir, "sink.rejects_write",
                 lambda: rejects.write.mode("overwrite").json(self.rejects_dir)),
            ):
                t0 = time.perf_counter()
                with tr.span(span):
                    write()
                p.op_s[span] = time.perf_counter() - t0
                written += 1
                ctx.harvest()
                p.add({"sink_bytes": sum(os.path.getsize(f) for f in glob.glob(os.path.join(out_dir, "*")))})
        except Exception as exc:
            _fail(exc)
            p.failed += 2 - written
        finally:
            tr.op = None
        self.worker_calls(ctx, p)

    @staticmethod
    def _read(out_dir: str) -> list[dict]:
        rows = []
        for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
            with open(path, encoding="utf-8") as fh:
                rows += [json.loads(line) for line in fh if line.strip()]
        return rows

    def check(self, ctx: Context, p: Pass) -> None:
        """Docs and rejects against the corpus's ground truth."""
        by_url = {link.url: link for link in self.links}
        docs, rejects = self._read(self.docs_dir), self._read(self.rejects_dir)
        if ctx.fault and docs:
            docs[0]["content"] = docs[0]["content"][::-1]
        p.docs += len(docs)
        want = {u for u, link in by_url.items() if link.kind == "pdf"}
        bad_docs = len(docs) != len(want) or {d.get("sourceURL") for d in docs} != want
        for d in docs:
            link = by_url.get(d.get("sourceURL"))
            if link is None or not (
                d.get("content") == link.batch_content
                and d.get("title") == link.base_name.replace("_", " ")
                and d.get("year") == link.year
                and d.get("category") == "CassationDecision"
                and d.get("tags") == ["CassationDecision"]
                and _DATE.match(d.get("dateIngested", ""))
            ):
                bad_docs = True
        stage = {"nonpdf": "fetch/content-type", "corrupt": "extract/empty", "textfree": "extract/empty"}
        error = {"nonpdf": "not pdf: ", "corrupt": "ValueError: ", "textfree": "empty document"}
        want = {u for u, link in by_url.items() if link.kind in stage}
        bad_rejects = len(rejects) != len(want) or {r.get("url") for r in rejects} != want
        for r in rejects:
            link = by_url.get(r.get("url"))
            if link is None or link.kind not in stage or not (
                r.get("stage") == stage[link.kind]
                and str(r.get("error", "")).startswith(error[link.kind])
            ):
                bad_rejects = True
        if bad_docs or bad_rejects:
            print(f"wrong output: documents={bad_docs} rejects={bad_rejects}", flush=True)
        p.failed += int(bad_docs) + int(bad_rejects)

    def _post(self, body: dict) -> tuple[int, dict]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", "/ingest", json.dumps(body), {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    def _requests(self, ctx: Context, p: Pass, links: list) -> None:
        tr = ctx.tracer
        for k, link in enumerate(links):
            volume = f"Volume {self.next}"
            self.next += 1
            tr.op = f"request-{self.next}"
            p.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("service.request"):
                    status, doc = self._post({"volume": volume, "pdf_url": link.url})
            except (OSError, ValueError) as exc:
                _fail(exc)
                p.failed += 1
                continue
            p.op_s[f"request-{k}"] = time.perf_counter() - t0  # by place in the pass
            while self.spark_calls:
                tr.add("service.spark", *self.spark_calls.pop())
            p.add({"service.jobs": ctx.harvest().get("jobs", 0.0)})
            if ctx.fault and self.next == 1:
                doc["title"] = "?"
            if not self._ok(link, volume, status, doc):
                print(f"wrong response for {link.url}", flush=True)
                p.failed += 1
            elif "error" not in doc:
                p.docs += 1
        tr.op = None
        self.worker_calls(ctx, p)

    @staticmethod
    def _ok(link, volume: str, status: int, doc: dict) -> bool:
        if status != 200:
            return False
        if link.kind in ("nonpdf", "corrupt"):  # no content-type check here
            return set(doc) == {"error"} and doc["error"].startswith("PDF parse failed: ValueError")
        return (
            set(doc) == {"title", "sourceURL", "dateIngested", "category", "content",
                         "caseFields", "legisFields", "templateFields"}
            and doc["title"] == volume
            and doc["sourceURL"] == link.url
            and doc["content"] == link.service_content
            and bool(_DATE.match(doc["dateIngested"]))
        )

    def close(self) -> None:
        if not hasattr(self, "thread"):  # start() failed
            return
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)

    def worker_calls(self, ctx: Context, p: Pass) -> None:
        """Move the workers' fetch/extract records into spans and counters."""
        if self.log_dir is None:
            return
        for path in glob.glob(os.path.join(self.log_dir, "w-*.log")):
            pid = int(path.rsplit("-", 1)[1].split(".")[0])
            with open(path) as fh:
                lines = fh.read().split("\n")
            os.remove(path)
            for line in filter(None, lines):
                kind, t0, t1, nbytes = line.split()
                name = "ingest.fetch" if kind == "F" else "ingest.extract"
                ctx.tracer.add(name, float(t0), float(t1), pid=pid, bytes=int(nbytes))
                p.add({f"{name}_calls": 1, f"{name}_s": float(t1) - float(t0)})


WORKLOADS = {w.name: w for w in (TpchEvents, Ingest)}
