"""The reference's ingest pipeline re-architected as one lazy DataFrame
graph (SURVEY.md §3 entry points 1-3):

  links → anti-join(done) → fetch → pdf_ok flag → extract(pdf_ok only)
        = per-link OUTCOME frame (url, pdf_ok, content_type, content,
          error), lazily localCheckpointed
        → by filter: documents (doc projection) and rejects (routed,
          not deleted)

The reference iterates URLs one at a time in a single thread
(`fetch_legal_docs.py:32`, `import requests.py:120-121`); here the
link set is a DataFrame and fetch/extract are Arrow-batched
mapInPandas stages — parallelism is the partition count.

Network and PDF-codec access are injectable (fetcher/extractor
callables) so the pipeline is offline-testable (FIXTURES.md §2.3) and
codec-agnostic (pdfplumber vs PyMuPDF, both in the reference's
requirements.txt, may be absent here — SURVEY.md §7 hard-part (a)).

Both sinks read the one outcome frame, so each link is fetched once
and each PDF extracted once, as in the reference's loop. The checkpoint
is lazy (eager=False): the first sink write computes it and stores its
blocks, the second write reads them — no job is added for it.
- `body` never reaches the checkpoint: the extract stage consumes it
  and emits text only; non-PDF bodies are nulled on the JVM side
  before they cross to the extract worker.
- localCheckpoint blocks live on executors with no lineage behind them:
  losing an executor between the two writes fails the second one
  rather than recomputing. That is the repo-wide policy (no
  plan-matched cache/persist, whose blocks a later identical run would
  reuse), enforced by tests/test_cache_scoping.py.
- There is no default repartition (fetch_partitions=None keeps the
  input's partitioning): hashing the links over defaultParallelism
  cut wall time on the 40-PDF benchmark corpus but raised its CPU
  time by 15%.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.functions.text import (
    base_name_from_url,
    is_pdf_content_type,
)
from ethiopia_legal_etl_spark.operators.etl import (
    build_document_record,
    document_columns,
)

FETCHED_SCHEMA = "url string, status int, content_type string, body binary, error string"
EXTRACTED_SCHEMA = "url string, content string, error string"
OUTCOME_SCHEMA = (
    "url string, pdf_ok boolean, content_type string, content string, error string"
)

# fetcher: url -> (status, content_type, body bytes); raises on error
Fetcher = Callable[[str], tuple[int, str, bytes]]
# extractor: pdf bytes -> list of page texts; raises on parse error
Extractor = Callable[[bytes], list[str]]


def default_fetcher(url: str) -> tuple[int, str, bytes]:
    """Production fetcher (requests, 60s timeout like
    import requests.py:64). One Session per partition is created in
    fetch_stage — connection reuse, the reference's only concurrency
    trick (import requests.py:118), kept per-partition here."""
    import requests  # deferred: executors only

    resp = requests.get(url, timeout=60)
    resp.raise_for_status()
    return resp.status_code, resp.headers.get("Content-Type", ""), resp.content


def default_extractor(body: bytes) -> list[str]:
    """pdfplumber first, PyMuPDF second (reference requirements.txt has
    both), then the engine's dependency-free pure-Python extractor
    (functions/pdftext.py — FlateDecode text objects + ToUnicode CMaps,
    sufficient for the reference's own fixtures vol01/vol02.pdf and
    golden-tested against them)."""
    try:
        import io

        import pdfplumber

        with pdfplumber.open(io.BytesIO(body)) as pdf:
            return [p.extract_text() or "" for p in pdf.pages]
    except ImportError:
        pass
    try:
        import fitz  # PyMuPDF

        with fitz.open(stream=body, filetype="pdf") as doc:
            return [page.get_text() for page in doc]
    except ImportError:
        pass
    from ethiopia_legal_etl_spark.functions.pdftext import extract_pages

    return extract_pages(body)


def incremental_skip(links: DataFrame, done_base_names: DataFrame) -> DataFrame:
    """A-6: drop links whose JSON output already exists. Keys on the
    SINK name (base_name), not the PDF — §2.C-6: a downloaded-but-
    unparsed PDF is re-fetched, exactly like the reference."""
    keyed = links.withColumn("base_name", base_name_from_url(F.col("url")))
    return keyed.join(done_base_names, "base_name", "left_anti")


def fetch_stage(links: DataFrame, fetcher: Fetcher | None = None) -> DataFrame:
    """A-7: per-row HTTP fetch in mapInPandas; errors isolated per
    record (A-19 — fetch_legal_docs.py:93-96) into an `error` column
    instead of killing the job."""
    import pandas as pd

    fetch = fetcher or default_fetcher

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                try:
                    status, ctype, body = fetch(url)
                    rows.append((url, status, ctype, body, None))
                except Exception as exc:  # per-record isolation (A-19)
                    rows.append((url, None, None, None, f"{type(exc).__name__}: {exc}"))
            yield pd.DataFrame(
                rows, columns=["url", "status", "content_type", "body", "error"]
            )

    return links.select("url").mapInPandas(run, schema=FETCHED_SCHEMA)


def polite_fetch_stage(
    links: DataFrame,
    fetcher: Fetcher | None = None,
    min_interval_s: float = 0.0,
    n_partitions: int | None = None,
) -> DataFrame:
    """Crawler-politeness variant of fetch_stage: URLs are
    repartitioned BY HOST so each host's requests run inside one task
    (strictly serial per host), with a minimum inter-request interval
    enforced task-side. Different hosts still fetch in parallel.

    Why this exists: the reference fetches serially from one process
    (fetch_legal_docs.py:32 loop) and is accidentally polite; naively
    distributing that loop over 1000 executors turns the crawler into
    a DDoS against the source site. Partition-by-host is the standard
    Spark shape for per-key serialization — hash collisions may place
    several hosts in one task (still polite, just less parallel),
    never one host across several tasks (which would break the rate
    contract). Same per-record error isolation as fetch_stage.

    The host repartition uses an EXPLICIT partition count
    (REPARTITION_BY_NUM): a plain repartition(col) is subject to AQE
    partition coalescing, which on a small batch merges every host
    into one task and silently serializes the whole crawl — measured
    by the politeness tests before this was pinned."""
    import pandas as pd

    fetch = fetcher or default_fetcher
    host_col = F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time
        from urllib.parse import urlsplit

        last: dict[str, float] = {}
        for pdf in batches:
            rows = []
            for url in pdf["url"]:
                host = urlsplit(url).netloc
                if min_interval_s > 0:
                    prev = last.get(host)
                    if prev is not None:
                        wait = min_interval_s - (time.monotonic() - prev)
                        if wait > 0:
                            time.sleep(wait)
                    last[host] = time.monotonic()
                try:
                    status, ctype, body = fetch(url)
                    rows.append((url, status, ctype, body, None))
                except Exception as exc:  # per-record isolation (A-19)
                    rows.append(
                        (url, None, None, None, f"{type(exc).__name__}: {exc}")
                    )
            yield pd.DataFrame(
                rows, columns=["url", "status", "content_type", "body", "error"]
            )

    n = n_partitions or int(
        links.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return (
        links.select("url")
        .repartition(n, host_col)
        .mapInPandas(run, schema=FETCHED_SCHEMA)
    )


def pdf_ok_predicate() -> Column:
    """A-8: a fetched row is a PDF when it fetched without error and its
    Content-Type CONTAINS application/pdf (substring, not equality —
    §2.C-5). Never null."""
    return F.col("error").isNull() & is_pdf_content_type(
        F.coalesce(F.col("content_type"), F.lit(""))
    )


def content_type_filter(fetched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """A-8: keep PDF responses (pdf_ok_predicate); everything else →
    rejects."""
    ok_pred = pdf_ok_predicate()
    ok = fetched.where(ok_pred)
    rejects = fetched.where(~ok_pred | ok_pred.isNull())
    return ok, rejects


def extract_stage(
    fetched: DataFrame, extractor: Extractor | None = None
) -> DataFrame:
    """A-11: PDF → text. Batch-script semantics: drop EMPTY pages
    before joining with \\n (fetch_legal_docs.py:62-64) — NOT the
    mcp_server variant that keeps them (§2.C-3)."""
    import pandas as pd

    extract = extractor or default_extractor

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (url, *extract_text(extract, body))
                for url, body in zip(pdf["url"], pdf["body"])
            ]
            yield pd.DataFrame(rows, columns=["url", "content", "error"])

    return fetched.select("url", "body").mapInPandas(run, schema=EXTRACTED_SCHEMA)


def extract_text(
    extract: Extractor, body: bytes, keep_empty: bool = False
) -> tuple[str | None, str | None]:
    """One PDF → (content, error), errors isolated per record (A-19).
    Pages are joined with \\n; empty pages are dropped first unless
    keep_empty (the mcp_server variant, §2.C-3)."""
    try:
        pages = extract(bytes(body))
        if keep_empty:
            return "\n".join(p or "" for p in pages), None
        return "\n".join(p for p in pages if p), None
    except Exception as exc:
        return None, f"{type(exc).__name__}: {exc}"


def outcome_stage(
    fetched: DataFrame, extractor: Extractor | None = None
) -> DataFrame:
    """Per-link outcome (OUTCOME_SCHEMA): the JVM flags pdf_ok
    (pdf_ok_predicate), then one mapInPandas extracts the pdf_ok rows
    (batch semantics, as extract_stage) and passes the others through
    with their fetch error. The body is dropped here: only PDF bodies
    are sent to the worker and no body leaves it."""
    import pandas as pd

    extract = extractor or default_extractor

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, ok, ctype, body, error in zip(
                pdf["url"], pdf["pdf_ok"], pdf["content_type"], pdf["body"],
                pdf["error"],
            ):
                content = None
                if ok:
                    content, error = extract_text(extract, body)
                rows.append((url, bool(ok), ctype, content, error))
            yield pd.DataFrame(
                rows, columns=["url", "pdf_ok", "content_type", "content", "error"]
            )

    ok = pdf_ok_predicate()
    return fetched.select(
        "url", ok.alias("pdf_ok"), "content_type",
        F.when(ok, F.col("body")).alias("body"), "error",
    ).mapInPandas(run, schema=OUTCOME_SCHEMA)


def ingest_pipeline(
    links: DataFrame,
    done_base_names: DataFrame,
    fetcher: Fetcher | None = None,
    extractor: Extractor | None = None,
    ingest_date: str | None = None,
    fetch_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full A-pipeline; returns (documents, rejects), both filters of
    one lazily checkpointed outcome frame (module docstring).

    rejects carries (url, stage, error) — the engine's replacement for
    the reference's silent drop (§2.C-8).
    """
    todo = incremental_skip(links, done_base_names)
    if fetch_partitions:
        # spread network/CPU work; the reference's loop is n=1
        todo = todo.repartition(fetch_partitions, "url")

    outcome = outcome_stage(fetch_stage(todo, fetcher), extractor).localCheckpoint(
        eager=False
    )
    pdf_ok = F.col("pdf_ok")
    is_doc = pdf_ok & F.col("error").isNull() & (F.trim(F.col("content")) != "")

    docs = build_document_record(
        outcome.where(is_doc).withColumn("sourceURL", F.col("url")),
        url_col="sourceURL",
        content_col="content",
        ingest_date=ingest_date,
    )
    rejects = outcome.where(~is_doc).select(
        "url",
        F.when(pdf_ok, "extract/empty").otherwise("fetch/content-type").alias("stage"),
        F.coalesce(
            "error",
            F.when(pdf_ok, "empty document").otherwise(
                F.concat(F.lit("not pdf: "), "content_type")
            ),
        ).alias("error"),
    )
    return docs, rejects


def write_binary_files(df: DataFrame, out_dir: str,
                       name_col: str = "base_name", body_col: str = "body") -> None:
    """A-9 binary sink: persist payload bytes one file per row
    (downloaded_pdfs/ analog, fetch_legal_docs.py:56-57) via
    foreachPartition — executor-side writes, no driver collect."""

    def write_partition(rows) -> None:
        import os

        os.makedirs(out_dir, exist_ok=True)
        for row in rows:
            with open(os.path.join(out_dir, f"{row[name_col]}.pdf"), "wb") as fh:
                fh.write(bytes(row[body_col]))

    df.select(name_col, body_col).foreachPartition(write_partition)


def ingest_single(
    spark,
    volume: str,
    pdf_url: str,
    fetcher: Fetcher | None = None,
    extractor: Extractor | None = None,
    ingest_date: str | None = None,
) -> dict:
    """A-20 service parity: POST /ingest semantics (mcp_server.py:17-43)
    — ONE request through the same DataFrame graph as the batch path.

    Variant semantics preserved (§2.C-3 and mcp_server.py:17-43):
    - keeps empty pages as '' before the newline join
      (`page.extract_text() or ""`, mcp_server.py:28), unlike batch;
    - NO content-type check and no timeout guard (weaker than batch —
      mcp_server.py:20-22);
    - returns an error OBJECT on failure rather than dropping the
      record (mcp_server.py:24,30);
    - response record has NO year and NO tags fields (mcp_server.py:32-41).

    The document record is projected on the extracted frame itself, so
    one collect (one Spark job) is the whole response.
    """
    import pandas as pd

    extract = extractor or default_extractor

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (url, *extract_text(extract, body, keep_empty=True))
                for url, body in zip(pdf["url"], pdf["body"])
            ]
            yield pd.DataFrame(rows, columns=["url", "content", "error"])

    links = spark.createDataFrame([(pdf_url,)], "url: string")
    fetched = fetch_stage(links, fetcher)  # no content-type filter: mcp parity
    extracted = fetched.where(F.col("error").isNull()).select(
        "url", "body"
    ).mapInPandas(run, schema=EXTRACTED_SCHEMA)
    rows = extracted.select(
        "error",
        F.struct(*document_columns("url", "content", ingest_date)).alias("doc"),
    ).collect()  # single-row path: collect IS the response
    if not rows:
        return {"error": "Download failed"}
    if rows[0]["error"] is not None:
        return {"error": f"PDF parse failed: {rows[0]['error']}"}
    doc_row = rows[0]["doc"].asDict(recursive=True)
    doc_row["title"] = volume  # mcp_server uses the request's volume as title
    del doc_row["year"], doc_row["tags"]  # absent from the mcp response shape
    return doc_row


def write_documents_json(docs: DataFrame, path: str) -> None:
    """A-15 sink: JSONL (idiomatic Spark; the reference writes one
    pretty-printed file per doc, fetch_legal_docs.py:88-89 — same
    records, distributed layout)."""
    docs.write.mode("overwrite").json(path)


def write_documents_json_files(
    docs: DataFrame, out_dir: str, name_col: str = "base_name"
) -> None:
    """A-15 byte-parity sink: one pretty-printed UTF-8 JSON file per
    document, byte-identical to the reference's
    `json.dump(doc, f, ensure_ascii=False, indent=2)`
    (fetch_legal_docs.py:88-89). File name = `<base_name>.json`
    (fetch_legal_docs.py:36-38).

    Executor-side writes via foreachPartition (same pattern as
    write_binary_files, A-9): no driver collect, each partition
    serializes its own rows. Byte parity relies on two stable facts:
    Row.asDict(recursive=True) preserves schema field order, and
    build_document_record projects fields in the reference dict's
    literal order — json.dumps then reproduces the exact bytes.

    Rows sharing a base_name (two URLs whose paths end in the same
    file name) can land in different partitions; each write goes to a
    task-unique temp file and is published with an atomic os.replace,
    so concurrent writers can never interleave bytes into one file —
    the outcome is a last-wins whole file (the reference's serial loop
    is first-wins via its exists-check; dedupe base_name upstream with
    incremental_skip if that distinction matters).
    """

    def write_partition(rows) -> None:
        import json
        import os
        import uuid

        os.makedirs(out_dir, exist_ok=True)
        tag = uuid.uuid4().hex  # task-unique; avoids cross-writer tmp collisions
        for row in rows:
            d = row.asDict(recursive=True)
            name = d.pop(name_col)
            final = os.path.join(out_dir, f"{name}.json")
            tmp = f"{final}.{tag}.tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(d, fh, ensure_ascii=False, indent=2)
            os.replace(tmp, final)

    docs.foreachPartition(write_partition)
