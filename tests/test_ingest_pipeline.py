"""Offline end-to-end test of the A-pipeline (SURVEY.md §3 entry point
1) with injected fetcher/extractor — FIXTURES.md §2.3 response double.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ethiopia_legal_etl_spark.operators.etl import build_document_record
from ethiopia_legal_etl_spark.operators.ingest import (
    content_type_filter,
    extract_stage,
    fetch_stage,
    incremental_skip,
    ingest_pipeline,
)

BASE = "https://fsc.example.et/files"

RESPONSES = {
    f"{BASE}/vol01.pdf": (200, "application/pdf", b"%PDF-GOOD-1"),
    f"{BASE}/vol%2002.pdf": (200, "application/pdf;charset=binary", b"%PDF-GOOD-2"),
    f"{BASE}/notpdf.pdf": (200, "text/html", b"<html>nope</html>"),
    f"{BASE}/empty.pdf": (200, "application/pdf", b"%PDF-EMPTY"),
    f"{BASE}/boom.pdf": None,  # network error
}


def fake_fetcher(url):
    resp = RESPONSES[url]
    if resp is None:
        raise ConnectionError("refused")
    return resp


def fake_extractor(body: bytes):
    if b"GOOD-1" in body:
        return ["ፍርድ ቤት ውሳኔ 2015", "", "ገጽ ሁለት"]  # empty page dropped
    if b"GOOD-2" in body:
        return ["no year in this one"]
    if b"EMPTY" in body:
        return ["", "", ""]
    raise ValueError("parse failure")


@pytest.fixture()
def links(spark):
    return spark.createDataFrame([(u,) for u in RESPONSES], "url: string")


def test_incremental_skip_keys_on_base_name(spark, links):
    # §2.C-6: skip keyed on sink (JSON) name, not the PDF path
    done = spark.createDataFrame([("vol01",)], "base_name: string")
    remaining = incremental_skip(links, done)
    urls = {r["url"] for r in remaining.collect()}
    assert f"{BASE}/vol01.pdf" not in urls
    assert f"{BASE}/vol%2002.pdf" in urls  # base 'vol_02' != 'vol01'


def test_fetch_isolates_per_record_errors(spark, links):
    fetched = fetch_stage(links, fake_fetcher)
    rows = {r["url"]: r for r in fetched.collect()}
    assert rows[f"{BASE}/boom.pdf"]["error"].startswith("ConnectionError")
    assert rows[f"{BASE}/vol01.pdf"]["error"] is None
    assert bytes(rows[f"{BASE}/vol01.pdf"]["body"]) == b"%PDF-GOOD-1"


def test_content_type_substring_filter(spark, links):
    fetched = fetch_stage(links, fake_fetcher)
    ok, rejects = content_type_filter(fetched)
    ok_urls = {r["url"] for r in ok.collect()}
    assert f"{BASE}/vol%2002.pdf" in ok_urls  # charset suffix accepted (§2.C-5)
    assert f"{BASE}/notpdf.pdf" not in ok_urls
    assert f"{BASE}/boom.pdf" not in ok_urls


def test_extract_drops_empty_pages_and_joins_newline(spark, links):
    fetched = fetch_stage(links, fake_fetcher)
    ok, _ = content_type_filter(fetched)
    extracted = extract_stage(ok, fake_extractor)
    rows = {r["url"]: r for r in extracted.collect()}
    # batch semantics: empty page removed BEFORE join (§2.C-3)
    assert rows[f"{BASE}/vol01.pdf"]["content"] == "ፍርድ ቤት ውሳኔ 2015\nገጽ ሁለት"


def test_full_pipeline_documents_and_rejects(spark, links):
    done = spark.createDataFrame([], "base_name: string")
    docs, rejects = ingest_pipeline(
        links, done, fetcher=fake_fetcher, extractor=fake_extractor,
        ingest_date="2025-08-15",
    )
    doc_rows = {r["title"]: r for r in docs.collect()}
    assert set(doc_rows) == {"vol01", "vol 02"}  # %20 → _ → ' ' chain
    v1 = doc_rows["vol01"]
    assert v1["year"] == "2015"
    assert v1["category"] == "CassationDecision"
    assert v1["tags"] == ["CassationDecision"]
    assert v1["dateIngested"] == "2025-08-15"
    assert v1["caseFields"].asDict() == {"issue": "", "holding": "", "ratio": ""}
    assert doc_rows["vol 02"]["year"] == ""  # '' sentinel, not null

    rej = {r["url"]: r for r in rejects.collect()}
    assert set(rej) == {f"{BASE}/notpdf.pdf", f"{BASE}/boom.pdf", f"{BASE}/empty.pdf"}
    assert rej[f"{BASE}/empty.pdf"]["stage"] == "extract/empty"


def test_both_sinks_fetch_each_link_once_and_extract_each_pdf_once(
    spark, links, tmp_path
):
    """Documents and rejects are filters of one outcome frame: writing
    both fetches every not-done link once and extracts every PDF once
    (the reference's loop, fetch_legal_docs.py:32). A second pipeline
    over the same inputs fetches again — nothing is reused across runs."""
    import os

    from ethiopia_legal_etl_spark.operators.ingest import write_documents_json

    log = str(tmp_path / "calls.log")

    def fetcher(url):  # closures: shipped by value to the Python workers
        with open(log, "a") as fh:
            fh.write(f"fetch {url}\n")
        return fake_fetcher(url)

    def extractor(body):
        with open(log, "a") as fh:
            fh.write(f"extract {body.decode()}\n")
        return fake_extractor(body)

    done = spark.createDataFrame([("vol01",)], "base_name: string")
    todo = sorted(u for u in RESPONSES if u != f"{BASE}/vol01.pdf")
    for _ in range(2):
        docs, rejects = ingest_pipeline(
            links, done, fetcher=fetcher, extractor=extractor,
            ingest_date="2025-08-15",
        )
        write_documents_json(docs, str(tmp_path / "docs"))
        rejects.write.mode("overwrite").json(str(tmp_path / "rejects"))
        with open(log) as fh:
            calls = sorted(fh.read().splitlines())
        os.remove(log)
        assert [c for c in calls if c.startswith("fetch ")] == [
            f"fetch {u}" for u in todo
        ]
        assert [c for c in calls if c.startswith("extract ")] == [
            "extract %PDF-EMPTY", "extract %PDF-GOOD-2",
        ]
        assert len(spark.read.json(str(tmp_path / "docs")).collect()) == 1
        assert len(spark.read.json(str(tmp_path / "rejects")).collect()) == 3


def test_binary_sink_writes_per_row_files(spark, tmp_path):
    # A-9: foreachPartition binary sink (downloaded_pdfs/ analog)
    from ethiopia_legal_etl_spark.operators.ingest import write_binary_files

    df = spark.createDataFrame(
        [("vol01", b"%PDF-1"), ("vol_02", b"%PDF-2")],
        "base_name: string, body: binary",
    )
    out = str(tmp_path / "pdfs")
    write_binary_files(df, out)
    import os

    assert sorted(os.listdir(out)) == ["vol01.pdf", "vol_02.pdf"]
    assert open(f"{out}/vol01.pdf", "rb").read() == b"%PDF-1"


def test_ingest_single_service_parity(spark):
    """A-20: mcp_server /ingest semantics — empty pages kept, no
    content-type gate, error object on failure, no year/tags keys."""
    from ethiopia_legal_etl_spark.operators.ingest import ingest_single

    doc = ingest_single(
        spark, "vol99", f"{BASE}/vol01.pdf",
        fetcher=fake_fetcher, extractor=fake_extractor, ingest_date="2025-08-15",
    )
    assert doc["title"] == "vol99"
    assert doc["sourceURL"] == f"{BASE}/vol01.pdf"
    # mcp variant KEEPS the empty page: join yields a blank middle line
    assert doc["content"] == "ፍርድ ቤት ውሳኔ 2015\n\nገጽ ሁለት"
    assert "year" not in doc and "tags" not in doc
    assert doc["caseFields"] == {"issue": "", "holding": "", "ratio": ""}

    # non-PDF content-type is ACCEPTED by the mcp path (no check) but
    # fails at parse → error object, mirroring mcp_server.py:30
    err = ingest_single(
        spark, "volx", f"{BASE}/notpdf.pdf",
        fetcher=fake_fetcher, extractor=fake_extractor,
    )
    assert set(err) == {"error"} and err["error"].startswith("PDF parse failed")

    # network failure → error object (mcp_server.py:24)
    err2 = ingest_single(
        spark, "voly", f"{BASE}/boom.pdf",
        fetcher=fake_fetcher, extractor=fake_extractor,
    )
    assert set(err2) == {"error"}


def test_ingest_single_runs_one_spark_job(spark):
    """One /ingest request is one collect: the document record is
    projected on the extracted frame, not built by a second job. Holds
    for the document, parse-failure and download-failure responses."""
    from ethiopia_legal_etl_spark.operators.ingest import ingest_single

    sc = spark.sparkContext
    cases = {
        "vol01.pdf": lambda r: r["title"] == "v",
        "notpdf.pdf": lambda r: r["error"].startswith("PDF parse failed: "),
        "boom.pdf": lambda r: r == {"error": "Download failed"},
    }
    for name, ok in cases.items():
        group = f"ingest-single-{name}"
        sc.setJobGroup(group, "one /ingest request")
        try:
            resp = ingest_single(
                spark, "v", f"{BASE}/{name}",
                fetcher=fake_fetcher, extractor=fake_extractor,
            )
        finally:
            sc.setJobGroup("", "")
        assert ok(resp), resp
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, name


def test_document_schema_matches_declared(spark):
    from ethiopia_legal_etl_spark.schemas import DOCUMENT_SCHEMA

    src = spark.createDataFrame(
        [("https://x/files/vol01.pdf", "text 1999")], "sourceURL: string, content: string"
    )
    out = build_document_record(src)
    # simpleString compares names+types, ignoring nullability (literal
    # columns are non-nullable by construction)
    assert out.schema.simpleString() == DOCUMENT_SCHEMA.simpleString()


# ---------- polite fetch (per-host serialization + rate limit) ----------


def timing_fetcher(url):
    """Returns the fetch's monotonic timestamp in the body so the test
    can reconstruct per-host request timelines executor-side."""
    import time

    return 200, "application/pdf", repr(time.monotonic()).encode()


def test_polite_fetch_enforces_per_host_interval(spark):
    from ethiopia_legal_etl_spark.operators.ingest import polite_fetch_stage

    urls = [
        (f"http://host{h}.example/doc{i}.pdf",)
        for h in range(3)
        for i in range(5)
    ]
    links = spark.createDataFrame(urls, "url string")
    interval = 0.05
    out = polite_fetch_stage(
        links, fetcher=timing_fetcher, min_interval_s=interval
    ).collect()
    assert len(out) == 15 and all(r["error"] is None for r in out)
    by_host = {}
    for r in out:
        host = r["url"].split("/")[2]
        by_host.setdefault(host, []).append(float(r["body"].decode()))
    assert set(len(v) for v in by_host.values()) == {5}
    for host, times in by_host.items():
        times.sort()
        gaps = [b - a for a, b in zip(times, times[1:])]
        # enforced inter-request interval per host (scheduler slack down)
        assert min(gaps) >= interval * 0.8, (host, gaps)


def test_polite_fetch_parallel_across_hosts_serial_within(spark):
    """Politeness must not serialize the WHOLE crawl: with k hosts the
    wall clock should be far below k * per-host-serial time."""
    import time

    from ethiopia_legal_etl_spark.operators.ingest import polite_fetch_stage

    del time  # timestamps come from inside the tasks, not the driver

    n_hosts, n_urls, interval = 8, 4, 0.05
    urls = [
        (f"http://par{h}.example/d{i}.pdf",)
        for h in range(n_hosts)
        for i in range(n_urls)
    ]
    links = spark.createDataFrame(urls, "url string")
    out = polite_fetch_stage(
        links, fetcher=timing_fetcher, min_interval_s=interval
    ).collect()
    assert len(out) == n_hosts * n_urls
    times = [float(r["body"].decode()) for r in out]
    span = max(times) - min(times)
    # fully-serial floor: every host back-to-back = 8 hosts * 3 gaps
    serial = n_hosts * (n_urls - 1) * interval
    # hosts genuinely overlapped (hash collisions may stack a few hosts
    # per task, but nowhere near full serialization)
    assert span < serial * 0.75, (span, serial)


def test_polite_fetch_keeps_error_isolation(spark):
    from ethiopia_legal_etl_spark.operators.ingest import polite_fetch_stage

    def flaky(url):
        if url.endswith("3.pdf"):
            raise OSError("boom")
        return timing_fetcher(url)

    links = spark.createDataFrame(
        [(f"http://flaky.example/{i}.pdf",) for i in range(6)], "url string"
    )
    out = polite_fetch_stage(links, fetcher=flaky, min_interval_s=0.0).collect()
    errs = [r for r in out if r["error"] is not None]
    assert len(errs) == 1 and "OSError" in errs[0]["error"]
    assert len(out) == 6


def test_live_http_service_matches_function_path(spark):
    """A-20 live service (operators/service.py): a real HTTP server
    (stdlib http.server, no FastAPI needed) serving POST /ingest over
    the same Spark graph. Response bodies must equal the direct
    ingest_single results; transport errors follow the reference
    contract (422 validation, 404 path, 405 method, errors as 200-OK
    objects)."""
    import json
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    from ethiopia_legal_etl_spark.operators.ingest import ingest_single
    from ethiopia_legal_etl_spark.operators.service import (
        make_ingest_server,
        start_ingest_server,
    )

    server = make_ingest_server(
        spark, fetcher=fake_fetcher, extractor=fake_extractor,
        ingest_date="2025-08-15",
    )
    host, port = server.server_address
    start_ingest_server(server)
    try:
        def post(path, body):
            req = Request(
                f"http://{host}:{port}{path}",
                data=json.dumps(body).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urlopen(req) as resp:
                return resp.status, json.loads(resp.read())

        # success: byte-for-byte the function path's response
        want = ingest_single(
            spark, "vol99", f"{BASE}/vol01.pdf",
            fetcher=fake_fetcher, extractor=fake_extractor,
            ingest_date="2025-08-15",
        )
        status, got = post("/ingest", {"volume": "vol99", "pdf_url": f"{BASE}/vol01.pdf"})
        assert status == 200 and got == want

        # parse failure: 200-OK error object (mcp_server.py:30)
        status, got = post("/ingest", {"volume": "v", "pdf_url": f"{BASE}/notpdf.pdf"})
        assert status == 200 and set(got) == {"error"}

        # validation: missing field -> 422 with FastAPI-shaped detail
        try:
            post("/ingest", {"volume": "v"})
            raise AssertionError("expected 422")
        except HTTPError as e:
            assert e.code == 422
            assert json.loads(e.read())["detail"][0]["loc"] == ["body", "pdf_url"]

        # wrong path -> 404; GET -> 405
        try:
            post("/other", {})
            raise AssertionError("expected 404")
        except HTTPError as e:
            assert e.code == 404
        try:
            with urlopen(f"http://{host}:{port}/ingest") as resp:
                raise AssertionError("expected 405")
        except HTTPError as e:
            assert e.code == 405
    finally:
        server.shutdown()
        server.server_close()
