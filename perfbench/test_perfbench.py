"""Self-tests of the benchmark. From the repository root:

    python3 -m pytest perfbench -q

The corpus and parsing tests take seconds; each end-to-end test starts a
Spark session and takes about half a minute.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from corpus import KINDS, make_corpus  # noqa: E402
from measure import metric_value, plan_metrics  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402

from ethiopia_legal_etl_spark.functions.pdftext import extract_pages  # noqa: E402

WORKLOADS = ["tpch_events", "ingest"]


@pytest.mark.parametrize("seed", [1, 7, 2024, 99991])
def test_corpus_round_trips_through_extract_pages(seed):
    links = make_corpus(seed, 40)
    assert {link.kind for link in links} == set(KINDS)
    for link in links:
        if link.kind in ("corrupt", "nonpdf"):
            with pytest.raises(ValueError):
                extract_pages(link.body)
            continue
        assert extract_pages(link.body) == list(link.pages)
        if link.kind == "textfree":
            assert link.batch_content == ""
        else:
            assert link.batch_content and "\n\n" not in link.batch_content
            assert any("ሀ" <= ch <= "፿" for ch in link.batch_content)
            assert "–" in link.pages[0]  # the WinAnsi heading font's en dash


def test_seed_changes_the_corpus_and_repeats_it():
    a, b = make_corpus(1, 30), make_corpus(2, 30)
    assert [link.body for link in a] == [link.body for link in make_corpus(1, 30)]
    assert {link.url for link in a}.isdisjoint(link.url for link in b)
    assert [link.kind for link in a] != [link.kind for link in b]


def test_metric_strings_parse():
    assert metric_value("2.6 s") == 2.6
    assert metric_value("366 ms") == pytest.approx(0.366)
    assert metric_value("1,200") == 1200
    assert metric_value("64.0 MiB") == 64 * 2**20
    assert metric_value("total (min, med, max)\n1.5 m (1 ms, 2 ms, 3 ms)") == 90
    dot = ('4 [id="node4" labelType="html" label="<b>Scan parquet </b><br><br>'
           'scan time: 14 ms<br>number of output rows: 1,500" tooltip="x"];\n'
           '    label="WholeStageCodegen (5)\\n \\nduration: 37 ms";')
    assert plan_metrics(dot) == [
        ("Scan parquet", {"scan time": 0.014, "number of output rows": 1500.0}),
        ("WholeStageCodegen (5)", {"duration": 0.037}),
    ]


def run_bench(*args: str, cwd: Path = ROOT) -> tuple[int, dict | None, dict | None]:
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = r.stdout.strip().splitlines()
    summary = next((json.loads(line[8:]) for line in lines if line.startswith("summary ")), None)
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return r.returncode, summary, result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_end_to_end_metric_is_printed(workload):
    rc, summary, result = run_bench("--workload", workload, "--seed", "101", "--trace", "0")
    assert rc == 0 and result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(END_TO_END)
    for name, unit in END_TO_END.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0
    assert summary["failed_frac"] == 0.0
    assert (summary["docs_per_s"] is None) == (workload == "tpch_events")


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_per_layer_metric_is_printed(workload):
    rc, summary, result = run_bench("--workload", workload, "--seed", "202", "--trace", "1")
    assert rc == 0 and result["correct"]
    assert set(result["metrics"]) == set(PER_LAYER)
    got = {k: v["value"] for k, v in result["metrics"].items()}
    spans = [json.loads(line) for line in open(ROOT / summary["spans"])]
    assert {"pass", "trace.harvest"} <= {s["name"] for s in spans}
    assert got["trace.overhead_frac"] > 0 and got["exec.tasks"] > 0
    assert got["jvm.jit_cpu_s"] > 0  # the compiler threads were found by name
    if workload == "tpch_events":
        assert all(got[k] == 0 for k in got if k.startswith("pyworker."))
        assert got["sources.load_calls"] > 0 and got["exec.scan_nodes"] > 0
    else:
        assert got["pyworker.eval_nodes"] > 0 and got["pdftext.s_per_doc"] > 0
        assert got["ingest.fetch_calls_per_link"] >= 1
        assert got["sink.bytes_written"] > 0 and got["sink.docs_write_s"] > 0
        assert got["service.jobs_per_request"] > 0 and got["service.http_s_per_request"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_injected_wrong_output_is_counted_as_failed(workload):
    rc, summary, result = run_bench("--workload", workload, "--seed", "303", "--trace", "0",
                                    "--inject-fault")
    assert rc == 0 and not result["correct"]
    assert result["failed"] >= 1 and summary["failed_frac"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    rc, summary, result = run_bench("--workload", "ingest", "--seed", "1", cwd=tmp_path)
    assert rc != 0 and summary is None and result is None
