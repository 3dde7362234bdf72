"""Benchmark of the legal-document ETL engine, run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 18 --trace 0

Workloads (``workloads.py``):

- ``tpch_events``: build + noop write of registered TPC-H and event queries;
- ``ingest``: the CLI's ingest composition over a seeded PDF corpus, then
  one client POSTing ``/ingest`` in a closed loop over the same corpus.

The run makes its inputs from the seed, times the session set-up, runs one
checked warm-up pass and a few untimed passes (the JVM compiles the hot
code over the first passes, which would otherwise be timed), then timed
passes until ``--seconds`` of pass time (at least three passes). Spark runs
on ``local[N]``, N being the CPUs this process may use. Everything it
writes stays under ``perfbench/_work``.

``cpu_s`` is the CPU time of the whole process tree per pass less that of
the JVM's JIT compiler threads: compilation goes on through every timed
pass, and how far it has got swings from run to run far more than the
program's own work does. The traced run reports it as ``jvm.jit_cpu_s``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the spans go to
``perfbench/_work/spans-<workload>-<seed>.jsonl``. The line before it is a
human-readable summary with the figures that are not metrics:
``failed_frac``, ``docs_per_s``, ``peak_rss_mb`` (VmHWM of this process
plus the JVM), ``op_p90_s`` (given 100 operations or more) and the
sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
MIN_PASSES = 3

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.ship_pkg_s": "s",
    "sources.load_calls": "count", "sources.load_s": "s", "sources.infer_jobs": "count",
    "operators.build_s": "s", "operators.eager_jobs": "count",
    "exec.write_s": "s", "exec.executor_cpu_s": "s", "exec.executor_run_s": "s",
    "exec.gc_s": "s", "exec.tasks": "count", "exec.scan_nodes": "count",
    "exec.scan_time_s": "s", "exec.codegen_s": "s", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.broadcast_collect_s": "s", "exec.spill_bytes": "bytes",
    "jvm.jit_cpu_s": "s",
    "pyworker.start_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
    "pyworker.bytes_sent": "bytes", "pyworker.bytes_returned": "bytes", "pyworker.eval_nodes": "count",
    "ingest.fetch_calls_per_link": "ratio", "ingest.extract_calls_per_pdf": "ratio",
    "ingest.fetch_s": "s", "ingest.extract_s": "s",
    "pdftext.s_per_doc": "s", "pdftext.mb_per_s": "MB/s",
    "sink.docs_write_s": "s", "sink.rejects_write_s": "s", "sink.bytes_written": "bytes",
    "service.jobs_per_request": "count", "service.spark_s_per_request": "s",
    "service.http_s_per_request": "s",
    "trace.unattributed_s": "s", "trace.overhead_frac": "ratio",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["tpch_events", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="pass time to measure")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one output before it is checked (self-test)")
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway exits on EOF
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()


def reap_children(tree) -> None:
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        left = [pid for pid in tree.members() if pid != tree.root]
        if not left:
            return
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def trace_sources(ctx) -> None:
    """Span every call of ``sources.tables.load_table``, wherever a module
    imported it by name, and count the jobs it starts (schema inference)."""
    from ethiopia_legal_etl_spark.sources import tables

    inner = tables.load_table

    def load_table(*args, **kwargs):
        with ctx.tracer.span("sources.load"):
            df = inner(*args, **kwargs)
        ctx.harvest("load.")
        return df

    for name, mod in list(sys.modules.items()):
        if name.startswith("ethiopia_legal_etl_spark") and getattr(mod, "load_table", None) is inner:
            mod.load_table = load_table


def pdftext_speed(bodies: list[bytes]) -> tuple[float, float]:
    """(seconds per document, MB/s) of ``extract_pages`` on the PDFs."""
    from ethiopia_legal_etl_spark.functions.pdftext import extract_pages

    if not bodies:
        return 0.0, 0.0
    t0 = time.perf_counter()
    for body in bodies:
        extract_pages(body)
    dt = time.perf_counter() - t0
    return dt / len(bodies), sum(map(len, bodies)) / dt / 1e6


def layer_metrics(wl, passes, tracer, since: int, session: dict, pdftext: tuple) -> dict:
    n = len(passes)

    def per(key: str) -> float:
        return sum(p.counters.get(key, 0.0) for p in passes) / n

    def spans(*names: str) -> float:
        return sum(tracer.total(name, since) for name in names) / n

    requests = getattr(wl, "REQUESTS", 0) * n
    out = {
        "session.start_s": session["start_s"],
        "session.ship_pkg_s": session["ship_pkg_s"],
        "sources.load_calls": sum(tracer.count(k, since) for k in
                                  ("sources.load", "sources.read_links", "sources.done_listing")) / n,
        "sources.load_s": spans("sources.load", "sources.read_links", "sources.done_listing"),
        "operators.build_s": tracer.self_time("operators.build", since) / n,
        "sources.infer_jobs": per("load.jobs"),
        "operators.eager_jobs": per("build.jobs"),
        "exec.write_s": spans("exec.write", "sink.docs_write", "sink.rejects_write"),
        "exec.executor_cpu_s": per("spark.executor_cpu_s"),
        "exec.executor_run_s": per("spark.executor_run_s"),
        "exec.gc_s": per("spark.gc_s"),
        "exec.tasks": per("spark.tasks"),
        "exec.scan_nodes": per("spark.scan_nodes"),
        "exec.scan_time_s": per("spark.scan_time_s"),
        "exec.codegen_s": per("spark.codegen_s"),
        "exec.shuffle_write_bytes": per("spark.shuffle_write_bytes"),
        "exec.shuffle_read_bytes": per("spark.shuffle_read_bytes"),
        "exec.broadcast_collect_s": per("spark.broadcast_collect_s"),
        "exec.spill_bytes": per("spark.spill_bytes"),
        "jvm.jit_cpu_s": sum(p.jit_s for p in passes) / n,
        "pyworker.start_s": per("spark.py_start_s"),
        "pyworker.init_s": per("spark.py_init_s"),
        "pyworker.run_s": per("spark.py_run_s"),
        "pyworker.bytes_sent": per("spark.py_bytes_sent"),
        "pyworker.bytes_returned": per("spark.py_bytes_returned"),
        "pyworker.eval_nodes": per("spark.py_eval_nodes"),
        "ingest.fetch_calls_per_link": per("ingest.fetch_calls") / getattr(wl, "links_per_pass", 1),
        "ingest.extract_calls_per_pdf": per("ingest.extract_calls") / getattr(wl, "pdfs_per_pass", 1),
        "ingest.fetch_s": per("ingest.fetch_s"),
        "ingest.extract_s": per("ingest.extract_s"),
        "pdftext.s_per_doc": pdftext[0],
        "pdftext.mb_per_s": pdftext[1],
        "sink.docs_write_s": spans("sink.docs_write"),
        "sink.rejects_write_s": spans("sink.rejects_write"),
        "sink.bytes_written": per("sink_bytes"),
        "service.jobs_per_request": per("service.jobs") * n / requests if requests else 0.0,
        "service.spark_s_per_request": spans("service.spark") * n / requests if requests else 0.0,
        "service.http_s_per_request":
            tracer.self_time("service.request", since) / requests if requests else 0.0,
        "trace.unattributed_s": (tracer.self_time("pass", since) + tracer.self_time("op", since)) / n,
        "trace.overhead_frac": tracer.total("trace.harvest", since) / max(tracer.total("pass", since), 1e-9),
    }
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "ethiopia_legal_etl_spark" / "session.py").is_file():
        print(f"engine package not found next to {HERE.name}/", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local"):  # scratch of the previous run goes
        shutil.rmtree(WORK / sub, ignore_errors=True)
        (WORK / sub).mkdir(parents=True)
    # keep every temporary file under WORK: Python's (pyspark, the package
    # zip, workers) and every JVM's, whose perf-data file otherwise goes to /tmp;
    # and keep the JIT compiler threads alive, so their CPU can be read per pass
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={WORK / 'tmp'}"
    )
    sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(HERE)]

    from measure import ProcTree, SparkStats, Tracer
    from workloads import WORKLOADS, Context, Pass

    from ethiopia_legal_etl_spark.session import ensure_session_confs, get_spark

    wl = WORKLOADS[args.workload]()
    tracer = Tracer(args.trace == 1)
    ctx = Context(spark=None, tracer=tracer, stats=None, work=str(WORK), seed=args.seed,
                  fault=args.inject_fault)
    wl.prepare(ctx)
    tree = ProcTree()

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="ethiopia-legal-etl-perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK / "spark-local"),
        },
    )
    t1 = time.perf_counter()
    ensure_session_confs(spark)
    t2 = time.perf_counter()
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    session = {"start_s": t1 - t0, "ship_pkg_s": t2 - t1}

    passes: list = []
    try:
        ctx.spark = spark
        if tracer.enabled:
            ctx.stats = SparkStats(spark)
            trace_sources(ctx)
        wl.start(ctx)
        tw = time.perf_counter()
        warm = [wl.warmup(ctx)]
        for _ in range(wl.WARM_PASSES):
            warm.append(Pass())
            wl.run_pass(ctx, warm[-1])
            wl.check(ctx, warm[-1])
        warm_s = time.perf_counter() - tw
        ctx.harvest()  # the counters start after the warm-up
        since = len(tracer.spans)
        measured = 0.0
        while measured < args.seconds or len(passes) < MIN_PASSES:
            p = ctx.current = Pass()
            (c0, j0), t = tree.cpu_s(), time.perf_counter()
            with tracer.span("pass"):
                wl.run_pass(ctx, p)
            p.wall_s = time.perf_counter() - t
            c1, j1 = tree.cpu_s()
            p.cpu_s, p.jit_s = c1 - c0 - (j1 - j0), j1 - j0
            ctx.current = None
            wl.check(ctx, p)
            passes.append(p)
            measured += p.wall_s
        peak_mb = tree.peak_rss_mb()
        bodies = [link.body for link in getattr(wl, "links", []) if link.pages][:40]
        pdftext = pdftext_speed(bodies) if tracer.enabled else (0.0, 0.0)
    finally:
        wl.close()
        stop_spark(spark)
        reap_children(tree)

    attempted = sum(p.attempted for p in warm + passes)
    failed = sum(p.failed for p in warm + passes)
    ops = [s for p in passes for s in p.op_s.values()]
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for name, s in p.op_s.items():
            by_op.setdefault(name, []).append(s)
    wall = sum(p.wall_s for p in passes)
    summary = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "warm_passes": wl.WARM_PASSES, "passes": len(passes), "pass_walls_s": [round(p.wall_s, 4) for p in passes],
        "pass_cpu_s": [round(p.cpu_s, 2) for p in passes],
        "pass_jit_s": [round(p.jit_s, 2) for p in passes],
        "warmup_s": round(warm_s, 4), "op_samples": len(ops),
        "op_p90_s": statistics.quantiles(ops, n=10)[-1] if len(ops) >= 100 else None,
        "docs_per_s": sum(p.docs for p in passes) / wall if wl.name != "tpch_events" else None,
        "failed_frac": failed / attempted,
        "peak_rss_mb": peak_mb,
    }
    if tracer.enabled:
        spans_path = WORK / f"spans-{wl.name}-{args.seed}.jsonl"
        tracer.write(str(spans_path))
        summary["spans"] = str(spans_path.relative_to(ROOT))
        values = layer_metrics(wl, passes, tracer, since, session, pdftext)
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p.wall_s for p in passes),
            # the median over operations of each one's median over passes
            "op_p50_s": statistics.median(statistics.median(v) for v in by_op.values()) if ops else 0.0,
            "cpu_s": statistics.median(p.cpu_s for p in passes),
        }
        units = END_TO_END
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print("summary " + json.dumps(summary), flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
