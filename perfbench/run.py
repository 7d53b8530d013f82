"""Product benchmark of pdf-extractor-spark: ``job.main`` end to end.

    python3 perfbench/run.py --workload heavy|incremental --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics from a separate traced run. Lines before it that start with ``#``
carry run details (iteration walls, which percentile the tail is).

Everything the run writes goes under ``.perfbench-work/`` in the repository
root: the generated corpus, the committed tables, Spark's local and temp
dirs, and the Spark conf dir the benchmark owns (``SPARK_CONF_DIR``), which
turns the event log on for traced runs only. All of it is removed at exit
except the spans of a traced run, kept as JSON lines in
``.perfbench-work/spans/<workload>-<seed>-<pid>.jsonl``.
See README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

UNITS = {"setup_s": "s", "docs_per_s": "1/s", "wave_latency_p50_s": "s",
         "wave_latency_tail_s": "s", "doc_ok_ratio": "ratio"}
STAGES = ("signals", "curate", "neardup", "pack", "materialize")
PER_LAYER_UNITS = {
    "scaling_eff": "ratio", "peak_rss_mb": "MB",
    "corpus.gen_s": "s", "session.start_s": "s", "job.self_s": "s",
    "kernel.core_s": "s", "kernel.occupancy": "ratio", "kernel.serial_docs_per_s": "1/s",
    "kernel.parse_pdf_s": "s", "kernel.page_to_spans_s": "s",
    "kernel.extract_main_text_s": "s", "kernel.clean_text_s": "s",
    "kernel.pages": "count", "kernel.parse_failures": "count",
    "pipeline.tasks": "count", "pipeline.part_kernel_max_over_mean": "ratio",
    "pipeline.tail_idle_core_s": "s", "pipeline.non_kernel_task_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "lineage.chunks": "count", "lineage.data_write_s": "s", "lineage.rollup_s": "s",
    "lineage.readback_s": "s", "lineage.commit_s": "s",
    "lineage.files_written": "count", "lineage.bytes_written": "bytes",
    "ingest.microbatches": "count", "ingest.stream_s": "s",
    **{f"{st}.{m}": u for st in STAGES for m, u in (
        ("s", "s"), ("spark_jobs", "count"), ("rows_out", "count"),
        ("shuffle_bytes", "bytes"))},
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.fetch_wait_s": "s",
    "spark.failed_tasks": "count",
    "trace.wall_s": "s", "trace.unattributed_share": "ratio",
}


def prepare_env(work: Path, traced: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python at ``work``
    and give Spark a conf dir of the benchmark's own (event log on only for
    the traced run). Must run before the JVM starts."""
    for d in ("tmp", "local", "conf", "events", "warehouse"):
        (work / d).mkdir(parents=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    conf = [
        f"spark.driver.extraJavaOptions {jvm_opts}",
        f"spark.sql.warehouse.dir {work / 'warehouse'}",
        "spark.ui.showConsoleProgress false",
    ]
    if traced:
        conf += ["spark.eventLog.enabled true", "spark.eventLog.compress false",
                 f"spark.eventLog.dir file://{work / 'events'}"]
    (work / "conf" / "spark-defaults.conf").write_text("\n".join(conf) + "\n")
    os.environ.update(
        SPARK_CONF_DIR=str(work / "conf"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_LAUNCHER_OPTS=jvm_opts,  # the launcher JVM that spark-submit starts first
        TMPDIR=str(work / "tmp"),
        # Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    # measure the shipped session defaults, whatever the caller's shell sets
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_SPLIT_BYTES",
                "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_STATE_STORE"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None


def stop_jvm(timeout: float = 60.0) -> None:
    """End the Spark driver JVM this process launched and wait until it and
    every process under it (the Python worker daemon) have exited."""
    from pyspark import SparkContext

    from procmem import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF of its stdin
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def per_layer(w, res: dict, tracer, cores: int) -> dict:
    from tracing import (
        ancestors, parse_stages, read_event_log, span_layers, task_totals, tasks_of_jobs,
    )

    spans = tracer.spans
    m = {k: 0 for k in PER_LAYER_UNITS}
    m.update(span_layers(spans))
    m.update(w.layers)
    log = read_event_log(next(p for p in (w.work / "events").iterdir()
                              if res["app_id"] in p.name))
    calls = tracer.job_calls
    all_jobs = [j for c in calls for j in c["jobs"]]
    m.update(task_totals(tasks_of_jobs(log, all_jobs)))
    m["spark.jobs"] = len(all_jobs)

    extract_jobs = [j for c in calls if c["mode"] in ("batch", "watch") for j in c["jobs"]]
    ps = parse_stages(log, extract_jobs)
    ptasks = [t for t in log["tasks"] if t["stage"] in ps]
    task_s = sum(t["finish"] - t["launch"] for t in ptasks)
    stage_wall = sum(log["stages"][s]["completed"] - log["stages"][s]["submitted"] for s in ps)
    m["pipeline.tasks"] = len(ptasks)
    m["pipeline.tail_idle_core_s"] = stage_wall * cores - task_s
    m["pipeline.non_kernel_task_s"] = task_s - m["kernel.core_s"]
    writes = [s for s in spans if s["name"] == "write.parquet"
              and s["attrs"].get("kind") == "data"]
    m["pipeline.shuffle_write_bytes"] = sum(
        t["shuffle_write"] for t in tasks_of_jobs(log, extract_jobs)
        if any(s["start"] <= t["launch"] <= s["end"] for s in writes)
    )
    chain = ancestors(spans)
    m["ingest.microbatches"] = sum(
        1 for s in spans if s["name"] == "lineage.commit_chunk"
        and any(a["name"] == "ingest.await" for a in chain(s)))
    for st in STAGES:
        for c in calls:
            if c["mode"] == st:
                m[f"{st}.spark_jobs"] = len(c["jobs"])
                m[f"{st}.shuffle_bytes"] = sum(
                    t["shuffle_write"] for t in tasks_of_jobs(log, c["jobs"]))
        for s in spans:
            if s["name"] == f"{st}.run":
                m[f"{st}.rows_out"] = s["attrs"].get("rows_out", 0)

    t0, t1 = res["window"]
    wall = t1 - t0
    m["kernel.occupancy"] = m["kernel.core_s"] / (res["traced_s"] * cores)
    m["corpus.gen_s"] = res["gen_s"]
    m["session.start_s"] = res["session_s"]
    m["trace.wall_s"] = res["traced_s"]
    m["trace.unattributed_share"] = (
        wall - m.pop("job.main_s", 0.0) + m.pop("unattributed_s", 0.0)) / wall
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["heavy", "incremental"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()
    if not (ROOT / "pdf_extractor_spark" / "job.py").is_file():
        print(f"perfbench: no pdf_extractor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = ROOT / ".perfbench-work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, bool(args.trace))
    try:
        import oracle
        import workloads
        from procmem import PeakMemory
        from tracing import Tracer

        cores = len(os.sched_getaffinity(0))
        tracer = Tracer(run_id) if args.trace else None
        w = workloads.Workload(work, args.seed, args.seconds, cores, tracer)
        selftest = oracle.self_test()
        run = workloads.run_heavy if args.workload == "heavy" else workloads.run_incremental
        if args.trace:
            with PeakMemory() as mem:
                res = run(w)
            metrics = per_layer(w, res, tracer, cores)
            metrics["peak_rss_mb"] = mem.peak_mb
            w.notes["peak_mb_by_process"] = [round(k / 1024) for k in mem.peak_parts]
            units = PER_LAYER_UNITS
            spans = ROOT / ".perfbench-work" / "spans"
            spans.mkdir(exist_ok=True)
            tracer.dump(str(spans / f"{run_id}.jsonl"))
        else:
            res = run(w)
            metrics = {**res, "doc_ok_ratio": 1 - w.gate.failed / w.gate.attempted}
            units = UNITS
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print("# " + json.dumps({"workload": args.workload, "seed": args.seed, "cores": cores,
                             "run_s": round(time.perf_counter() - t_start, 3),
                             "gen_s": round(res["gen_s"], 3),
                             "session_s": round(res["session_s"], 3),
                             **w.notes, "failures": dict(w.gate.kinds),
                             "selftest_failures": selftest}))
    print(json.dumps({
        "correct": w.gate.failed == 0 and not selftest,
        "attempted": w.gate.attempted,
        "failed": w.gate.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
