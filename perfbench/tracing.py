"""Tracing for the per-layer run: spans recorded from the benchmark's side.

Nothing in the program is edited. ``Tracer.installed()`` wraps the public
functions at each layer boundary at runtime and restores them on exit:

    job.main                       -> job.main           (one Spark job group each)
    lineage.run_extraction         -> lineage.run_extraction
    streaming.ingest.start_extraction_stream, StreamingQuery.awaitTermination
                                   -> ingest.start_stream, ingest.await
    spark.<stage>.run_<stage>_job  -> <stage>.run        (signals, curate, ...)
    CommitLog.commit_chunk         -> lineage.commit_chunk
    DataFrameWriter.parquet        -> write.parquet      (path kind: data/lineage)
    DataFrame.collect / .show      -> df.collect / df.show

A span is ``{id, run, name, start, end, parent, attrs}`` with epoch-second
times, kept in memory and written out by ``dump``. Spans opened on a thread
with no open span of its own (the streaming ``foreachBatch`` callbacks run on
a py4j callback thread) take the innermost open span of the thread that
entered ``job.main`` as their parent.

Task metrics come from the Spark event log, which the benchmark enables for
the traced run only (see ``run.py``); jobs are tied to a ``job.main`` call by
the job group the wrapper sets (``SparkContext.setJobGroup``) and counted with
``statusTracker``. A ``--watch`` stream runs its micro-batches under the
query's own job group (its run id), which the ``ingest.start_stream`` wrapper
records for that call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.job_calls: list[dict] = []  # one per job.main: span id, groups, jobs
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main_stack: list[dict] | None = None
        self._current_call: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        parent = st[-1] if st else (
            self._main_stack[-1] if self._main_stack else None
        )
        sp = {
            "id": next(self._ids), "run": self.run_id, "name": name,
            "start": time.time(), "end": None,
            "parent": parent["id"] if parent else None, "attrs": attrs,
        }
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, attrs_of=None, on_result=None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            with tracer.span(name, **attrs) as sp:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, out)
                return out

        wrapper.__wrapped__ = orig
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    # -- installation ----------------------------------------------------------
    @contextlib.contextmanager
    def installed(self, spark):
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.streaming import StreamingQuery

        from pdf_extractor_spark import job
        from pdf_extractor_spark.spark import (
            curate, lineage, materialize, neardup, pack, signals,
        )
        from pdf_extractor_spark.streaming import ingest

        sc = spark.sparkContext
        calls = itertools.count()
        orig_main = job.main
        tracer = self

        def traced_main(argv=None):
            mode = next((a[2:] for a in argv or () if a in (
                "--watch", "--signals", "--curate", "--neardup", "--pack",
                "--materialize")), "batch")
            group = f"{tracer.run_id}-{next(calls)}"
            call = {"mode": mode, "groups": [group]}
            sc.setJobGroup(group, f"job.main {mode}")
            with tracer.span("job.main", mode=mode) as sp:
                call["span"] = sp["id"]
                tracer._main_stack = tracer._stack()
                tracer._current_call = call
                try:
                    return orig_main(argv)
                finally:
                    tracer._main_stack = None
                    call["jobs"] = sorted(
                        j for g in call["groups"]
                        for j in sc.statusTracker().getJobIdsForGroup(g)
                    )
                    tracer.job_calls.append(call)

        self._patches.append((job, "main", orig_main))
        job.main = traced_main

        def stream_started(sp, query):
            tracer._current_call["groups"].append(str(query.runId))

        def report_rows(sp, out):
            sp["attrs"]["rows_out"] = out[0].docs_processed

        def parquet_kind(writer, path, *a, **k):
            return {"kind": "lineage" if "/lineage/" in path else
                    "data" if "/data/" in path else "other"}

        self.wrap(lineage, "run_extraction", "lineage.run_extraction")
        self.wrap(ingest, "start_extraction_stream", "ingest.start_stream",
                  on_result=stream_started)
        self.wrap(StreamingQuery, "awaitTermination", "ingest.await")
        for mod, fn in ((signals, "run_signals_job"), (curate, "run_curate_job"),
                        (neardup, "run_neardup_job"), (pack, "run_pack_job"),
                        (materialize, "run_materialize_job")):
            self.wrap(mod, fn, f"{fn[4:-4]}.run", on_result=report_rows)
        self.wrap(lineage.CommitLog, "commit_chunk", "lineage.commit_chunk")
        self.wrap(DataFrameWriter, "parquet", "write.parquet", attrs_of=parquet_kind)
        self.wrap(DataFrame, "collect", "df.collect")
        self.wrap(DataFrame, "show", "df.show")
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(self._patches):
                setattr(owner, attr, orig)
            self._patches.clear()
            sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(sp) + "\n")


# -- span arithmetic -------------------------------------------------------------

def durations(spans: list[dict]) -> dict[int, float]:
    return {s["id"]: s["end"] - s["start"] for s in spans}


def ancestors(spans: list[dict]):
    by_id = {s["id"]: s for s in spans}

    def chain(sp):
        p = sp["parent"]
        while p is not None and p in by_id:
            yield by_id[p]
            p = by_id[p]["parent"]

    return chain


def span_layers(spans: list[dict]) -> dict[str, float]:
    """Seconds per layer metric from the spans of one traced section, plus
    ``job.main_s`` (Σ job.main) and ``unattributed_s`` (time inside job.main
    that no layer metric covers)."""
    dur = durations(spans)
    chain = ancestors(spans)
    out: dict[str, float] = defaultdict(float)
    # job.main's self time: its wall minus the run/stage call it makes (the
    # CLI checks and the trailing lineage status show() stay in it)
    child_sum: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and (
            s["name"] in ("lineage.run_extraction", "ingest.start_stream", "ingest.await")
            or s["name"].endswith(".run")
        ):
            child_sum[s["parent"]] += dur[s["id"]]
    for s in spans:
        name, d = s["name"], dur[s["id"]]
        up = [a["name"] for a in chain(s)]
        in_commit_path = any(
            n in ("lineage.run_extraction", "ingest.await") for n in up
        )
        if "lineage.run_extraction" in up and name in (
            "write.parquet", "df.collect", "lineage.commit_chunk"
        ):
            out["unattributed_s"] -= d
        if name == "job.main":
            out["job.self_s"] += d - child_sum[s["id"]]
            out["job.main_s"] += d
        elif name == "lineage.run_extraction":
            # the batch driver's own time outside its write/read-back/commit
            # calls (resume filter, chunk-id reservation) has no layer metric
            out["unattributed_s"] += d
        elif name in ("ingest.start_stream", "ingest.await"):
            out["ingest.stream_s"] += d
        elif name.endswith(".run"):
            out[name[:-4] + ".s"] += d
        elif not in_commit_path:
            continue
        elif name == "write.parquet" and s["attrs"].get("kind") == "data":
            out["lineage.data_write_s"] += d
        elif name == "write.parquet" and s["attrs"].get("kind") == "lineage":
            out["lineage.rollup_s"] += d
        elif name == "df.collect":
            out["lineage.readback_s"] += d
        elif name == "lineage.commit_chunk":
            out["lineage.commit_s"] += d
    return dict(out)


# -- Spark event log ---------------------------------------------------------------

def _event_lines(path: Path):
    """Lines of one event log: a plain file, or a rolling log directory of
    ``events_<n>_<app>`` files read in index order."""
    files = [path] if path.is_file() else sorted(
        (p for p in path.iterdir() if p.name.startswith("events_")),
        key=lambda p: int(p.name.split("_")[1]),
    )
    for fp in files:
        with open(fp) as f:
            yield from f


def read_event_log(path: Path) -> dict:
    """Jobs (group, stages), stages (name, scopes, times) and finished tasks
    from one Spark event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            scopes = " ".join(
                str(r.get("Scope", "")) + " " + str(r.get("Name", ""))
                for r in info.get("RDD Info", [])
            )
            stages[info["Stage ID"]] = {
                "name": info.get("Stage Name", ""),
                "scopes": scopes,
                "submitted": info.get("Submission Time", 0) / 1000.0,
                "completed": info.get("Completion Time", 0) / 1000.0,
            }
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"],
                "launch": ti["Launch Time"] / 1000.0,
                "finish": ti["Finish Time"] / 1000.0,
                "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "failed": bool(ti.get("Failed"))
                or (ev.get("Task End Reason") or {}).get("Reason") != "Success",
            })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def task_totals(tasks: list[dict]) -> dict[str, float]:
    return {
        "spark.tasks": len(tasks),
        "spark.task_run_s": sum(t["run_s"] for t in tasks),
        "spark.task_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
        "spark.failed_tasks": sum(t["failed"] for t in tasks),
    }


def tasks_of_jobs(log: dict, job_ids) -> list[dict]:
    stage_ids = {s for j in job_ids for s in log["jobs"].get(j, {}).get("stages", [])}
    return [t for t in log["tasks"] if t["stage"] in stage_ids]


def parse_stages(log: dict, job_ids) -> list[int]:
    """The parse-stage ids among these jobs: the stages that ran the
    ``mapInArrow`` kernel."""
    stage_ids = {s for j in job_ids for s in log["jobs"].get(j, {}).get("stages", [])}
    return sorted(
        s for s in stage_ids
        if s in log["stages"] and "MapInArrow" in log["stages"][s]["scopes"]
    )


# -- serial kernel attribution -------------------------------------------------------

def kernel_breakdown(docs: list[list[tuple]]) -> dict[str, float]:
    """One serial in-process pass over ``docs`` (lists of input span tuples)
    with the kernel's public functions untouched, for the serial rate, and a
    second with them wrapped, for the time inside each. Times are inclusive:
    ``page_to_spans`` contains the ``clean_text`` calls it makes."""
    from pdf_extractor_spark.core import extractor, pdf_parse

    t0 = time.perf_counter()
    for spans in docs:
        extractor.extract_document(spans)
    serial_s = time.perf_counter() - t0

    acc: dict[str, float] = defaultdict(float)

    def timed(fn, key):
        def wrapper(*a, **k):
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                acc[key] += time.perf_counter() - t
        return wrapper

    targets = [
        (pdf_parse, "parse_pdf", "parse_pdf"),
        (pdf_parse, "page_to_spans", "page_to_spans"),
        (pdf_parse, "clean_text", "clean_text"),
        (extractor, "clean_text", "clean_text"),
        (extractor, "extract_main_text", "extract_main_text"),
    ]
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, key in targets:
            setattr(m, a, timed(getattr(m, a), key))
        for spans in docs:
            extractor.extract_document(spans)
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)
    out = {f"kernel.{k}_s": acc[k] for _, _, k in targets}
    out["kernel.serial_docs_per_s"] = len(docs) / serial_s
    return out
