"""The benchmark's workloads: each drives ``pdf_extractor_spark.job.main``
in process, on the shipped ``get_spark`` session, and gates every committed
output against the generator oracle.

``heavy``       one fresh batch table per iteration:
                ``job.main --input <corpus> --output <fresh root>
                --n-parts 16 --parts-per-chunk 16 --num-partitions 16``
                over HEAVY_DOCS heavy-profile docs (one 6-14 page PDF each).
``incremental`` waves of WAVE_DOCS mixed-profile docs, each landed in a
                drop directory and carried through
                ``--watch --n-parts 16 --num-partitions 16``, then
                ``--signals``, ``--curate``, ``--neardup``, ``--pack`` and
                ``--materialize --pack-table`` on the growing tables.

See README.md for why each exists and which layer metric should move
which end-to-end metric.
"""

from __future__ import annotations

import contextlib
import io
import math
import os
import shutil
import statistics
import time
from pathlib import Path

from oracle import Gate, check_per_doc_table, compare, expected_rows, project_extracted

HEAVY_DOCS = 120
SMALL_DOCS = 16  # the local[1] leg's worker warm-up corpus
WAVE_DOCS = 48
BATCH_ARGS = ["--n-parts", "16", "--parts-per-chunk", "16", "--num-partitions", "16"]
WATCH_ARGS = ["--n-parts", "16", "--num-partitions", "16"]
GEN_REPEATS = 3  # corpus generations per run; setup_s takes their median
WARMUP_RUNS = 2  # heavy: full-size batch runs in set-up
MIN_ITERATIONS = 3  # heavy: timed batch runs, at least


def job_main(argv: list[str]) -> None:
    """One ``job.main`` call with its report lines silenced. Called through
    the module attribute so a tracer's wrapper is what runs."""
    from pdf_extractor_spark import job

    with contextlib.redirect_stdout(io.StringIO()):
        rc = job.main(argv)
    if rc != 0:
        raise RuntimeError(f"job.main {argv} returned {rc}")


def start_session(cores: int):
    from pdf_extractor_spark.spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def gen_corpus(n: int, seed: int, profile: str, out: Path) -> float:
    """Write one generated corpus as parquet under ``out``; returns the
    seconds it took (no cache: set-up pays generation on every run)."""
    from pdf_extractor_spark.corpus import corpus_parquet

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    corpus_parquet(n, seed, out_dir=str(out), profile=profile)
    return time.perf_counter() - t0


def gen_median(n: int, seed: int, profile: str, out: Path) -> float:
    """Generate the corpus GEN_REPEATS times into ``out`` and return the
    median time: the repeatable part of set-up."""
    return statistics.median(gen_corpus(n, seed, profile, out) for _ in range(GEN_REPEATS))


def read_table(spark, root: Path, schema=None):
    from pdf_extractor_spark.spark.lineage import CommitLog

    log = CommitLog(str(root))
    return log.read_extracted(spark) if schema is None else log.read_table(spark, schema)


def tail_stat(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label; with fewer than eleven samples there is none, and the maximum
    (p100) is reported instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return xs[-1], f"p100 of {n} (fewer than 11 samples)"
    k = n - 11  # index with exactly ten samples above it
    return xs[k], f"p{100 * (k + 1) / n:.1f} of {n}"


def table_files(root: Path) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Workload:
    """State shared by the two workloads: work dir, seed, core count, the
    correctness gate and the optional tracer."""

    def __init__(self, work: Path, seed: int, seconds: float, cores: int, tracer=None):
        self.work, self.seed, self.seconds, self.cores = work, seed, seconds, cores
        self.tracer = tracer
        self.gate = Gate()
        self.notes: dict = {}
        self.layers: dict = {}


# -- heavy ---------------------------------------------------------------------------

def run_heavy(w: Workload) -> dict:
    corpus = w.work / "corpus"
    t_gen = gen_median(HEAVY_DOCS, w.seed, "heavy", corpus)
    t0 = time.perf_counter()
    spark = start_session(w.cores)
    t_session = time.perf_counter() - t0
    expected = expected_rows(HEAVY_DOCS, w.seed, "heavy")

    def extract(name: str) -> float:
        t = time.perf_counter()
        job_main(["--input", str(corpus), "--output", str(w.work / name)] + BATCH_ARGS)
        return time.perf_counter() - t

    def check(spark, name: str) -> None:
        w.gate.merge(compare(expected, project_extracted(read_table(spark, w.work / name))))

    # two full-size warm-up runs: the first pays the cold start (Python
    # workers, codegen, JIT); the second takes most of the JIT drift that
    # would otherwise slope the timed runs
    t0 = time.perf_counter()
    for k in range(WARMUP_RUNS):
        extract(f"warmup-{k}")
    result = {"setup_s": t_gen + t_session + time.perf_counter() - t0,
              "gen_s": t_gen, "session_s": t_session}
    for k in range(WARMUP_RUNS):
        check(spark, f"warmup-{k}")

    if w.tracer is None:
        walls = []
        t_end = time.perf_counter() + w.seconds
        while len(walls) < MIN_ITERATIONS or time.perf_counter() < t_end:
            walls.append(extract(f"run-{len(walls)}"))
            check(spark, f"run-{len(walls) - 1}")
        wall = statistics.median(walls)
        tail, tail_label = tail_stat(walls)
        w.notes.update(iterations=len(walls), walls=[round(x, 3) for x in walls],
                       wave_latency_tail=tail_label)
        spark.stop()
        return {**result, "docs_per_s": HEAVY_DOCS / wall,
                "wave_latency_p50_s": wall, "wave_latency_tail_s": tail}

    result["untraced_s"] = extract("untraced")
    check(spark, "untraced")
    with w.tracer.installed(spark):
        t0 = time.time()
        result["traced_s"] = extract("traced")
        result["window"] = (t0, time.time())
    check(spark, "traced")
    kernel_layers(w, spark, corpus, read_table(spark, w.work / "traced"))
    files, nbytes = table_files(w.work / "traced")
    w.layers.update({
        "lineage.files_written": files,
        "lineage.bytes_written": nbytes,
        "lineage.chunks": len(committed(w.work / "traced")),
    })
    result["app_id"] = spark.sparkContext.applicationId

    # local[1] leg on identical input, in its own SparkContext (the JVM and
    # its JIT stay warm); a small run first spawns and warms its Python worker
    small = w.work / "small"
    gen_corpus(SMALL_DOCS, w.seed + 1, "heavy", small)
    spark.stop()
    spark = start_session(1)
    job_main(["--input", str(small), "--output", str(w.work / "one-warm")] + BATCH_ARGS)
    wall_1 = extract("one")
    check(spark, "one")
    w.gate.merge(compare(expected_rows(SMALL_DOCS, w.seed + 1, "heavy"),
                         project_extracted(read_table(spark, w.work / "one-warm"))))
    spark.stop()
    w.layers["scaling_eff"] = wall_1 / (w.cores * result["untraced_s"])
    w.notes.update(local1_wall_s=round(wall_1, 3))
    return result


def corpus_spans(corpus: Path) -> list[list[tuple]]:
    import pyarrow.parquet as pq

    rows = pq.read_table(str(corpus)).to_pylist()
    return [[(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
            for r in rows]


def committed(root: Path) -> list[dict]:
    from pdf_extractor_spark.spark.lineage import CommitLog

    return CommitLog(str(root)).committed_chunks()


# -- incremental ---------------------------------------------------------------------

def wave_seed(seed: int, k: int) -> int:
    return seed * 1000 + k


def run_incremental(w: Workload) -> dict:
    roots = {k: w.work / k for k in ("drop", "src", "sig", "cur", "nd", "pk", "mat")}
    roots["drop"].mkdir(parents=True)
    waves: list[dict] = []

    def gen_wave(k: int) -> float:
        return gen_corpus(WAVE_DOCS, wave_seed(w.seed, k), "mixed", w.work / f"wave-{k}")

    def land_and_chain(k: int) -> float:
        """Land wave ``k`` in the drop dir (atomic rename) and carry it
        through every stage; returns landing-to-materialize-commit seconds."""
        tmp = roots["drop"] / f".wave-{k}.tmp"
        shutil.copy(w.work / f"wave-{k}" / "part-0.parquet", tmp)
        t_land = time.perf_counter()
        os.rename(tmp, roots["drop"] / f"wave-{k}.parquet")
        src = str(roots["src"])
        steps = [["--input", str(roots["drop"]), "--output", src, "--watch"] + WATCH_ARGS]
        steps += [["--input", src, "--output", str(roots[r]), f"--{st}"]
                  for r, st in (("sig", "signals"), ("cur", "curate"), ("nd", "neardup"),
                                ("pk", "pack"))]
        steps += [["--input", src, "--output", str(roots["mat"]), "--materialize",
                   "--pack-table", str(roots["pk"])]]
        stage_s = []
        for argv in steps:
            t = time.perf_counter()
            job_main(argv)
            stage_s.append(round(time.perf_counter() - t, 3))
        w.notes.setdefault("stage_walls", []).append(stage_s)
        latency = time.perf_counter() - t_land
        waves.append({"k": k, "latency": latency})
        return latency

    t_gen = statistics.median(gen_wave(0) for _ in range(GEN_REPEATS))
    t0 = time.perf_counter()
    spark = start_session(w.cores)
    t_session = time.perf_counter() - t0
    result: dict = {"setup_s": t_gen + t_session, "gen_s": t_gen, "session_s": t_session}
    # no warm-up wave: wave 0 meets every stage cold, as a freshly started
    # driver does; waves landed later in a longer run are warm
    if w.tracer is None:
        t_end = time.perf_counter() + w.seconds
        land_and_chain(0)
        while time.perf_counter() < t_end:
            gen_wave(len(waves))
            land_and_chain(len(waves))
        timed = [x["latency"] for x in waves]
        tail, tail_label = tail_stat(timed)
        w.notes.update(waves=len(timed), latencies=[round(x, 3) for x in timed],
                       wave_latency_tail=tail_label)
        result.update(
            docs_per_s=WAVE_DOCS * len(timed) / sum(timed),
            wave_latency_p50_s=statistics.median(timed),
            wave_latency_tail_s=tail,
        )
    else:
        with w.tracer.installed(spark):
            t0 = time.time()
            result["traced_s"] = land_and_chain(0)
            result["window"] = (t0, time.time())

    gate_incremental(w, spark, roots, len(waves))
    if w.tracer is not None:
        incremental_layers(w, spark, roots, traced_wave=0)
        result["app_id"] = spark.sparkContext.applicationId
    spark.stop()
    return result


def gate_incremental(w: Workload, spark, roots: dict, n_waves: int) -> None:
    """Oracle-check the extraction table over every wave, one row per doc in
    each per-doc derived table, and the materialized contexts per epoch."""
    from pdf_extractor_spark.ops.training import CTX_TOKENS
    from pdf_extractor_spark.spark.curate import CURATED_SCHEMA
    from pdf_extractor_spark.spark.materialize import MATERIALIZED_SCHEMA
    from pdf_extractor_spark.spark.neardup import NEARDUP_SCHEMA
    from pdf_extractor_spark.spark.pack import PACKED_SCHEMA
    from pdf_extractor_spark.spark.signals import SIGNALS_SCHEMA

    expected = [r for k in range(n_waves)
                for r in expected_rows(WAVE_DOCS, wave_seed(w.seed, k), "mixed")]
    gate = compare(expected, project_extracted(read_table(spark, roots["src"])))
    ids = {r["doc_id"] for r in expected}
    for key, schema in (("sig", SIGNALS_SCHEMA), ("cur", CURATED_SCHEMA),
                        ("nd", NEARDUP_SCHEMA)):
        check_per_doc_table(read_table(spark, roots[key], schema), ids, gate, key)
    # pack places exactly the docs with text tokens: none for the oracle's
    # docs without a text span, and each doc's signals token count
    tokens = {r["doc_id"]: r["n_tokens"] for r in read_table(
        spark, roots["sig"], SIGNALS_SCHEMA).select("doc_id", "n_tokens").collect()}
    for r in expected:
        if "text" not in r["kinds"].split(",") and tokens.get(r["doc_id"]):
            gate.flag(r["doc_id"], "sig:tokens")
    check_per_doc_table(read_table(spark, roots["pk"], PACKED_SCHEMA),
                        {d for d in ids if tokens.get(d)}, gate, "pk")
    packed = read_table(spark, roots["pk"], PACKED_SCHEMA).select(
        "doc_id", "pack_epoch", "n_tokens").collect()
    for r in packed:
        if r["n_tokens"] != tokens.get(r["doc_id"]):
            gate.flag(r["doc_id"], "pk:tokens")
    mat = read_table(spark, roots["mat"], MATERIALIZED_SCHEMA).select(
        "pack_epoch", "ctx", "n_tokens").collect()
    epochs = {r["pack_epoch"] for r in packed}
    if len(epochs) != n_waves:
        for d in ids:
            gate.flag(d, "pack:epochs")
    for e in epochs:
        tokens = sum(r["n_tokens"] for r in packed if r["pack_epoch"] == e)
        ctxs = sorted((r["ctx"], r["n_tokens"]) for r in mat if r["pack_epoch"] == e)
        if ([c for c, _ in ctxs] != list(range(math.ceil(tokens / CTX_TOKENS)))
                or sum(n for _, n in ctxs) != tokens):
            for r in packed:
                if r["pack_epoch"] == e:
                    gate.flag(r["doc_id"], "materialize:contexts")
    w.gate.merge(gate)


def incremental_layers(w: Workload, spark, roots: dict, traced_wave: int) -> None:
    from pyspark.sql import functions as F

    wave = w.work / f"wave-{traced_wave}"
    ids = [r["doc_id"] for r in spark.read.parquet(str(wave)).select("doc_id").collect()]
    kernel_layers(w, spark, wave,
                  read_table(spark, roots["src"]).where(F.col("doc_id").isin(ids)))
    files, nbytes = table_files(roots["src"])
    w.layers.update({
        "lineage.chunks": len(committed(roots["src"])),
        "lineage.files_written": files,
        "lineage.bytes_written": nbytes,
    })


def kernel_layers(w: Workload, spark, corpus: Path, table) -> None:
    """Kernel totals of the traced docs in ``table``, the parse-stage
    partition skew, and the serial kernel breakdown over ``corpus``.

    Skew is attributed outside-in: each doc's parse-stage partition is
    recomputed with the public scatter (``assign_part_id`` +
    ``balance_partitions`` at the job's 16 parts / 16 partitions, then
    ``spark_partition_id()``) and joined to the committed ``duration_ms``.
    """
    from pyspark.sql import functions as F

    from pdf_extractor_spark.spark.pipeline import assign_part_id, balance_partitions

    from tracing import kernel_breakdown

    sums = table.agg(F.sum("duration_ms"), F.sum("pages_parsed"),
                     F.sum("parse_failures")).collect()[0]
    docs = spark.read.parquet(str(corpus)).select("doc_id", "spans")
    pids = balance_partitions(assign_part_id(docs, 16), 16).select(
        "doc_id", F.spark_partition_id().alias("pid"))
    per_part = {r["pid"]: r["ms"] for r in pids.join(
        table.select("doc_id", "duration_ms"), "doc_id"
    ).groupBy("pid").agg(F.sum("duration_ms").alias("ms")).collect()}
    loads = [per_part.get(p, 0) for p in range(16)]
    w.layers.update({
        "kernel.core_s": sums[0] / 1000.0,
        "kernel.pages": sums[1],
        "kernel.parse_failures": sums[2],
        "pipeline.part_kernel_max_over_mean": max(loads) / statistics.mean(loads),
    })
    w.layers.update(kernel_breakdown(corpus_spans(corpus)))
