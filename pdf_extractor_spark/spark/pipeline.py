"""The extraction pipeline: DataFrame orchestration around the Arrow kernel.

Replaces the reference's sequential driver loop (``dashboard.py:588`` — one
file at a time, no file-level parallelism) with a declarative plan:

    documents --(size-annotated per-doc hash scatter)--> mapInArrow(extract)
              --> extracted spans + per-doc metrics --> committed parquet +
              lineage rows (see lineage.py)

All per-document logic lives in ``core/`` (pure Python) and runs inside
vectorized Arrow batches — never per-row Python UDFs (BASELINE.json:input_hint).

Scale notes (100 TB / 1000 executors):
- ``part_id`` is a *logical* processing-partition id, a pure function of
  doc_id — stable across cluster sizes and reruns, so resume anti-joins are
  meaningful regardless of physical partitioning.
- Physical balance is separate: a uniform per-document hash scatter spreads
  the ~1% giant-PDF tail across executors instead of serializing one
  straggler task (SURVEY.md §4 item 1; see ``balance_partitions`` for why
  the earlier size-salted RANGE repartition was measurably wrong on true
  byte skew). There is no join here, so AQE skew-join can't help.
- The extraction stage has NO shuffle other than the single explicit
  repartition; parquet scan prunes to (doc_id, spans, part-key columns) only.
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT)),
        StructField("pages_parsed", IntegerType()),
        StructField("spans_emitted", IntegerType()),
        StructField("parse_failures", IntegerType()),
        StructField("duration_ms", LongType()),
        # per-doc quality scores (Docling confidence analogue,
        # docling_processor.py:135-144) — SURVEY.md §1.4's MAP column
        StructField("scores", MapType(StringType(), DoubleType())),
        StructField("part_id", IntegerType()),
    ]
)

# byte-size bucket edges: normal / large / giant (log-ish spacing)
_BUCKET_EDGES = [16_384, 131_072]
GIANT_BUCKET = len(_BUCKET_EDGES)


def assign_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    """Stable logical partition id: pmod(xxhash64(doc_id), n_parts).

    The resume/commit unit (analogue of the reference's one-result-JSON-per-
    file checkpoint granularity, helper.py:51-70, coarsened to partition
    granularity for 10^12-doc scale)."""
    return df.withColumn("part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int"))


def with_size_salt(
    df: DataFrame,
    salts_per_bucket: tuple[int, ...] = (1, 4, 16),
    payload_field: str = "text",
) -> DataFrame:
    """Add n_bytes / size_bucket / salt columns for skew-aware repartitioning.

    Giant docs get more salts so they scatter; tiny docs share partitions.
    ``aggregate`` over the span array is JVM-side (no Python), so sizing is
    free relative to the parse stage. ``payload_field`` names the span's
    payload member (``text`` on the ingest contract, ``payload`` binary on
    the internal staging table — ``octet_length`` covers both types).
    """
    n_bytes = F.aggregate(
        "spans",
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.coalesce(F.octet_length(s[payload_field]), F.lit(0))
        + F.coalesce(F.octet_length(s["media_ref"]), F.lit(0)),
    )
    df = df.withColumn("n_bytes", n_bytes)
    bucket = F.lit(0)
    for i, edge in enumerate(_BUCKET_EDGES):
        bucket = F.when(F.col("n_bytes") >= edge, i + 1).otherwise(bucket)
    df = df.withColumn("size_bucket", bucket.cast("int"))
    salt_counts = F.array(*[F.lit(s) for s in salts_per_bucket])
    df = df.withColumn(
        "salt",
        F.pmod(
            F.xxhash64("doc_id", F.lit(7)),
            F.element_at(salt_counts, F.col("size_bucket") + 1),
        ).cast("int"),
    )
    return df


def balance_partitions(
    df: DataFrame, num_partitions: int, payload_field: str = "text"
) -> DataFrame:
    """Skew-aware physical repartition before the parse stage: uniform
    per-document hash scatter, ``repartition(n, doc_id)``.

    Through round 3 this was ``repartitionByRange(n, size_bucket, salt,
    doc_id)`` — and the round-4 adversarial A/B (tools/bench_skew.py, the
    ``skewed`` corpus profile: 1% contiguous 500-1000-page giants carrying
    ~90% of the parse bytes) proved that shape actively HARMFUL: range
    boundaries come from row-count-proportional sampling, so a 1%-of-rows
    giant class occupies <1 partition's worth of key space and the sampler
    funnels every giant into the SAME partition regardless of salt
    (measured: balanced 15.6 s vs raw-scan 10.1 s at local[8]; max
    per-partition parse time 13.5 s — worse than no repartition at all).

    For a map-only parse stage the doc-granularity optimum is uniform
    per-doc scatter: expected max-giants-per-partition is the balls-in-bins
    maximum (~3 when giants ≈ partitions), so the straggler is a small
    constant multiple of one giant's cost, while any row-weighted scheme
    (range sampling, round-robin over input order) concentrates clustered
    giants. Salting-by-key remains the right tool for skewed JOIN/AGG keys
    (see ops/dedup.py, ops/training.py) — but here there is no key, and
    hash(doc_id) IS the salt. ``with_size_salt`` still annotates sizes: the
    bucket columns feed the balance diagnostics and the structural tests
    (no partition > 35% of bytes), and cost nothing next to the parse.
    """
    df = with_size_salt(df, payload_field=payload_field)
    return df.repartition(num_partitions, F.col("doc_id"))


_worker_prepared = False


def prepare_worker() -> None:
    """Make ``importlib.invalidate_caches()`` cheap in this Python worker.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task (``worker_util.setup_spark_files``). On Python < 3.13
    ``zipimporter.invalidate_caches`` is eager: it re-reads the archive's
    whole central directory at once, and a reused worker holds one
    zipimporter per package directory it imported from ``pyspark.zip``
    (~1,670 entries each) plus the shipped package zip. That re-parse
    costs more per task than the extraction kernel on a typical partition.

    After this call a zipimporter re-reads its archive only when the
    archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the stat it
    took just before its last re-read. A rewritten archive (``addPyFile``,
    ``--py-files``) is still re-read, and a failed ``stat`` re-reads as
    before — the same stat rule ``FileFinder`` applies to directories.
    Python >= 3.13 re-reads lazily already, so nothing is patched there.

    Idempotent, and the patch lives as long as the worker process, so every
    later task in a reused worker benefits. The extraction kernel factory
    is the one place that calls it; see CLAUDE.md.
    """
    global _worker_prepared
    if _worker_prepared:
        return
    _worker_prepared = True
    if sys.version_info >= (3, 13):
        return
    orig = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_stat_key", None):
            orig(self)
            # stat'ed before the read, so a write racing it re-reads next time
            self._stat_key = key

    invalidate_caches.__wrapped__ = orig
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _make_extract_batches_arrow(
    kernel_name: str, passwords: tuple[bytes, ...] = ()
):
    """Columnar Arrow kernel wrapper factory (mapInArrow).

    A "_password" input column (see ``extract_documents`` password_col)
    supplies PER-DOCUMENT candidates tried before the global list — the
    manifest workflow that avoids paying every candidate's V5 key
    derivation on every locked doc.

    One builder serves both input encodings — ``kernel_name`` selects the
    per-document kernel: ``"extract_document"`` (ingest spans, string
    payload) or ``"extract_document_staged"`` (staging-table spans, binary
    payload; see spark/staging.py). The entire input/output plumbing is
    shared so a schema or metrics change can never silently diverge
    between the two paths (the byte-identical differential contract in
    tests/test_staging.py).

    Never materializes a Python dict per span: input spans are read as four
    flat primitive lists via ``ListArray.flatten()`` + field extraction, and
    output spans are rebuilt columnar with ``StructArray.from_arrays`` +
    ``ListArray.from_arrays``. Only the per-document kernel call remains
    row-wise — that's the extraction itself. Wall-clock parity with the
    pandas path on this box (both ~900 docs/s at local[8] on the heavy
    corpus; the parse kernel dominates), but allocates no per-span dicts and
    no pandas frames, which matters for worker memory at 50-page-PDF batch
    sizes. Both paths produce byte-identical output (differentially tested).
    """

    def _gen(batches):
        prepare_worker()
        import pyarrow as pa

        from pdf_extractor_spark.core import extractor

        kernel = getattr(extractor, kernel_name)

        def extract_fn(spans, doc_pw=None):
            cands = (
                passwords
                if doc_pw is None
                else (doc_pw.encode("utf-8"), *passwords)
            )
            if cands:
                return kernel(spans, passwords=cands)
            return kernel(spans)

        span_type = pa.struct(
            [
                ("kind", pa.string()),
                ("text", pa.string()),
                ("media_ref", pa.string()),
                ("offset", pa.int32()),
            ]
        )

        yield from _extract_record_batches(pa, extract_fn, span_type, batches)

    return _gen


def _extract_record_batches(pa, extract_fn, span_type, batches):
    for rb in batches:
        names = rb.schema.names
        doc_ids = rb.column(names.index("doc_id")).to_pylist()
        spans_col = rb.column(names.index("spans"))
        has_part = "part_id" in names
        parts = rb.column(names.index("part_id")).to_pylist() if has_part else None
        pw_col = (
            rb.column(names.index("_password")).to_pylist()
            if "_password" in names
            else None
        )
        n = len(doc_ids)

        lengths = spans_col.value_lengths().to_pylist()
        flat = spans_col.flatten()
        in_kind = flat.field(0).to_pylist()
        in_text = flat.field(1).to_pylist()
        in_ref = flat.field(2).to_pylist()
        in_off = flat.field(3).to_pylist()

        out_kind: list[str] = []
        out_text: list[str] = []
        out_ref: list[str] = []
        out_off: list[int] = []
        list_offsets = [0]
        pages_l: list[int] = []
        emitted_l: list[int] = []
        failures_l: list[int] = []
        duration_l: list[int] = []
        score_keys: list[str] = []
        score_vals: list[float] = []
        score_offsets = [0]

        pos = 0
        for i in range(n):
            ln = lengths[i] or 0
            spans = list(
                zip(
                    in_kind[pos : pos + ln],
                    in_text[pos : pos + ln],
                    in_ref[pos : pos + ln],
                    in_off[pos : pos + ln],
                )
            )
            pos += ln
            res = extract_fn(spans, pw_col[i] if pw_col is not None else None)
            for k, t, m, o in res.spans:
                out_kind.append(k)
                out_text.append(t)
                out_ref.append(m)
                out_off.append(o)
            list_offsets.append(len(out_kind))
            pages_l.append(res.pages_parsed)
            emitted_l.append(res.spans_emitted)
            failures_l.append(res.parse_failures)
            duration_l.append(res.duration_ms)
            for k, v in res.scores.items():
                score_keys.append(k)
                score_vals.append(v)
            score_offsets.append(len(score_keys))

        struct = pa.StructArray.from_arrays(
            [
                pa.array(out_kind, pa.string()),
                pa.array(out_text, pa.string()),
                pa.array(out_ref, pa.string()),
                pa.array(out_off, pa.int32()),
            ],
            fields=list(span_type),
        )
        spans_out = pa.ListArray.from_arrays(pa.array(list_offsets, pa.int32()), struct)
        scores_out = pa.MapArray.from_arrays(
            pa.array(score_offsets, pa.int32()),
            pa.array(score_keys, pa.string()),
            pa.array(score_vals, pa.float64()),
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids, pa.string()),
                spans_out,
                pa.array(pages_l, pa.int32()),
                pa.array(emitted_l, pa.int32()),
                pa.array(failures_l, pa.int32()),
                pa.array(duration_l, pa.int64()),
                scores_out,
                pa.array(parts if has_part else [-1] * n, pa.int32()),
            ],
            names=[
                "doc_id",
                "spans",
                "pages_parsed",
                "spans_emitted",
                "parse_failures",
                "duration_ms",
                "scores",
                "part_id",
            ],
        )


_extract_batches_arrow = _make_extract_batches_arrow("extract_document")


def _extract_batches(
    batches: Iterator[pd.DataFrame], passwords: tuple[bytes, ...] = ()
) -> Iterator[pd.DataFrame]:
    prepare_worker()
    # imported inside the worker so the Python workers only need core/
    from pdf_extractor_spark.core.extractor import extract_document

    for pdf_batch in batches:
        out: dict[str, list] = {
            "doc_id": [],
            "spans": [],
            "pages_parsed": [],
            "spans_emitted": [],
            "parse_failures": [],
            "duration_ms": [],
            "scores": [],
            "part_id": [],
        }
        has_part = "part_id" in pdf_batch.columns
        has_pw = "_password" in pdf_batch.columns
        for i in range(len(pdf_batch)):
            doc_id = pdf_batch["doc_id"].iat[i]
            spans = pdf_batch["spans"].iat[i]
            doc_pw = pdf_batch["_password"].iat[i] if has_pw else None
            cands = (
                passwords
                if doc_pw is None
                else (doc_pw.encode("utf-8"), *passwords)
            )
            res = extract_document(
                list(spans) if spans is not None else [], passwords=cands
            )
            out["doc_id"].append(doc_id)
            out["spans"].append(
                [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for k, t, m, o in res.spans
                ]
            )
            out["pages_parsed"].append(res.pages_parsed)
            out["spans_emitted"].append(res.spans_emitted)
            out["parse_failures"].append(res.parse_failures)
            out["duration_ms"].append(res.duration_ms)
            out["scores"].append(res.scores)
            out["part_id"].append(int(pdf_batch["part_id"].iat[i]) if has_part else -1)
        yield pd.DataFrame(out)


def extract_documents(
    df: DataFrame,
    n_parts: int = 256,
    num_partitions: int | None = None,
    balance: bool = True,
    use_arrow: bool = True,
    passwords: tuple[bytes, ...] = (),
    password_col: str | None = None,
) -> DataFrame:
    """documents(doc_id, spans) -> extracted(doc_id, spans, metrics..., part_id).

    The whole reference extraction loop (dashboard.py:588 + processor page
    loops) as one declarative stage. Lazy — call .write / lineage.commit to
    execute.

    ``passwords`` are GLOBAL candidate passwords for encrypted pdf spans;
    ``password_col`` names an input column carrying a PER-DOCUMENT
    candidate (null = none — a manifest of (doc_id, password) left-joined
    onto the corpus), tried before the global list. Per-doc is the shape
    that scales: the V5/R6 key derivation is a deliberate ~0.3 s work
    factor, so trying a global list of N candidates on every locked doc
    costs N derivations where the manifest pays one.
    """
    if password_col is not None:
        df = df.select(
            "doc_id", "spans", F.col(password_col).alias("_password")
        )
    else:
        df = df.select("doc_id", "spans")
    df = assign_part_id(df, n_parts)
    if balance:
        df = balance_partitions(df, num_partitions or max(n_parts // 2, 32))
    if use_arrow:
        kernel = (
            _extract_batches_arrow
            if not passwords and password_col is None
            else _make_extract_batches_arrow("extract_document", passwords)
        )
        return df.mapInArrow(kernel, schema=EXTRACTED_SCHEMA)
    if passwords or password_col is not None:
        pw = tuple(passwords)
        return df.mapInPandas(
            lambda it: _extract_batches(it, passwords=pw),
            schema=EXTRACTED_SCHEMA,
        )
    return df.mapInPandas(_extract_batches, schema=EXTRACTED_SCHEMA)
