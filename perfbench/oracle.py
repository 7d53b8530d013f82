"""Correctness gate of the product benchmark.

Every committed document is compared with the closed-form generator oracle
(``corpus.expected_extraction_rows``): pages parsed, spans emitted, parse
failures, the output span-kind sequence and the synthesized media refs. A
document counts as failed when it is quarantined (an unexpected parse
failure), missing, visible more than once, or differs from the oracle.

Run this file directly for the gate's self-test: it extracts a small corpus
with the serial kernel, checks that the gate passes it, and then checks that
the gate flags a table with one document removed, one span altered and one
document duplicated::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import sys
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

FIELDS = ("pages_parsed", "spans_emitted", "parse_failures", "kinds", "media_refs")


@dataclass
class Gate:
    """Per-document verdicts of one comparison: ``attempted`` docs, the set
    of failed doc ids, and a count per failure kind."""

    attempted: int = 0
    failed_ids: set[str] = field(default_factory=set)
    kinds: Counter = field(default_factory=Counter)

    @property
    def failed(self) -> int:
        return len(self.failed_ids)

    def flag(self, doc_id: str, kind: str) -> None:
        self.failed_ids.add(doc_id)
        self.kinds[kind] += 1

    def merge(self, other: "Gate") -> None:
        self.attempted += other.attempted
        self.failed_ids |= other.failed_ids
        self.kinds.update(other.kinds)


def expected_rows(n_docs: int, seed: int, profile: str) -> list[dict]:
    from pdf_extractor_spark.corpus import expected_extraction_rows

    return expected_extraction_rows(n_docs, seed, profile=profile)


def compare(expected: list[dict], got: list[dict]) -> Gate:
    """Gate ``got`` (committed rows projected like ``project_extracted``)
    against the oracle rows of every attempted document."""
    gate = Gate(attempted=len(expected))
    want = {r["doc_id"]: r for r in expected}
    seen = Counter(r["doc_id"] for r in got)
    for d, r in {r["doc_id"]: r for r in got}.items():
        if d not in want:
            gate.flag(d, "unexpected")
        elif seen[d] > 1:
            gate.flag(d, "duplicated")
        elif r["parse_failures"] and not want[d]["parse_failures"]:
            gate.flag(d, "quarantined")
        elif any(r[f] != want[d][f] for f in FIELDS):
            gate.flag(d, "differs")
    for d in want.keys() - seen.keys():
        gate.flag(d, "missing")
    return gate


def project_extracted(df) -> list[dict]:
    """Collect the oracle fields of a committed extraction table (the same
    projection the registry's corpus queries use)."""
    from pyspark.sql import functions as F

    kinds = F.array_join(F.transform("spans", lambda s: s["kind"]), ",")
    refs = F.array_join(
        F.filter(F.transform("spans", lambda s: s["media_ref"]), lambda r: r != ""),
        ",",
    )
    rows = df.select(
        "doc_id", "pages_parsed", "spans_emitted", "parse_failures",
        kinds.alias("kinds"), refs.alias("media_refs"),
    ).collect()
    return [r.asDict() for r in rows]


def check_per_doc_table(df, doc_ids: set[str], gate: Gate, label: str) -> None:
    """A derived table with one row per source document: flag every doc
    that is missing, duplicated or unexpected there."""
    seen = Counter(r["doc_id"] for r in df.select("doc_id").collect())
    for d in doc_ids:
        if seen[d] != 1:
            gate.flag(d, f"{label}:{'missing' if seen[d] == 0 else 'duplicated'}")
    for d in seen.keys() - doc_ids:
        gate.flag(d, f"{label}:unexpected")


def serial_rows(n_docs: int, seed: int, profile: str) -> list[dict]:
    """Extract a generated corpus with the serial kernel and project it
    like ``project_extracted`` (no Spark)."""
    from pdf_extractor_spark.core.extractor import extract_document
    from pdf_extractor_spark.corpus import gen_documents

    out = []
    for row in gen_documents(n_docs, seed, profile=profile):
        res = extract_document(
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        )
        out.append({
            "doc_id": row["doc_id"],
            "pages_parsed": res.pages_parsed,
            "spans_emitted": res.spans_emitted,
            "parse_failures": res.parse_failures,
            "kinds": ",".join(s[0] for s in res.spans),
            "media_refs": ",".join(s[2] for s in res.spans if s[2] != ""),
        })
    return out


def self_test(n_docs: int = 12, seed: int = 3) -> list[str]:
    """Return the list of self-test failures (empty when the gate works)."""
    expected = expected_rows(n_docs, seed, "mixed")
    good = serial_rows(n_docs, seed, "mixed")
    problems = []

    def want(label, got, n_failed, kind):
        gate = compare(expected, got)
        if gate.failed != n_failed or (kind and gate.kinds[kind] != n_failed):
            problems.append(f"{label}: failed={gate.failed} kinds={dict(gate.kinds)}")

    want("clean table", good, 0, None)
    want("one doc removed", good[1:], 1, "missing")
    altered = [dict(r) for r in good]
    victim = next(r for r in altered if "," in r["kinds"])
    first, rest = victim["kinds"].split(",", 1)
    victim["kinds"] = ("media" if first == "text" else "text") + "," + rest
    want("one span altered", altered, 1, "differs")
    want("one doc duplicated", good + good[:1], 1, "duplicated")
    return problems


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    failures = self_test()
    for f in failures:
        print("SELFTEST FAIL", f)
    print("SELFTEST", "FAIL" if failures else "OK")
    sys.exit(1 if failures else 0)
