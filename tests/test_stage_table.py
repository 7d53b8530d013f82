"""The derived-stage table (``job.STAGE_MODULES``) drives the CLI: its
guards and a crash at every stage boundary are checked per table entry,
so a stage added to the table is covered without a new test."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

import pdf_extractor_spark.spark.lineage as L
from pdf_extractor_spark import job
from pdf_extractor_spark.ops.extraction_queries import wrap_documents
from tests.helpers import write_docs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAGES = [m.STAGE for m in job.STAGE_MODULES]
IDS = [s.name for s in STAGES]


class JvmStarted(RuntimeError):
    pass


@pytest.fixture
def no_jvm(monkeypatch):
    """get_spark raises, so a main() that returns or exits 2 provably did
    so before any session started."""

    def _refuse(*_a, **_k):
        raise JvmStarted("get_spark called")

    monkeypatch.setattr("pdf_extractor_spark.spark.session.get_spark", _refuse)


def _table_root(path) -> str:
    os.makedirs(os.path.join(path, "commits"), exist_ok=True)
    return str(path)


@pytest.fixture
def roots(tmp_path):
    csv = tmp_path / "pw.csv"
    csv.write_text("doc_id,password\nd1,pw\n")
    return {
        "src": _table_root(tmp_path / "src"),
        "other": _table_root(tmp_path / "other"),
        "out": str(tmp_path / "out"),
        "csv": str(csv),
    }


def _option_args(dest: str, r: dict) -> list[str]:
    values = {
        "min_tokens": "5",
        "min_stopword_micros": "0",
        "accept_langs": "any",
        "min_logit_micros": "5",
        "over_kept": r["other"],
        "kept_from": r["other"],
        "drop_neardups_from": r["other"],
        "cost": "bpe",
        "pack_table": r["other"],
    }
    return [job._flag(dest), values[dest]]


def _extraction_args(dest: str, r: dict) -> list[str]:
    return {
        "watch": ["--watch"],
        "ocr_stage": ["--ocr-stage"],
        "refresh_parts": ["--refresh-parts", "0"],
        "route_needs_ocr": ["--route-needs-ocr"],
        "export_zip": ["--export-zip", r["out"] + ".zip"],
        "passwords": ["--passwords", "pw"],
        "password_manifest": ["--password-manifest", r["csv"]],
        "parts_per_chunk": ["--parts-per-chunk", "4"],
        "num_partitions": ["--num-partitions", "4"],
        "input_format": ["--input-format", "parquet"],
    }[dest]


def _stage_argv(stage, r: dict) -> list[str]:
    """The smallest argv that runs ``stage`` (required options included)."""
    argv = ["--input", r["src"], "--output", r["out"], stage.flag]
    for dest in stage.required:
        argv += _option_args(dest, r)
    return argv


def _refused(argv: list[str]) -> None:
    with pytest.raises(SystemExit) as e:
        job.main(argv)
    assert e.value.code == 2, argv


@pytest.mark.parametrize("stage", STAGES, ids=IDS)
def test_stage_cli_guards_from_table(stage, roots, no_jvm):
    base = _stage_argv(stage, roots)
    # the base invocation passes every guard: only the added flag refuses
    with pytest.raises(JvmStarted):
        job.main(base)
    for dest in stage.rebuild_only:
        _refused(base + _option_args(dest, roots))
        with pytest.raises(JvmStarted):
            job.main(base + _option_args(dest, roots) + ["--rebuild"])

    _refused(["--input", "synthetic:4", *base[2:]])
    for dest in job._EXTRACTION_ONLY:
        _refused(base + _extraction_args(dest, roots))
    for other in STAGES:
        if other is stage:
            continue
        _refused(base + [other.flag])
        for dest in other.options:
            _refused(base + _option_args(dest, roots))


@pytest.mark.parametrize("dest", sorted(job._STAGE_OF_OPTION))
def test_stage_option_refused_without_its_stage(dest, roots, no_jvm):
    _refused(["--input", roots["src"], "--output", roots["out"],
              *_option_args(dest, roots)])


def test_watch_refuses_synthetic_input_before_jvm(roots, no_jvm):
    _refused(["--input", "synthetic:4", "--output", roots["out"], "--watch"])


def test_script_entry_point_runs_guards(tmp_path):
    """``python pdf_extractor_spark/job.py`` outside the repository root
    imports its own package: a stage guard exits 2 with its message, not
    1 with a ModuleNotFoundError traceback."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "pdf_extractor_spark", "job.py"),
         "--input", "synthetic:4", "--output", str(tmp_path / "o"),
         "--signals"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "not synthetic: input" in proc.stderr
    assert "Traceback" not in proc.stderr


# -- kill at stage k ---------------------------------------------------------

_BASE = ("the quick brown fox jumps over the lazy dog and the bird with a "
         "very long tail that keeps the token count up ")
_TEXTS = {i: _BASE + f"unique{i} " + _BASE for i in range(10)}
_TEXTS[3] = _TEXTS[2]                  # exact duplicate
_TEXTS[7] = _TEXTS[6] + "extraword"    # near duplicate


def _run_chain(src: str, tables: str) -> None:
    for stage in STAGES:
        argv = ["--input", src, "--output", os.path.join(tables, stage.name),
                stage.flag]
        if "pack_table" in stage.options:
            argv += ["--pack-table", os.path.join(tables, "pack")]
        assert job.main(argv) == 0


def _table_rows(spark, tables: str) -> dict[str, list]:
    return {
        s.name: sorted(
            (tuple(r) for r in L.CommitLog(os.path.join(tables, s.name))
             .read_table(spark, s.schema).collect()),
            key=repr,
        )
        for s in STAGES
    }


@pytest.fixture(scope="module")
def two_waves(spark, tmp_path_factory):
    """A source table committed in two waves, the chain's tables after
    wave 1, and the uninterrupted chain's rows after wave 2."""
    base = tmp_path_factory.mktemp("kill_chain")
    docs = wrap_documents(spark, write_docs(base / "docs", _TEXTS))
    src = str(base / "src")
    with pytest.raises(RuntimeError, match="injected failure"):
        L.run_extraction(spark, docs, L.CommitLog(src), n_parts=8,
                         parts_per_chunk=4, fail_after_chunks=1)
    wave1 = str(base / "wave1")
    _run_chain(src, wave1)
    L.run_extraction(spark, docs, L.CommitLog(src), n_parts=8,
                     parts_per_chunk=4)
    ref = str(base / "ref")
    shutil.copytree(wave1, ref)
    _run_chain(src, ref)
    rows = _table_rows(spark, ref)
    assert all(rows[s.name] for s in STAGES)
    return src, wave1, rows


@pytest.mark.parametrize("k", range(len(STAGES)), ids=IDS)
def test_kill_at_stage_k_resumes_to_uninterrupted_tables(
    spark, two_waves, tmp_path, monkeypatch, k
):
    """Stage k dies on wave 2 after its chunk data is written and before
    its marker flips (the unmarked chunk a SIGKILL there leaves). Rerunning
    the chain yields every table row for row as an uninterrupted run, and
    the crashed chunk is the only orphan."""
    src, wave1, expected = two_waves
    tables = str(tmp_path / "tables")
    shutil.copytree(wave1, tables)
    killed = os.path.join(tables, STAGES[k].name)
    commit = L.CommitLog.commit_chunk

    def _die_at_k(self, *a, **kw):
        if self.root == killed:
            raise RuntimeError("killed before the marker flip")
        return commit(self, *a, **kw)

    monkeypatch.setattr(L.CommitLog, "commit_chunk", _die_at_k)
    with pytest.raises(RuntimeError, match="killed before the marker flip"):
        _run_chain(src, tables)
    monkeypatch.undo()

    _run_chain(src, tables)
    assert _table_rows(spark, tables) == expected
    for s in STAGES:
        swept = L.CommitLog(os.path.join(tables, s.name)).gc_orphans(grace_s=0)
        assert len(swept) == (1 if s is STAGES[k] else 0), (s.name, swept)
        assert all(p.startswith(os.path.join(killed, "data", "chunk="))
                   for p in swept)
