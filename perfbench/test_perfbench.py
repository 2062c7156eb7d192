"""The benchmark's own tests (slow: each smoke run starts Spark).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import replay  # noqa: E402
from run import END_TO_END  # noqa: E402
from spans import SpanRecorder  # noqa: E402
from traced import PER_LAYER  # noqa: E402
from workloads import WORKLOADS, WarcHtml, check_docs, corrupt_docs  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )


def test_spec_names_match_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == PER_LAYER


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_named_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    elif workload == "crawl_mix":
        assert result["metrics"]["pdf.parses_per_doc"]["value"] == 1.0


def test_snapshot_restore_gives_every_repetition_the_same_table():
    work = os.path.join(ROOT, ".perfbench", f"test-restore-{os.getpid()}")
    try:
        w = WarcHtml(work, seed=5, smoke=True)
        w.prepare(workers=2)
        digests = []
        for _ in range(2):
            w.reset()
            # what a repetition leaves behind must not leak into the next
            with open(os.path.join(w.out_dir, "docs", "part-99999.parquet"), "wb") as fh:
                fh.write(b"junk")
            digests.append(w.restored_digest)
        assert digests == [w.snapshot_digest] * 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_check_flags_a_corrupted_output():
    from inputs import crawl_rows

    rows = replay.replay_docs(crawl_rows(9, 40))
    expected = {r["url"]: replay.doc_key(r) for r in rows}
    assert check_docs(rows, expected) == []
    assert check_docs(corrupt_docs(rows), expected)
    assert check_docs(rows[1:], expected) == [rows[0]["url"]]


def test_self_times_add_up_to_the_root_spans():
    from inputs import crawl_rows

    rec = SpanRecorder()
    with rec.patched():
        replay.replay_docs(crawl_rows(9, 40), rec)
    assert rec.counts["pdf.extract.calls"] > 0 and rec.counts["html.calls"] > 0
    assert sum(rec.self_times().values()) == pytest.approx(rec.root_total_s(), rel=1e-9)
    # the wrappers are gone after the block
    from pdf_ocr_spark.kernels.pdf import extract

    assert extract.interpret_page.__module__ == "pdf_ocr_spark.kernels.pdf.content"


def test_stage_kinds():
    assert eventlog.stage_kind({"MapInArrow"}, 10, 0, 0) == "sink"
    assert eventlog.stage_kind({"MapInArrow", "BroadcastHashJoin"}, 0, 5, 5) == "python"
    assert eventlog.stage_kind({"SortMergeJoin"}, 0, 0, 5) == "join"
    assert eventlog.stage_kind({"Scan parquet"}, 0, 5, 5) == "scan"
    assert eventlog.stage_kind(set(), 0, 0, 0) == "other"


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench", f"test-bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run("--workload", "crawl_mix", "--seed", "1", "--seconds", "1",
                 "--trace", "0", cwd=bare)
        assert p.returncode != 0
        assert p.stdout.strip() == ""
    finally:
        shutil.rmtree(bare, ignore_errors=True)
