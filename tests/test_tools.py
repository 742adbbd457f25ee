"""The measurement tools under ``tools/`` run and produce normalised output."""

import importlib.util
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_tool(name):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(ROOT, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_code_lines_and_plan_snapshot_run(spark, sf_dir, tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "code_lines.py")],
        capture_output=True, text=True, check=True,
    )
    assert int(out.stdout) > 0

    snap = _load_tool("plan_snapshot")
    names = snap.snapshot(spark, str(tmp_path), sf_dir, {"session_agg", "streaming_dedup"})
    assert names == ["session_agg", "streaming_dedup"]
    for name in names:
        text = (tmp_path / f"{name}.txt").read_text()
        assert "== Physical Plan ==" in text
        assert not re.search(r"#\d+", text), name
    assert "== stream 0 ==" in (tmp_path / "streaming_dedup.txt").read_text()
    assert "== stream 0 ==" not in (tmp_path / "session_agg.txt").read_text()


def test_plan_snapshot_gates_initial_plan_and_hashes_oracles(spark, sf_dir, tmp_path):
    """The gate file holds AQE's initial plan, the final plan goes to
    ``final/``, and ``oracles.sha256`` has one line per oracle."""
    import hashlib

    from tamar_spark.queries import ORACLES

    snap = _load_tool("plan_snapshot")
    snap.snapshot(spark, str(tmp_path), sf_dir, {"session_agg"})
    assert "isFinalPlan=false" in (tmp_path / "session_agg.txt").read_text()
    assert "isFinalPlan=true" in (tmp_path / "final" / "session_agg.txt").read_text()
    lines = (tmp_path / "oracles.sha256").read_text().splitlines()
    assert len(lines) == len(ORACLES)
    want = hashlib.sha256(ORACLES["session_agg"].encode()).hexdigest()
    assert f"{want}  session_agg" in lines


def test_plan_snapshot_masks_aqe_numbering():
    """Two runs of one commit number AQE nodes, codegen stages and query
    stages differently; the normalised text must not, and must keep the
    tree and every other argument."""
    snap = _load_tool("plan_snapshot")

    def plan(node, scan, codegen, stage):
        return (
            f"+- ShuffleQueryStage ({node}), Statistics(sizeInBytes=1.0 KiB)\n"
            f"   +- Scan parquet  ({scan})\n\n"
            f"({scan}) Scan parquet \nOutput [1]: [a#{scan}L]\n\n"
            f"({codegen}) Filter [codegen id : {codegen}]\nCondition : (a#1L > 5)\n\n"
            f"({node}) ShuffleQueryStage\nOutput [1]: [a#1L]\nArguments: {stage}\n\n"
            f"({node + 1}) CollectLimit\nArguments: 10\n\n"
            f"({node + 2}) ReusedExchange [Reuses operator id: {scan}]\n"
        )

    one = snap.normalise(plan(12, 3, 4, 7))
    assert one == snap.normalise(plan(15, 2, 9, 11))
    assert "Arguments: 10" in one and "(a#N > 5)" in one
    assert "+- ShuffleQueryStage (N), Statistics" in one
    assert "+- Scan parquet  (N)" in one
    assert not re.search(r"\(\d+\) |codegen id : \d|operator id: \d|Arguments: [0-9]\b", one)


def test_plan_snapshot_sorts_detail_blocks():
    """AQE orders the detail blocks by stage completion; two texts that
    differ only in that order normalise to the same output."""
    snap = _load_tool("plan_snapshot")
    tree = (
        "== Physical Plan ==\n* Project (3)\n+- * Filter (2)\n"
        "   +- Scan parquet  (1)\n\n\n"
    )
    scan = "(1) Scan parquet \nOutput [1]: [a#7L]"
    filt = "(2) Filter [codegen id : 1]\nCondition : (a#7L > 5)"
    proj = "(3) Project [codegen id : 1]\nOutput [1]: [a#7L]"
    one = snap.normalise(tree + "\n\n".join([scan, filt, proj]) + "\n")
    two = snap.normalise(tree + "\n\n".join([proj, scan, filt]) + "\n")
    assert one == two
    assert one.startswith(snap.normalise(tree)) and one.endswith("\n")
    assert "Scan parquet  (N)\n\n\n(N) Filter" in one
    assert one.index("(N) Filter") < one.index("(N) Project") < one.index("(N) Scan")
