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
