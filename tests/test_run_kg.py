"""run_kg.py end to end in its own process: the printed per-table row
counts are the committed stage tables' row counts. They are read from the
parquet footers here, so this process starts no Spark job."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _footer_rows(stage_dir: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(stage_dir, f)).metadata.num_rows
        for f in os.listdir(stage_dir)
        if f.startswith("part-")
    )


def test_run_kg_prints_committed_row_counts(tmp_path):
    out = str(tmp_path / "kg")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "run_kg.py"), "--gen-docs", "40", "--out", out],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    tables = summary["tables"]
    committed = sorted(
        d for d in os.listdir(out)
        if os.path.isdir(os.path.join(out, d)) and not d.startswith(("_", "."))
    )
    assert sorted(tables) == committed and len(committed) == 10
    assert tables == {name: _footer_rows(os.path.join(out, name)) for name in committed}
    assert tables["triples"] > 0 and summary["wall_sec"] > 0
