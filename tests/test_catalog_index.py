"""CATALOG.md is generated, never hand-edited: the committed file must be
exactly what ``scripts/gen_catalog.py`` prints from the builder
docstrings, so a changed docstring or a new row cannot leave it stale."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_catalog_md_matches_generator():
    out = subprocess.run(
        [sys.executable, "scripts/gen_catalog.py"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    committed = (REPO / "CATALOG.md").read_text()
    assert out.count("\n| ") > 150
    assert out == committed, "CATALOG.md is stale: rerun scripts/gen_catalog.py"
