"""Regression gate: engine-vs-DuckDB parity on a hostile documents
corpus (NULL / empty / whitespace-only / unicode texts).

Runs tools/check_hostile_docs.py as the driver would — a separate
process with its own Spark session — and requires zero failures.
This is the gate that caught the r5 latent class: DuckDB's
``string_split('') = ['']`` vs the engine's ``tokens('') = []``,
DuckDB ``concat`` ignoring NULLs where Spark propagates them,
``least/greatest`` ignoring NULLs inflating multimodal window counts,
``array_to_string([]) = NULL``, and the connector assuming a
single-file parquet store.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_hostile_documents_parity(tmp_path):
    """The tool's input dir goes under ``TMPDIR``, so pointing that at
    ``tmp_path`` also checks the tool removes the dir when it exits."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_hostile_docs.py")],
        capture_output=True,
        text=True,
        timeout=1200,
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-15:])
    assert proc.returncode == 0, f"hostile-docs parity failed:\n{tail}"
    left = sorted(p.name for p in tmp_path.glob("hostile_docs_*"))
    assert left == [], f"check_hostile_docs.py left its input dir: {left}"
