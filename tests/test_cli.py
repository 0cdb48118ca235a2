"""`python -m blarify_spark`: a full build, then an update of the same pages.

The CLI runs in a subprocess because `main()` ends with `spark.stop()`,
which would stop the suite's shared session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import REPO_ROOT


def _cli(out: str, *args: str) -> dict:
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-m", "blarify_spark", "--pages", "synthetic:16",
         "--out", out, "--cores", "2", *args],
        cwd=REPO_ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [line for line in proc.stdout.splitlines() if line.strip()]
    assert len(lines) == 1, proc.stdout
    return json.loads(lines[0])


def test_cli_build_then_update_of_unchanged_pages(tmp_path):
    out = str(tmp_path / "kg")
    full = _cli(out, "--run-id", "a")
    update = _cli(out, "--run-id", "b", "--update-from-run", "a")
    assert (full["run_id"], full["updated_from"]) == ("a", None)
    assert (update["run_id"], update["updated_from"]) == ("b", "a")
    assert full["linked_triples"] > 0
    for key in ("linked_triples", "nodes", "edges"):
        assert update[key] == full[key], key
