"""bench.py: the one-JSON-line mode, end to end in a subprocess."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "bench.py")


def test_headline_mode_prints_one_json_line(tmp_path):
    """Two headline plans at sf0.01 on 2 cores: the last stdout line is
    the JSON record, and it times exactly the plans asked for."""
    out = subprocess.run(
        [sys.executable, BENCH, "--headline-only", "--plans", "dgrid,auto",
         "--cores", "2", "--sf-dir", str(tmp_path / "sf0.01")],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert {"metric", "value", "unit", "queries", "sf", "cores",
            "n_particles", "n_halos", "best_shell_plan",
            "total_sec"} <= rec.keys()
    assert set(rec["queries"]) == {"sjcs_shell_dgrid", "sjcs_shell_auto"}
    assert rec["sf"] == 0.01 and rec["cores"] == 2
    assert rec["best_shell_plan"] in rec["queries"]
    assert rec["value"] > 0


def test_removed_scaling_mode_is_an_argparse_error():
    out = subprocess.run([sys.executable, BENCH, "--scaling"], cwd=ROOT,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 2
    assert "unrecognized arguments: --scaling" in out.stderr
