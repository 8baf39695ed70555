"""bench.py end to end: the one-line JSON artifact for a named subset
(one registry query + one production twin) at sf0.01, and the exit on an
unknown name before anything is timed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"
NAMES = ["pricing_summary", "minhash_near_dups@xxh64"]


def _bench(*args: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR)
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), *args],
        capture_output=True, text=True, env=env, timeout=300, cwd=ROOT,
    )


def test_bench_named_subset_json_line():
    proc = _bench("--repeats", "1", *NAMES)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert len(lines) == 1
    out = json.loads(lines[0])
    for key in ("value", "oracle_suite_sec", "production_variants_sec",
                "calibration"):
        assert key in out
    assert "errors" not in out
    assert list(out["queries"]) == NAMES
    assert all(out["queries"][n] >= 0 for n in NAMES)
    assert set(out["jobs"]) == set(out["stages"]) == set(NAMES)
    assert all(out["jobs"][n] >= 1 for n in NAMES)


def test_bench_unknown_name_exits_before_timing():
    proc = _bench("pricing_summary", "no_such_query")
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
    assert not proc.stdout.strip()
