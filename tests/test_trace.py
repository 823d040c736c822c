"""``tools/trace.py``: each request is its own traced window on
perfbench's Tracer, and the report has one row per (entry, snapshot
dir) carrying every layer. It runs as a subprocess: the event log it
reads is switched on at JVM launch."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_trace_rows_carry_every_layer(sf_dir, tmp_path):
    sys.path.insert(0, str(ROOT / "perfbench"))
    try:
        from layers import EVENT_KEYS, PASS_KEYS
    finally:
        sys.path.remove(str(ROOT / "perfbench"))
    entries = ["s1_point_lookup", "dead_letter_counts"]
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "trace.py"), "--dirs", sf_dir, "--queries", ",".join(entries), "--passes", "1"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    report = json.loads(out.stdout)
    header = report["header"]
    tag = os.path.basename(os.path.abspath(sf_dir))
    assert header["dirs"] == [tag]
    assert header["cpus"] == len(os.sched_getaffinity(0))
    assert header["defaultParallelism"] >= 1 and header["passes"] == 1
    assert header["failed"] == {}
    rows = report["rows"]
    assert [(r["entry"], r["dir"]) for r in rows] == [(e, tag) for e in entries]
    for r in rows:
        missing = (set(PASS_KEYS) | set(EVENT_KEYS)) - set(r)
        assert not missing, (r["entry"], sorted(missing))
        assert r["exec.jobs"] >= 1, r
        assert r["wall_s"] > 0 and r["exec.executor_run_s"] > 0, r
    assert rows[1]["streaming.batches"] >= 2, rows[1]
    # the event-log dir lives only while the harness parses it
    assert [p.name for p in tmp_path.iterdir() if p.name.startswith("trace_events_")] == []
