"""Two traced runs of the same short slice on one seed must read the same
Spark work counters, operation by operation: the counters are evidence
only if they repeat exactly.  Each run is a full benchmark process
(about 25 s on a 4-core host), so this lives with the benchmark rather than in the
package's test suite.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "perfbench", "run.py")
REPEATING = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")


def _traced_run(seed: int) -> tuple[dict, list[dict]]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "analyst_battery", "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=180, check=True,
    )
    lines = out.stdout.strip().splitlines()
    report = json.loads(lines[-2])["report"]
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, report["spans_file"])) as f:
        spans = [json.loads(line) for line in f]
    os.remove(os.path.join(ROOT, report["spans_file"]))
    return result, spans


def _counters_by_op(spans: list[dict]) -> list[tuple]:
    return [
        (s["op"], s["name"], s.get("query"), tuple(s["counters"][k] for k in REPEATING))
        for s in sorted(spans, key=lambda s: s["id"])
    ]


def test_two_traced_runs_repeat_counters_exactly():
    first, spans_a = _traced_run(seed=7)
    second, spans_b = _traced_run(seed=7)
    assert first["correct"] and second["correct"]
    assert sum(s["counters"]["jobs"] for s in spans_a) > 0
    assert _counters_by_op(spans_a) == _counters_by_op(spans_b)
    for k in REPEATING:
        assert first["metrics"][f"exec.{k}"] == second["metrics"][f"exec.{k}"]
