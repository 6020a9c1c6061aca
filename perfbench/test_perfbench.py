"""The benchmark's own tests: the replay model, and every workload end to
end in its small mode, with the same checks as a full run.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def test_model_replays_generated_log():
    log = gen.EventLog(7, 500)
    changes = log.changes(3000)
    model = gen.Model()
    model.apply(log.snapshot)
    model.apply(changes)
    assert model.rows == log.rows
    assert sum(a[0] for a in model.scan().values()) == len(log.rows)
    assert {ev.op for ev in changes} == {"c", "u", "d"}


def test_render_is_seeded_and_parseable():
    a = gen.EventLog(3, 50)
    b = gen.EventLog(3, 50)
    ev = a.changes(40)
    assert ev == b.changes(40)
    for e in ev:
        lines = [json.loads(x) for x in gen.render(e, 123, True)]
        assert json.loads(lines[0]["key"])["payload"] == {"id": e.id}
        value = json.loads(lines[0]["value"])
        assert value["payload"]["op"] == e.op
        assert value["payload"]["source"]["ts_ms"] == 123
        assert "schema" in value
        if e.op == "d":
            assert lines[1]["value"] is None and lines[1]["offset"] == e.offset + 1


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["backfill", "stream"])
def test_small_run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "2", "--trace", str(trace), "--small"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"], p.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] > 0
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer" if trace else "end_to_end"]]
    assert list(result["metrics"]) == names
