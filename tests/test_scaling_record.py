"""The scaling harness's parsing and arithmetic, and bench.py's embed of
its record, on canned perfbench output (no Spark)."""

import importlib.util
import json
import os

import pytest

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "scaling_bench", os.path.join(ROOT, "scripts", "scaling_bench.py"))
sb = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(sb)


def _tail(op_wall_s, session_s, correct=True, failed=0, result=True):
    prov = {"workload": "tier_build", "setup_phases_s":
            {"session": session_s, "input": 3.0, "warmup": 9.0}, "errors": []}
    lines = ["some spark log line", "perfbench " + json.dumps(prov)]
    if result:
        lines.append(json.dumps({
            "correct": correct, "attempted": 2, "failed": failed,
            "metrics": {"op_wall_s.p50": {"value": op_wall_s, "unit": "s"}}}))
    return "\n".join(lines) + "\n"


def test_pairs_give_efficiency_median_and_session_times():
    pairs = [
        sb.pair_record(1, "low", sb.parse_run(_tail(20.0, 9.5)),
                       sb.parse_run(_tail(8.0, 7.0)), 1, 4),
        sb.pair_record(2, "high", sb.parse_run(_tail(21.0, 8.1)),
                       sb.parse_run(_tail(7.0, 6.4)), 1, 4),
        sb.pair_record(3, "low", sb.parse_run(_tail(16.0, 8.0)),
                       sb.parse_run(_tail(8.0, 6.9)), 1, 4),
    ]
    assert [p["efficiency"] for p in pairs] == [0.625, 0.75, 0.5]
    assert pairs[0] == {"seed": 1, "first": "low", "low_op_wall_s": 20.0,
                        "high_op_wall_s": 8.0, "low_session_s": 9.5,
                        "high_session_s": 7.0, "efficiency": 0.625}
    rec = sb.record(pairs, 1, 4)
    assert rec["scaling_efficiency"] == 0.625
    assert (rec["low_cpus"], rec["high_cpus"]) == (1, 4)
    assert rec["protocol"] == "taskset-paired"
    assert rec["workload"] == "tier_build" and rec["pairs"] == pairs


@pytest.mark.parametrize("tail", [
    _tail(8.0, 7.0, correct=False),
    _tail(8.0, 7.0, failed=1),
    _tail(8.0, 7.0, result=False),
], ids=["incorrect", "failed", "no-result"])
def test_bad_run_raises(tail):
    with pytest.raises(RuntimeError):
        sb.parse_run(tail)


def test_bench_embeds_the_record(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "ROOT", str(tmp_path))
    assert bench.load_efficiency() is None
    rec = sb.record([sb.pair_record(1, "low", {"op_wall_s": 20.0,
                                               "session_s": 9.0},
                                    {"op_wall_s": 8.0, "session_s": 7.0},
                                    1, 4)], 1, 4)
    (tmp_path / "BENCH").mkdir()
    (tmp_path / "BENCH" / "scaling_last.json").write_text(json.dumps(rec))
    eff = bench.load_efficiency()
    assert eff["value"] == rec["scaling_efficiency"] == 0.625
    assert eff["measured_at"] == rec["measured_at"]
    assert eff["protocol"] == "taskset-paired"
    assert (eff["low_cpus"], eff["high_cpus"]) == (1, 4)
