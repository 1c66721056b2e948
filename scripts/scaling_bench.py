"""N-to-4N scaling efficiency: ``python3 scripts/scaling_bench.py``.

Runs PAIRS alternating pairs of ``perfbench/run.py --workload tier_build``
under ``taskset`` on the first LOW and the first HIGH cores of this
process's affinity set (perfbench sizes ``local[n]`` from it); pair ``i``
uses seed ``i + 1`` on both sides. A pair's efficiency is ``(low / high
op_wall_s.p50) / (HIGH / LOW)``, the record's the median over the pairs.
Writes BENCH/scaling_last.json (embedded by bench.py) and prints it as
the last line; a failed or incorrect run aborts with nothing written.
On LOW = 1 the JVM's own threads share the one core, slowing that side.
"""

import datetime
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD = "tier_build"
PAIRS = 5
CPUS = sorted(os.sched_getaffinity(0))
HIGH = len(CPUS)
LOW = HIGH // 4


def parse_run(stdout: str) -> dict:
    """Op median and session start of a correct, failure-free run, else raise."""
    lines = stdout.strip().splitlines()
    prov = [json.loads(l[len("perfbench "):]) for l in lines
            if l.startswith("perfbench {")]
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if not prov or result is None:
        raise RuntimeError(f"no perfbench result in output:\n{stdout[-2000:]}")
    if result.get("correct") is not True or result.get("failed", 1) > 0:
        raise RuntimeError(f"perfbench run failed: {lines[-1]} {prov[-1].get('errors')}")
    return {"op_wall_s": result["metrics"]["op_wall_s.p50"]["value"],
            "session_s": prov[-1]["setup_phases_s"]["session"]}


def pair_record(seed: int, first: str, low: dict, high: dict,
                low_cpus: int, high_cpus: int) -> dict:
    return {"seed": seed, "first": first,
            "low_op_wall_s": low["op_wall_s"], "high_op_wall_s": high["op_wall_s"],
            "low_session_s": low["session_s"], "high_session_s": high["session_s"],
            "efficiency": round(low["op_wall_s"] / high["op_wall_s"]
                                / (high_cpus / low_cpus), 3)}


def record(pairs: list[dict], low_cpus: int, high_cpus: int) -> dict:
    return {"scaling_efficiency": statistics.median(p["efficiency"] for p in pairs),
            "low_cpus": low_cpus, "high_cpus": high_cpus, "workload": WORKLOAD,
            "protocol": "taskset-paired", "nproc": len(os.sched_getaffinity(0)),
            "measured_at": datetime.datetime.now(datetime.timezone.utc)
            .isoformat(timespec="seconds"),
            "pairs": pairs}


def run_side(n: int, seed: int) -> dict:
    cpus = ",".join(map(str, CPUS[:n]))
    proc = subprocess.run(
        ["taskset", "-c", cpus, sys.executable, "perfbench/run.py", "--workload",
         WORKLOAD, "--seed", str(seed), "--seconds", "10", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError(f"perfbench on cpus {cpus} exited "
                           f"{proc.returncode}:\n{proc.stderr[-2000:]}")
    return parse_run(proc.stdout)


def main() -> None:
    if LOW < 1:
        sys.exit(f"scaling_bench: needs at least 4 usable cores, has {HIGH}")
    pairs = []
    for i in range(PAIRS):
        order = ("low", "high") if i % 2 == 0 else ("high", "low")
        side = {s: run_side(LOW if s == "low" else HIGH, i + 1) for s in order}
        pairs.append(pair_record(i + 1, order[0], side["low"], side["high"],
                                 LOW, HIGH))
        print(json.dumps(pairs[-1]), file=sys.stderr, flush=True)
    rec = record(pairs, LOW, HIGH)
    with open(os.path.join(ROOT, "BENCH", "scaling_last.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
