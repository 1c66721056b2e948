"""Scaling-efficiency evidence (north_rule: N vs 4N executors; sandbox
stand-in = ``spark-submit --master local[N]`` vs ``local[4N]``).

Methodology notes (all measured in this sandbox, see BENCH/BASELINE.md):

* the sandbox block device throttles under sustained load and the VM's
  effective CPU capacity fluctuates minute-to-minute (same Spark scan
  varies 1.8s..19s), so: input + outputs + shuffle dirs live on tmpfs,
  every configuration runs warmup + repeated timed executions inside ONE
  JVM (cold-JVM JIT/codegen otherwise dominates), and the reported
  statistic is the MIN of the timed runs (least-interference sample on a
  shared host);
* a raw embarrassingly-parallel CPU calibration is run alongside, because
  the host itself does not deliver 4x throughput at 4x threads at every
  width (frequency scaling + shared memory bandwidth) — the calibration
  bounds what ANY software could show.

Usage: python scripts/scaling_bench.py [--scale scaling] [--runs 3]
       [--low 8 --high 32]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKDIR = os.environ.get(
    "SCALING_WORKDIR",
    "/dev/shm/hastl_bench" if os.path.isdir("/dev/shm") else
    os.path.join(ROOT, ".bench_data"))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _burn(_):
    t_end = time.time() + 3
    c = 0
    x = 1.0
    while time.time() < t_end:
        for _ in range(10000):
            x = x * 1.0000001 + 0.1
        c += 1
    return c


def cpu_calibration(low: int, high: int) -> dict:
    """Aggregate throughput of N embarrassingly-parallel python processes —
    the hardware ceiling for wall-clock scaling at these widths."""
    out = {}
    for n in (low, high):
        with mp.Pool(n) as p:
            t0 = time.time()
            res = p.map(_burn, range(n))
        out[n] = round(sum(res) / (time.time() - t0), 1)
    out["ceiling"] = round(out[high] / out[low] / (high / low), 3)
    return out


def _triad(_):
    """STREAM-triad-ish: ~80MB working set, far beyond LLC share."""
    import numpy as np

    n = 10_000_000
    a = np.zeros(n)
    b = np.random.default_rng(1).random(n)
    c = np.random.default_rng(2).random(n)
    t_end = time.time() + 3
    it = 0
    while time.time() < t_end:
        np.add(b, c, out=a)
        a *= 1.0000001
        it += 1
    return it


def membw_calibration(low: int, high: int) -> dict:
    """Aggregate memory bandwidth at N processes. A tmpfs-input Spark scan
    (read + snappy decode + hash agg) is RAM-traffic-bound, so when this
    ratio collapses (high ~ low), the HOST cannot express scan scaling in
    that window, whatever the engine does — the register-bound CPU
    calibration alone misses this failure mode."""
    out = {}
    for n in (low, high):
        with mp.Pool(n) as p:
            t0 = time.time()
            res = p.map(_triad, range(n))
        out[n] = round(sum(res) / (time.time() - t0), 1)
    out["ceiling"] = round(out[high] / out[low] / (high / low), 3)
    return out


def build_zip() -> str:
    os.makedirs(WORKDIR, exist_ok=True)
    zpath = os.path.join(WORKDIR, "engine.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(os.path.join(ROOT, "hastl_spark")):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    return zpath


def gen_input(scale: str) -> str:
    path = os.path.join(WORKDIR, f"sequences_{scale}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # generate in a CHILD python so the pyspark gateway JVM fully exits
        # before measurement: spark.stop() in-process leaves the gateway
        # attached to this long-lived script (observed as an unreaped child
        # during the round-5 run)
        code = (
            "import sys; sys.path.insert(0, %r)\n"
            "from hastl_spark.session import get_spark\n"
            "from hastl_spark.sources.sequences import generate_scale\n"
            "spark = get_spark(16, app_name='gen-scaling-input')\n"
            "generate_scale(spark, %r).write.mode('overwrite').parquet(%r)\n"
            "spark.stop()\n" % (ROOT, scale, path))
        subprocess.run([sys.executable, "-c", code], check=True,
                       timeout=3600)
    return path


def submit_job(zpath: str, job_script: str, job_args: list[str],
               cpus: int) -> dict:
    """spark-submit a repo job under the pinned benchmark configuration and
    return its one-line JSON. Shared by this script and
    scripts/packing_scaling.py so both scaling harnesses measure under
    IDENTICAL confs — a conf tweak applied to one but not the other would
    silently compare different engines."""
    tmp = os.path.join(WORKDIR, "sparktmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [
        SPARK_SUBMIT,
        "--master", f"local[{cpus}]",
        "--py-files", zpath,
        "--conf", f"spark.sql.shuffle.partitions={cpus}",
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.hadoop.parquet.hadoop.vectored.io.enabled=false",
        "--conf", "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version=2",
        "--conf", f"spark.local.dir={tmp}",
        "--driver-memory", "16g",
        os.path.join(ROOT, "hastl_spark", "plans", job_script),
        *job_args,
    ]
    # pin BLAS/OMP to one thread per python worker: otherwise local[2]
    # silently borrows extra host cores inside the pandas UDFs and the
    # measured scaling efficiency is fiction (get_spark also sets these via
    # executorEnv; the JVM env copy covers any pre-session numpy import)
    env = dict(os.environ, PYTHONPATH=zpath,
               OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1", NUMEXPR_NUM_THREADS="1")
    proc = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=3600)
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert line, f"no JSON from spark-submit (rc={proc.returncode}):\n{proc.stderr[-3000:]}"
    return json.loads(line[-1])


def run_config(zpath: str, seq_path: str, cpus: int, runs: int) -> dict:
    out = os.path.join(WORKDIR, f"scaling_out_c{cpus}")
    shutil.rmtree(out, ignore_errors=True)
    res = submit_job(zpath, "rollup_job.py", [
        "--sequences-path", seq_path,
        "--out", out,
        "--cpus", str(cpus),
        "--warmup", "1",
        "--repeat", str(runs),
    ], cpus)
    shutil.rmtree(out, ignore_errors=True)
    walls = res["walls"]
    return {
        "walls_s": walls,
        "min_wall_s": min(walls),
        "median_wall_s": statistics.median(walls),
        "rolled_up_points": res["rolled_up_points"],
        "points_per_sec_min": round(res["rolled_up_points"] / min(walls), 1),
        # per-stage walls of the min run: the Amdahl decomposition — which
        # stage stops scaling shows up as a flat wall across core counts
        "stage_walls": res.get("stage_walls", [None])[
            walls.index(min(walls))] if res.get("stage_walls") else None,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="scaling")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--paired", action="store_true",
                    help="interleave high/low config runs and compute the "
                         "efficiency per adjacent pair: this host's capacity "
                         "drifts >2x over the minutes a sequential protocol "
                         "takes, so min-of-phase comparisons mix host states; "
                         "paired ratios control for the drift")
    args = ap.parse_args()

    calib = cpu_calibration(args.low, args.high)
    print("cpu calibration:", json.dumps(calib), flush=True)
    membw = membw_calibration(args.low, args.high)
    print("membw calibration:", json.dumps(membw), flush=True)

    zpath = build_zip()
    seq_path = gen_input(args.scale)

    results = {}
    pairs = None
    if args.paired:
        pairs = []
        hi_walls, lo_walls = [], []
        for i in range(args.runs):
            # per-pair host calibration: this VM drifts so much that a
            # single up-front ceiling misattributes windows — each pair
            # carries the CPU and memory-bandwidth scaling the HOST could
            # express while that pair ran, so a collapsed pair is
            # distinguishable as host-bound vs engine-bound
            pcal = cpu_calibration(args.low, args.high)
            pmem = membw_calibration(args.low, args.high)
            hi_r = run_config(zpath, seq_path, args.high, 1)
            lo_r = run_config(zpath, seq_path, args.low, 1)
            ratio = lo_r["min_wall_s"] / hi_r["min_wall_s"]
            pairs.append({
                "high_wall_s": hi_r["min_wall_s"],
                "low_wall_s": lo_r["min_wall_s"],
                "speedup": round(ratio, 3),
                "efficiency": round(ratio / (args.high / args.low), 3),
                "cpu_ceiling": pcal["ceiling"],
                "membw_ceiling": pmem["ceiling"],
                "high_stage_walls": hi_r.get("stage_walls"),
                "low_stage_walls": lo_r.get("stage_walls"),
            })
            hi_walls.append(hi_r["min_wall_s"])
            lo_walls.append(lo_r["min_wall_s"])
            print(f"pair {i}: {pairs[-1]}", flush=True)
        results[args.high] = {
            "walls_s": hi_walls, "min_wall_s": min(hi_walls),
            "median_wall_s": statistics.median(hi_walls)}
        results[args.low] = {
            "walls_s": lo_walls, "min_wall_s": min(lo_walls),
            "median_wall_s": statistics.median(lo_walls)}
    else:
        for cpus in (args.high, args.low):
            results[cpus] = run_config(zpath, seq_path, cpus, args.runs)
            print(f"local[{cpus}]: {results[cpus]}", flush=True)

    lo, hi = results[args.low], results[args.high]
    if pairs:
        best = max(p["efficiency"] for p in pairs)
        med = statistics.median(p["efficiency"] for p in pairs)
        speedup = med * (args.high / args.low)
        eff = med
    else:
        speedup = lo["min_wall_s"] / hi["min_wall_s"]
        eff = speedup / (args.high / args.low)
    report = {
        "scale": args.scale,
        "low_cpus": args.low,
        "high_cpus": args.high,
        "results": {str(k): v for k, v in results.items()},
        "speedup_min": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "hardware_ceiling": calib["ceiling"],
        "membw_ceiling": membw["ceiling"],
        "efficiency_vs_hardware_ceiling": round(eff / calib["ceiling"], 3),
    }
    if pairs:
        report["protocol"] = "paired-interleaved"
        report["pairs"] = pairs
        report["efficiency_median_pair"] = med
        report["efficiency_best_pair"] = best
    print(json.dumps(report))

    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    # machine-readable record of the latest measurement: bench.py embeds it
    # (with provenance) in the per-round BENCH json's `efficiency` field
    report["measured_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(os.path.join(ROOT, "BENCH", "scaling_last.json"), "w") as f:
        json.dump(report, f, indent=1)
    with open(os.path.join(ROOT, "BENCH", "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH/BASELINE — measured numbers

## Scaling efficiency (north_rule: N vs 4N; sandbox stand-in local[{args.low}] vs local[{args.high}])

Protocol: same job (`spark-submit --py-files engine.zip
hastl_spark/plans/rollup_job.py`), same pre-generated deterministic input
(`sequences_{args.scale}`: skewed sources, salting ON, token invariant ON),
shuffle partitions scaled with cores, input/outputs/shuffle on tmpfs
(the sandbox block device throttles; on a real cluster IO scales with
executors), 1 in-JVM warmup + {args.runs} timed executions per config,
statistic = {'PAIRED-INTERLEAVED: configs alternate high,low,high,low so each ratio compares adjacent-in-time runs — this host drifts >2x over the minutes a sequential protocol takes, which mixes host states into the ratio; efficiency = median of per-pair ratios' if pairs else 'min (least-interference sample on this shared, noisy VM — identical configs vary up to 2x run-to-run here)'}.

| parallelism | walls (s) | min wall (s) | median wall (s) |
|---|---|---|---|
| local[{args.low}] | {lo['walls_s']} | {lo['min_wall_s']} | {lo['median_wall_s']} |
| local[{args.high}] | {hi['walls_s']} | {hi['min_wall_s']} | {hi['median_wall_s']} |

{chr(10).join(f"- pair {i}: local[{args.high}] {pr['high_wall_s']}s vs local[{args.low}] {pr['low_wall_s']}s -> speedup {pr['speedup']}x, efficiency {pr['efficiency']}" for i, pr in enumerate(pairs)) if pairs else ''}

**speedup {args.low}->{args.high}: {report['speedup_min']}x — scaling
efficiency {report['scaling_efficiency']} (target >= 0.8){', best pair ' + str(report['efficiency_best_pair']) if pairs else ''}.**

## Hardware calibration (what this VM can express at all)

Aggregate throughput of N independent CPU-burn processes:
{args.low} procs = {calib[args.low]:,} loops/s, {args.high} procs =
{calib[args.high]:,} loops/s -> the HOST delivers only
**{calib['ceiling']}** of ideal {args.high // args.low}x scaling at these
widths (frequency scaling + shared memory bandwidth + co-tenant noise).
Engine efficiency normalized to that ceiling:
**{report['efficiency_vs_hardware_ceiling']}**.

Confs pinned: AQE on, Arrow on, UTC, driver-memory 16g, parquet vectored
IO off (shared-pool serialization on local fs, see hastl_spark/session.py),
spark.sql.shuffle.partitions = cores.
""")
    print("wrote BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
