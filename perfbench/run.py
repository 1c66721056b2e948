"""Repo benchmark: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``, run from the root of a checkout.

One driver process, one closed-loop client, ``local[<usable cores>]``. It
generates the seeded input, sets up (session, input, warm-up), runs the
workload's op back to back for ``--seconds``, checks the outputs, and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics (from Spark's event log and spans
around the library calls) with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_wall_s.p50": "s",
    "points_per_s": "pts/s",
    "stored_bytes_per_point": "B/pt",
    "stored_files": "count",
}


def git_commit(root: str) -> str:
    """HEAD of the checkout's own .git, read directly (never a parent's)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        p = os.path.join(root, ".git", name)
        if os.path.exists(p):
            with open(p) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def start_session(cpus: int, work: str, trace: bool):
    from hastl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a 2 GiB heap instead of the session's 8 GiB default: the inputs
        # need far less, and the host's memory is shared
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(cpus, app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "hastl_spark")):
        print(f"perfbench: no hastl_spark package at {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    # Python workers import hastl_spark too: they inherit this env via the JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def trace_overhead(args, op_p50: float) -> dict | None:
    """Untraced runs record their op median per (workload, seed); a traced
    run of the same pair reports its own against it."""
    d = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-s{args.seed}.json")
    if not args.trace:
        with open(path, "w") as f:
            json.dump({"op_wall_s.p50": op_p50}, f)
        return None
    if not os.path.exists(path):
        return None
    with open(path) as f:
        untraced = json.load(f)["op_wall_s.p50"]
    return {"untraced_op_wall_s.p50": untraced, "traced_op_wall_s.p50": op_p50,
            "overhead_share": op_p50 / untraced - 1.0}


def run(args, work: str) -> int:
    import pyspark

    import inputs
    import layers
    from spans import RssSampler, Tracer, dir_files
    from workloads import TABLES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    walls, windows, recs, extra = [], [], [], {}
    op_error, check_errors = None, []
    with RssSampler() as rss:
        spark = start_session(cpus, work, bool(args.trace))
        marks = [time.perf_counter()]
        try:
            input_path = os.path.join(work, "input")
            inputs.generate(spark, args.seed).write.parquet(input_path)
            marks.append(time.perf_counter())
            wl = WORKLOADS[args.workload](spark, work, input_path)
            wl.setup()
            marks.append(time.perf_counter())
            setup_s = marks[-1] - T_START

            tracer = Tracer(spark) if args.trace else None
            if tracer:
                tracer.install()
                wl.span = tracer.span
            t_end = time.perf_counter() + args.seconds
            while wl.has_next() and (not walls or time.perf_counter() < t_end):
                i = len(walls)
                if tracer:
                    tracer.op = i
                t0, e0 = time.perf_counter(), time.time()
                try:
                    rec = wl.op(i)
                except Exception as e:  # counted in `failed`; the loop stops
                    op_error = f"op {i}: {type(e).__name__}: {e}"
                    break
                walls.append(time.perf_counter() - t0)
                windows.append((e0, time.time()))
                if tracer:
                    rec["files_written"] = layers.written_since(wl.out, e0)
                recs.append(rec)
                if len(walls) == 1:
                    # stored state after the first op, untimed: every
                    # tier_maintain op adds files, so the end state would
                    # depend on how many ops fit in --seconds
                    files = dir_files(wl.out)
                    stored_points = wl.stored_points()
                    snapshots = sum(wl.table(t).snapshot() for t in TABLES)

            if walls:
                check_errors = wl.check()
            if tracer and walls:
                extra["manifest_bytes"] = sum(
                    s for p, s in files.items()
                    if os.path.basename(p) == "_manifest.json")
                extra["snapshots"] = snapshots
                extra["micro"] = layers.micro(wl)
                if not tracer.of_op(0, "retention"):
                    # the ops never age data out: one traced retention pass
                    # after the checks gives the layer its numbers
                    tracer.op = len(walls)
                    with tracer.span("retention"):
                        extra["retention"] = wl.retention()
                tracer.uninstall()
        finally:
            stop_session(spark)

    attempted = len(walls) + (op_error is not None)
    failed = min(attempted, (op_error is not None) + bool(check_errors))
    prov = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": git_commit(ROOT), "nproc": cpus,
        "spark": pyspark.__version__, "python": sys.version.split()[0],
        "measured_at": datetime.datetime.now(datetime.timezone.utc)
        .isoformat(timespec="seconds"),
        "setup_phases_s": dict(zip(
            ("session", "input", "warmup"),
            (round(b - a, 3) for a, b in zip([T_START] + marks, marks)))),
        "ops": len(walls), "op_walls_s": [round(w, 3) for w in walls],
        "failed_share": failed / attempted,
        "errors": ([op_error] if op_error else []) + check_errors,
    }
    metrics = {}
    if walls:
        p50 = statistics.median(walls)
        if args.trace:
            extra["peak_rss_mb"] = rss.peak / 2**20
            metrics = layers.per_layer(work, wl, tracer, windows, recs, walls,
                                       cpus, extra)
        else:
            pts = statistics.median(r["summary"]["rolled_up_points"]
                                    for r in recs)
            metrics = {
                "setup_s": setup_s,
                "op_wall_s.p50": p50,
                "points_per_s": pts / p50,
                "stored_bytes_per_point": sum(files.values()) / stored_points,
                "stored_files": len(files),
            }
        prov["trace_overhead"] = trace_overhead(args, p50)
    units = dict(E2E_UNITS, **layers.UNITS)
    print("perfbench " + json.dumps(prov))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
