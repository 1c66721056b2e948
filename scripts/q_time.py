"""Per-query isolation harness (guide §1.4): times individual declared
queries through the noop sink at $SPARK_GRAFT_SF_DIR (default: the sf0.1
testdata, as in bench.py) on local[$SPARK_GRAFT_CPUS] (default: the cores
this process may run on), N repeats, and can dump .explain("formatted") to
a file. bench.py is frozen for measurement; this is the iteration loop.

usage: python scripts/q_time.py [-n N] [--explain DIR] query [query ...]
"""
from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="write <query>.txt explain files into this dir")
    ap.add_argument("--suffix", default="", help="explain filename suffix")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from hastl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    spark = get_spark(cpus, app_name="q_time")
    qs = entrymod.queries()

    # warm the JVM / python workers
    qs["rollup_1m"](spark, sf_dir).count()

    for name in args.queries:
        fn = qs[name]
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, sf_dir)
            p = os.path.join(args.explain, f"{name}{args.suffix}.txt")
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"explain -> {p}")
        walls = []
        for _ in range(args.n):
            spark.sparkContext.setJobDescription(f"q_time:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
        print(f"{name:26s} min={min(walls):7.3f}  samples={walls}")


if __name__ == "__main__":
    main()
