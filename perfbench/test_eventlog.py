"""Pins the event-log parser on a tiny captured log.

``python -m pytest perfbench/test_eventlog.py`` runs the test;
``python perfbench/test_eventlog.py`` re-captures the fixture from a
local[2] session (a gap-fill-shaped and a chunk-shaped grouped map, one
grouped map known only by its commit-span name, and a plain aggregation),
trimmed to the fields the parser reads.
"""

from __future__ import annotations

import json
import os

import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "testdata", "eventlog_tiny.jsonl")


def test_parse_tiny_log():
    log = eventlog.parse(FIXTURE)
    by_desc = {}    # AQE runs each query stage as its own job
    for j in log.jobs.values():
        by_desc.setdefault(j.description, []).append(j)
    assert set(by_desc) >= {"gapfill", "chunks", "plain", "op0:commit:gapfill_1m"}
    for desc, kind in (("gapfill", "gapfill"), ("chunks", "chunks"),
                       ("op0:commit:gapfill_1m", "gapfill")):
        stages = eventlog.stages_of(log, by_desc[desc])
        s = eventlog.udf_summary(stages, kind)
        assert s["tasks"] == 2
        assert s["rows_in"] == 6            # rows shuffled into the UDF
        assert s["python_s"] > 0 and s["arrow_bytes"] > 0
        assert s["task_skew"] >= 1.0
        other = "chunks" if kind == "gapfill" else "gapfill"
        assert eventlog.udf_summary(stages, other)["tasks"] == 0
    plain = eventlog.stages_of(log, by_desc["plain"])
    assert plain and all(s.kind is None for s in plain)
    assert sum(s.shuffle_write_bytes for s in plain) > 0
    t0 = min(j.submit_ms for j in log.jobs.values())
    t1 = max(j.submit_ms for j in log.jobs.values()) + 1
    assert len(eventlog.jobs_in(log, t0, t1)) == len(log.jobs)


def _trim_plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"],
            "simpleString": node["simpleString"][:400],
            "metrics": [{"name": m["name"], "accumulatorId": m["accumulatorId"]}
                        for m in node["metrics"]],
            "children": [_trim_plan(c) for c in node["children"]]}


def _trim(ev: dict) -> dict | None:
    name = ev["Event"]
    if "sparkPlanInfo" in ev:
        return {"Event": name, "sparkPlanInfo": _trim_plan(ev["sparkPlanInfo"])}
    if name == "SparkListenerJobStart":
        desc = (ev.get("Properties") or {}).get("spark.job.description")
        return {"Event": name, "Job ID": ev["Job ID"],
                "Submission Time": ev["Submission Time"],
                "Stage IDs": ev["Stage IDs"],
                "Properties": {"spark.job.description": desc}}
    if name == "SparkListenerTaskEnd":
        return {"Event": name, "Stage ID": ev["Stage ID"], "Task Metrics": {
            "Executor Run Time": ev["Task Metrics"]["Executor Run Time"]}}
    if name == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        return {"Event": name, "Stage Info": {
            "Stage ID": si["Stage ID"], "Number of Tasks": si["Number of Tasks"],
            "Accumulables": [{"ID": a["ID"], "Name": a["Name"], "Value": a["Value"]}
                             for a in si["Accumulables"]]}}
    return None


def capture(work: str) -> None:
    import pandas as pd
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + work)
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(3)] + [("b", i, 1.0) for i in range(3)],
        "source string, b long, v double").repartition(2, "source")
    sc = spark.sparkContext

    def fill(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(seasonal=pdf["v"] * 0.5)[["source", "b", "seasonal"]]

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"source": [pdf["source"].iloc[0]],
                             "blob": [pdf["v"].to_numpy().tobytes()]})

    sc.setJobDescription("gapfill")
    df.groupBy("source").applyInPandas(
        fill, "source string, b long, seasonal double").collect()
    sc.setJobDescription("chunks")
    df.groupBy("source").applyInPandas(enc, "source string, blob binary").collect()
    # a node whose schema names no kind: classified by the span
    sc.setJobDescription("op0:commit:gapfill_1m")
    df.groupBy("source").applyInPandas(
        lambda pdf: pdf[["source", "b"]], "source string, b long").collect()
    sc.setJobDescription("plain")
    df.groupBy("source").count().collect()
    spark.stop()

    with open(FIXTURE, "w") as out:
        for f in eventlog.log_files(work):
            with open(f) as fh:
                for line in fh:
                    ev = _trim(json.loads(line))
                    if ev is not None:
                        out.write(json.dumps(ev, separators=(",", ":")) + "\n")


if __name__ == "__main__":
    import tempfile

    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        capture(d)
