"""Per-layer metrics of the traced run, named by module.

Every metric is the median over the run's ops unless noted. Jobs belong to
the op whose wall-clock window they were submitted in (ops run back to
back from one client, so the windows do not overlap).
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

import eventlog
import inputs
import micro as micro_mod
from workloads import TABLES

UDF_FIELDS = {"tasks": "count", "executor_run_s": "s", "python_s": "s",
              "python_boot_s": "s", "arrow_bytes": "B", "task_skew": "ratio"}

UNITS = {
    "rollup_job.rollup_1m_scan_s": "s",
    "rollup_job.merge_1m_s": "s",
    "rollup_job.gapfill_cascade_s": "s",
    "rollup_job.chunks_s": "s",
    **{f"tables.commit_s.{t}": "s" for t in TABLES},
    "tables.commit_s.growth": "ratio",
    "tables.bytes_written": "B",
    "tables.files_written": "count",
    "tables.manifest_bytes": "B",
    "tables.snapshots": "count",
    "retention.run_s": "s",
    "retention.dropped_partitions": "count",
    "retention.rewritten_partitions": "count",
    **{f"gapfill.{k}": u for k, u in UDF_FIELDS.items()},
    "gapfill.chunks_recomputed": "count",
    "gapfill.kernel_share": "ratio",
    **{f"chunks.{k}": u for k, u in UDF_FIELDS.items()},
    "chunks.windows_recomputed": "count",
    "chunks.codec_share": "ratio",
    "kernel.stl_pts_per_s": "pts/s",
    "gorilla.encode_pts_per_s": "pts/s",
    "gorilla.decode_pts_per_s": "pts/s",
    "gorilla.bits_per_point": "bit/pt",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.cpu_busy_share": "ratio",
    "spark.peak_rss_mb": "MB",
    "trace.op_wall_s.p50": "s",
}


def written_since(path: str, t0: float) -> list[int]:
    """Sizes of the files under ``path`` written at or after epoch ``t0``:
    an op's new data files plus the manifests it republished."""
    sizes = []
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            if st.st_mtime >= t0:
                sizes.append(st.st_size)
    return sizes


def micro(wl) -> dict:
    """Kernel and codec micro-timings on the workload's own 1m tier."""
    pdf = (wl.table("tier_1m").read(wl.spark)
           .select("source", "bucket", "sum_n_tok").toPandas())
    return micro_mod.measure(pdf)


def _retention_numbers(result: dict) -> tuple[int, int]:
    dropped = sum(r.get("dropped_partitions", 0) for r in result.values())
    rewritten = sum(len(r.get("rewritten_partitions", []))
                    for r in result.values())
    return dropped, rewritten


def per_layer(work: str, wl, tracer, windows, recs, walls, cores,
              extra) -> dict:
    log = eventlog.parse(os.path.join(work, "eventlog"))
    n_sources = inputs.SHAPE["n_sources"]
    mk = extra["micro"]
    rows = defaultdict(list)      # metric -> per-op values
    commit_totals = []
    for i, ((t0, t1), rec, wall) in enumerate(zip(windows, recs, walls)):
        sw = rec["summary"]["stage_walls"]
        rows["rollup_job.rollup_1m_scan_s"].append(sw.get("rollup_1m_scan", 0.0))
        rows["rollup_job.merge_1m_s"].append(sw.get("merge_1m", 0.0))
        rows["rollup_job.gapfill_cascade_s"].append(sw.get("gapfill+cascade", 0.0))
        rows["rollup_job.chunks_s"].append(sw.get("chunks", 0.0))

        per_table = defaultdict(float)
        for name, _, s0, s1 in tracer.of_op(i, "commit:"):
            per_table[name.split(":", 1)[1]] += s1 - s0
        for t in TABLES:
            rows[f"tables.commit_s.{t}"].append(per_table[t])
        commit_totals.append(sum(per_table.values()))
        rows["tables.bytes_written"].append(sum(rec["files_written"]))
        rows["tables.files_written"].append(len(rec["files_written"]))

        jobs = eventlog.jobs_in(log, t0 * 1e3, t1 * 1e3)
        stages = eventlog.stages_of(log, jobs)
        rows["spark.jobs"].append(len(jobs))
        rows["spark.stages"].append(len(stages))
        rows["spark.tasks"].append(sum(s.num_tasks for s in stages))
        rows["spark.shuffle_write_bytes"].append(
            sum(s.shuffle_write_bytes for s in stages))
        rows["spark.spill_bytes"].append(sum(s.spill_bytes for s in stages))
        rows["spark.cpu_busy_share"].append(
            sum(s.run_ms for s in stages) / 1e3 / (wall * cores))

        gap = eventlog.udf_summary(stages, "gapfill")
        enc = eventlog.udf_summary(stages, "chunks")
        for k in UDF_FIELDS:
            rows[f"gapfill.{k}"].append(gap[k])
            rows[f"chunks.{k}"].append(enc[k])
        # unchunked gap-fill fits each source's whole series as one chunk
        rows["gapfill.chunks_recomputed"].append(
            rec.get("gapfill_chunks_recomputed", n_sources))
        rows["chunks.windows_recomputed"].append(rec["chunks"]["rows_in"])
        # estimated kernel/codec seconds for the points this op fed the
        # UDFs, over the UDFs' measured Python time
        rows["gapfill.kernel_share"].append(
            gap["rows_in"] / mk["kernel.stl_pts_per_s"] / gap["python_s"]
            if gap["python_s"] else 0.0)
        rows["chunks.codec_share"].append(
            enc["rows_in"] / mk["gorilla.encode_pts_per_s"] / enc["python_s"]
            if enc["python_s"] else 0.0)

    passes = []
    for name, op, s0, s1 in tracer.spans:
        if name == "retention":
            res = (recs[op]["retention"] if op < len(recs)
                   else extra["retention"])
            passes.append((s1 - s0, *_retention_numbers(res)))
    for k, v in zip(("run_s", "dropped_partitions", "rewritten_partitions"),
                    zip(*passes)):
        rows[f"retention.{k}"] = list(v)

    out = {k: statistics.median(v) for k, v in rows.items()}
    q = max(1, len(commit_totals) // 4)
    first = statistics.median(commit_totals[:q])
    out["tables.commit_s.growth"] = (
        statistics.median(commit_totals[-q:]) / first if first else 1.0)
    out["tables.manifest_bytes"] = extra["manifest_bytes"]
    out["tables.snapshots"] = extra["snapshots"]
    out.update(mk)
    out["spark.peak_rss_mb"] = extra["peak_rss_mb"]
    out["trace.op_wall_s.p50"] = statistics.median(walls)
    return {k: out[k] for k in UNITS}
