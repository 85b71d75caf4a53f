"""Spark layer metrics read from Spark's own event log.

Jobs are selected by the ``perfbench.phase`` local property set around
the traced pass.  Each stage is labelled with the pipeline layers its
operators belong to (from the RDD scopes Spark records); a stage's task
time is charged to the first of stitch -> assemble -> sink that it runs,
and the ledger lists every stage with all of its layers.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

# RDD scope name prefix -> layer
SCOPE_LAYERS = (
    ("Scan", "scan"),
    ("Exchange", "exchange"),
    ("MapInPandas", "ocr"),
    ("Window", "stitch"),
    ("ObjectHashAggregate", "assemble"),
    ("SortAggregate", "assemble"),
    ("HashAggregate", "assemble"),
    ("WriteFiles", "sink"),
    ("Execute InsertIntoHadoopFsRelationCommand", "sink"),
)
# SQL metrics of the Python runner in the OCR stage, summed over tasks
PYTHON_METRICS = {
    "time to initialize Python workers": "spark.udf.init_s",
    "time to run Python workers": "spark.udf.run_s",
}


def _events(log_dir: Path):
    for f in sorted(p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _layers(stage_info: dict) -> list[str]:
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", ""))
    out = []
    for prefix, layer in SCOPE_LAYERS:
        if any(n.startswith(prefix) for n in names) and layer not in out:
            out.append(layer)
    return out


def spark_layer_metrics(log_dir: Path, phase: str, calib_phase: str) -> tuple[dict, list]:
    job_phase: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    stages: dict[int, dict] = {}
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job_phase[e["Job ID"]] = (e.get("Properties") or {}).get("perfbench.phase")
            for s in e.get("Stage IDs", []):
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            if e.get("Task End Reason", {}).get("Reason") == "Success":
                tasks[e["Stage ID"]].append(e)
        elif kind == "SparkListenerStageCompleted":
            stages[e["Stage Info"]["Stage ID"]] = e["Stage Info"]

    def phase_of(stage_id: int) -> str | None:
        return job_phase.get(stage_job.get(stage_id, -1))

    def duration_s(t: dict) -> float:
        info = t["Task Info"]
        return (info["Finish Time"] - info["Launch Time"]) / 1000.0

    m: dict[str, float] = defaultdict(float)
    for layer in ("stitch", "assemble", "sink"):
        m[f"spark.{layer}.task_s"] = 0.0  # 0: shares a stage with an earlier layer
    ocr_tasks: list[float] = []
    ledger = []
    jobs = {j for j, p in job_phase.items() if p == phase}
    for sid in sorted(stages):
        if phase_of(sid) != phase:
            continue
        info, ts = stages[sid], tasks.get(sid, [])
        layers = _layers(info)
        task_s = sum(duration_s(t) for t in ts)
        for t in ts:
            tm = t.get("Task Metrics") or {}
            m["spark.scan.mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6
            m["spark.exchange.mb"] += (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
        if "ocr" in layers:
            ocr_tasks.extend(duration_s(t) for t in ts)
            for acc in info.get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key:
                    m[key] += float(acc.get("Value", 0)) / 1000.0
        else:
            for layer in ("stitch", "assemble", "sink"):
                if layer in layers:
                    m[f"spark.{layer}.task_s"] += task_s
                    break
        m["spark.stages"] += 1
        ledger.append({"stage": sid, "layers": layers, "tasks": len(ts), "task_s": task_s})
    m["spark.jobs"] = float(len(jobs))
    m["spark.ocr.tasks"] = float(len(ocr_tasks))
    m["spark.ocr.task_s"] = sum(ocr_tasks)
    m["spark.ocr.task_p50_s"] = statistics.median(ocr_tasks) if ocr_tasks else 0.0
    m["spark.ocr.task_max_s"] = max(ocr_tasks, default=0.0)
    noop = [
        duration_s(t) * 1000.0
        for sid, ts in tasks.items()
        if phase_of(sid) == calib_phase and sid in stages and "ocr" in _layers(stages[sid])
        for t in ts
    ]
    m["spark.noop_task_ms"] = statistics.median(noop) if noop else 0.0
    return dict(m), ledger
