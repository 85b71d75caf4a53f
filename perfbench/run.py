"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload, fresh processes

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it records the environment, the input digest and the
run's details.  Files go to ``.perfbench_work/`` in the checkout; the
traced run writes its ledger and spans to ``.perfbench_work/ledger/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402

WORKLOADS = ("corpus_extract", "corpus_bucketed", "layout_mix")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "pages_per_s": "1/s",
    "page_ms_p50": "ms",
    "page_ms_tail": "ms",
    "peak_rss_mb": "MB",
    "ok_share": "share",
    "exact_share": "share",
}
PER_LAYER = {
    "spark.scan.mb": "MB",
    "spark.exchange.mb": "MB",
    "spark.ocr.tasks": "count",
    "spark.ocr.task_s": "s",
    "spark.ocr.task_p50_s": "s",
    "spark.ocr.task_max_s": "s",
    "spark.udf.init_s": "s",
    "spark.udf.run_s": "s",
    "udf.pages": "count",
    "udf.page_s": "s",
    "udf.useful_share": "share",
    "spark.stitch.task_s": "s",
    "spark.assemble.task_s": "s",
    "spark.sink.task_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.noop_task_ms": "ms",
    "decode.ms_per_page": "ms",
    "layout.ms_per_page": "ms",
    "layout.otsu.ms_per_page": "ms",
    "layout.ccl.calls_per_page": "count",
    "layout.ccl.ms_per_page": "ms",
    "layout.linefind.calls_per_page": "count",
    "layout.linefind.ms_per_page": "ms",
    "recog.ms_per_page": "ms",
    "recog.forward.calls_per_page": "count",
    "recog.forward.ms_per_page": "ms",
    "recog.ctc.ms_per_page": "ms",
    "trace.overhead_share": "share",
    "trace.reconcile_gap": "share",
    "box.calib_ms": "ms",
    "box.steal_pct": "%",
    "box.load1": "count",
}


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    if not (common.ROOT / "tesseract_spark" / "__init__.py").is_file():
        common.log("perfbench: tesseract_spark is not in this checkout; nothing to measure")
        return 2
    info: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace)}
    info["environment"] = common.environment_record()

    def report(key, value):
        info[key] = value

    box = common.BoxProbe()
    t0 = time.perf_counter()
    if workload == "layout_mix":
        from perfbench import layout

        res = layout.run(seed, seconds, trace, report)
    else:
        from perfbench import corpus

        res = corpus.run(workload, seed, seconds, trace, report)
    info["run_s"] = time.perf_counter() - t0
    box_metrics = box.finish()
    info["box"] = box_metrics

    if trace:
        ledger = res["ledger"]
        page = ledger["page_layers"]
        res["metrics"]["trace.reconcile_gap"] = page["reconcile"]["gap_share"]
        res["metrics"].update(box_metrics)
        absent = [k for k in PER_LAYER if k not in res["metrics"]]
        ledger.update({"workload": workload, "seed": seed, "not_applicable": absent,
                       "metrics": res["metrics"], "environment": info["environment"]})
        out = common.WORK / "ledger"
        out.mkdir(parents=True, exist_ok=True)
        stem = out / f"{workload}-seed{seed}"
        Path(f"{stem}.json").write_text(json.dumps(ledger, indent=1, default=str))
        res["tracer"].write_spans(Path(f"{stem}.spans.jsonl"))
        info["ledger"] = str(Path(f"{stem}.json").relative_to(common.ROOT))
        if not page["reconcile"]["ok"]:
            common.log(f"perfbench: layer self times miss the traced wall by "
                       f"{page['reconcile']['gap_share']:.3%}")
        names = PER_LAYER
    else:
        names = END_TO_END

    metrics = {k: {"value": float(res["metrics"].get(k, 0.0)), "unit": u} for k, u in names.items()}
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    for k, m in metrics.items():
        common.log(f"  {workload:16s} {k:32s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def run_all(seed: int, seconds: float, trace: bool) -> int:
    """Each workload in a fresh process; the last line merges them as
    ``<workload>.<metric>``."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for wl in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload", wl,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
            capture_output=True, text=True, cwd=common.ROOT,
        )
        sys.stderr.write(proc.stderr[-4000:])
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or not lines:
            common.log(f"perfbench: {wl} exited {proc.returncode} without a result")
            return proc.returncode or 2
        res = json.loads(lines[-1])
        code = code or proc.returncode
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, m in res["metrics"].items():
            merged["metrics"][f"{wl}.{k}"] = m
    print(json.dumps(merged), flush=True)
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    common.pin_environment()
    if args.workload == "all":
        return run_all(args.seed, args.seconds, bool(args.trace))
    return run_one(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
