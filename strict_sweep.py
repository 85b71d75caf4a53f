"""One-command strict oracle sweep — the driver's CORRECTNESS gate,
rehearsed locally at any scale factor.

Runs EVERY `__spark_entry__.queries()` entry against its
`oracle_sql()` DuckDB string and compares sorted-columns /
sorted-rows / string-rendered frames — STRICTER than
tests/test_oracle_parity.py (which float-coerces and so can miss
Decimal / HUGEINT / NULL-repr divergences).

Usage (from the repo root — executors must import tesseract_spark):

    python strict_sweep.py                 # sf0.01, the driver's SF
    python strict_sweep.py /root/testdata/sf0.001
    make sweep                             # same as the first form

Exit status 0 = every registry query strict-green; 1 otherwise.
Queries without an oracle (iterative/stateful, driver checks
rows-only) are reported as SKIP.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # round floats BEFORE string rendering so 1e-15 formatting noise
    # doesn't fail the sweep, but Decimal/int divergences still do
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    df = df.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main(sf_dir: str) -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = E.queries(), E.oracle_sql()
    failed, skipped = [], []
    for name in sorted(qs):
        t0 = time.time()
        if name not in oracles:
            skipped.append(name)
            print(f"SKIP  {name} (no oracle: rows-only gate)")
            continue
        try:
            got = normalize(qs[name](spark, sf_dir).toPandas())
            exp = normalize(con.sql(oracles[name]).df())
            ok = list(got.columns) == list(exp.columns) and got.equals(exp)
        except Exception as e:  # noqa: BLE001 — sweep must report, not die
            ok = False
            print(f"ERROR {name}: {e}")
        dt = time.time() - t0
        if ok:
            print(f"OK    {name} ({len(got)} rows, {dt:.1f}s)")
        else:
            failed.append(name)
            print(f"FAIL  {name} ({dt:.1f}s)")
    print(
        f"\n{len(qs) - len(failed) - len(skipped)}/{len(qs)} strict-green, "
        f"{len(skipped)} rows-only-skipped, {len(failed)} FAILED "
        f"at {sf_dir}"
    )
    if failed:
        print("failed:", ", ".join(failed))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"))
