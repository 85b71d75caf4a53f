"""Steadiness check: two interleaved sets of runs of each workload on the
same code, one seed per run.

    python3 perfbench/steady.py                          # 2 sets x 10 seeds, every workload
    python3 perfbench/steady.py --workloads layout_mix --runs 5 --sets 1

For every end-to-end metric it prints each set's median and quartiles
(``statistics.quantiles(values, n=4)``), the spread (q3 - q1) / median
against the metric's bound from BENCHMARK.json, and how far the second
set's median is worse than the first's.  A spread is flagged ``WIDE``
when it exceeds a third of the bound and ``OVER`` when it exceeds the
bound (``setup_s`` is held to the median comparison only).  The raw runs
go to .perfbench_work/steady/.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = ROOT / "perfbench" / "run.py"


def one_run(workload: str, seed: int, seconds: int) -> dict | None:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, cwd=ROOT,
    )
    lines = proc.stdout.strip().splitlines()
    took = time.perf_counter() - t0
    if proc.returncode != 0 or not lines:
        print(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", flush=True)
        return None
    res = json.loads(lines[-1])
    res["run_s"] = took
    if len(lines) > 1 and lines[-2].startswith('{"info"'):
        res["info"] = json.loads(lines[-2])["info"]
    print(f"{workload:16s} seed {seed:4d} {took:6.1f}s  "
          + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10, help="runs per set")
    ap.add_argument("--sets", type=int, default=2, choices=(1, 2))
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    runs: dict[tuple[str, int], list[dict]] = {}
    t_all = time.perf_counter()
    for i in range(args.runs):
        for wl in args.workloads:
            order = range(args.sets) if i % 2 == 0 else reversed(range(args.sets))
            for s in order:
                seed = args.first_seed + s * args.runs + i
                res = one_run(wl, seed, args.seconds)
                if res is None:
                    return 1
                runs.setdefault((wl, s), []).append(res)
    total = time.perf_counter() - t_all

    out_dir = ROOT / ".perfbench_work" / "steady"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"steady-{int(time.time())}.json").write_text(
        json.dumps({f"{wl}/{s}": r for (wl, s), r in runs.items()}, indent=1)
    )
    worst = 0
    print(f"\n{len(sum(runs.values(), []))} runs in {total:.0f}s\n")
    print(f"{'workload':16s} {'metric':14s} {'set':>3s} {'median':>11s} {'q1':>11s} "
          f"{'q3':>11s} {'spread':>7s} {'bound':>6s}  flag")
    for wl in args.workloads:
        for name, spec in bounds.items():
            meds = []
            for s in range(args.sets):
                vals = [r["metrics"][name]["value"] for r in runs[(wl, s)]]
                med, q1, q3, sp = spread(vals)
                meds.append(med)
                flag = ""
                if name != "setup_s":
                    if sp > spec["bound"]:
                        flag, worst = "OVER", max(worst, 2)
                    elif sp > spec["bound"] / 3:
                        flag, worst = "WIDE", max(worst, 1)
                print(f"{wl:16s} {name:14s} {s:3d} {med:11.4f} {q1:11.4f} {q3:11.4f} "
                      f"{sp:7.2%} {spec['bound']:6.2f}  {flag}")
            if len(meds) == 2 and meds[0]:
                worse = (meds[1] - meds[0]) / meds[0]
                if spec["better"] == "higher":
                    worse = -worse
                flag = "OVER" if worse > spec["bound"] else ""
                worst = max(worst, 2 if flag else 0)
                print(f"{'':16s} {name:14s} second median worse by {worse:+.2%} "
                      f"(bound {spec['bound']:.2f}) {flag}")
    return 1 if worst == 2 else 0


if __name__ == "__main__":
    sys.exit(main())
