"""Steadiness check: run each workload with several seeds and print each
end-to-end metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py [--trace]

Run from the repository root. Every workload in BENCHMARK.json runs
with seeds 1 to 10. The spread is (Q3 - Q1) / median over the runs,
with quartiles from ``statistics.quantiles(values, n=4)``; a
metric is steady when its spread stays below a third of its bound
(``setup_s`` is held only to its median). With ``--trace`` one traced
run per workload follows, printing its per-layer metrics and the
tracing overhead: the traced latency minus the untraced median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(1, 11)


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.monotonic() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    host = next((json.loads(x[len("# host "):]) for x in lines
                 if x.startswith("# host ")), {})
    return {"host": host, "wall_s": wall, **json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--trace", action="store_true")
    a = p.parse_args(argv)
    seconds = spec["run_seconds"]
    steady = True
    for wl in (w["name"] for w in spec["workloads"]):
        runs = []
        for seed in SEEDS:
            r = run_once(wl, seed, seconds, False)
            runs.append(r)
            print(f"# {wl} seed {seed}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                  + f" calib_ms={r['host'].get('host_calib_md5_1m_ms')}"
                  + f" wall_s={r['wall_s']:.1f}", flush=True)
        print(f"{wl}: {sum(r['failed'] for r in runs)} failed of "
              f"{sum(r['attempted'] for r in runs)} attempted, oracle "
              + ("MATCH" if all(r["correct"] for r in runs) else "MISMATCH"))
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            ok = m["name"] == "setup_s" or sp < m["bound"] / 3
            steady &= ok
            print(f"  {m['name']:<18} median {med:.4g} {m['unit']}  Q1 {q1:.4g}  "
                  f"Q3 {q3:.4g}  spread {sp:.1%} of bound {m['bound']:.0%}  "
                  + ("ok" if ok else "TOO WIDE"))
        if a.trace:
            t = run_once(wl, SEEDS[0], seconds, True)
            lat = statistics.median(r["metrics"]["latency_p50_s"]["value"] for r in runs)
            traced = t["metrics"]["trace.latency_p50_s"]["value"]
            print(f"  traced run: latency_p50_s {traced:.4g} s, tracing overhead "
                  f"{traced - lat:+.4g} s ({(traced - lat) / lat:+.1%})")
            for k, v in t["metrics"].items():
                print(f"    {k} = {v['value']:.6g} {v['unit']}")
    return 0 if steady else 1


if __name__ == "__main__":
    sys.exit(main())
