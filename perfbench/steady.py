"""Steadiness check: run workloads several times with different seeds and
print, for every end-to-end metric, the median, the quartiles and the
spread (interquartile range as a share of the median) against the metric's
bound in ``BENCHMARK.json``.

    python3 perfbench/steady.py --runs 10 --sets 2

Every workload of ``BENCHMARK.json`` runs ``--runs`` times per set for
``run_seconds``; run ``r`` of set ``s`` uses seed ``1000 * (s + 1) + r``.
With ``--sets 2`` the second median of each metric is also compared with the
first: it must not be worse by more than the bound. A spread under a third
of the bound is reported as ``steady``.
Raw values are written to ``.perfbench_out/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = cmd + [
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    t0 = time.perf_counter()
    out = subprocess.run(
        args, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600
    )
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def _spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    bench = json.load(open("BENCHMARK.json"))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=1)
    args = p.parse_args()
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    raw: dict = {}
    ok = True
    for workload in (w["name"] for w in bench["workloads"]):
        medians = []
        for s in range(args.sets):
            runs = []
            for r in range(args.runs):
                seed = 1000 * (s + 1) + r
                res = _run(bench["command"], workload, seed, bench["run_seconds"])
                runs.append(res)
                print(
                    f"{workload} set {s} seed {seed}: correct={res['correct']} "
                    f"wall {res['wall_s']:.1f} s",
                    file=sys.stderr,
                    flush=True,
                )
            raw[f"{workload}/{s}"] = runs
            ok &= all(r["correct"] for r in runs)
            set_medians = {}
            for name, m in metrics.items():
                vals = [r["metrics"][name]["value"] for r in runs]
                med, q1, q3, spread = _spread(vals)
                set_medians[name] = med
                bound = m["bound"]
                verdict = (
                    "steady" if spread < bound / 3
                    else "within bound" if spread <= bound
                    else "TOO WIDE"
                )
                ok &= verdict != "TOO WIDE"
                print(
                    f"{workload:15s} set {s} {name:15s} median {med:12.4f} {m['unit']:7s}"
                    f" q1 {q1:12.4f} q3 {q3:12.4f} spread {spread:6.3f}"
                    f" bound {bound:.2f} {verdict}"
                )
            walls = [r["wall_s"] for r in runs]
            print(f"{workload:15s} set {s} wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
            medians.append(set_medians)
        for s in range(1, len(medians)):
            for name, m in metrics.items():
                a, b = medians[0][name], medians[s][name]
                worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
                verdict = "ok" if worse <= m["bound"] else "DRIFT"
                ok &= verdict == "ok"
                print(f"{workload:15s} set {s} vs 0 {name:15s} worse by {worse:+.3f} {verdict}")
    os.makedirs(".perfbench_out", exist_ok=True)
    path = os.path.join(".perfbench_out", f"steady-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(raw, f)
    print(f"raw values: {path}; {'all within bounds' if ok else 'NOT within bounds'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
