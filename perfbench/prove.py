"""Run the benchmark over several seeds and report each end-to-end
metric's median and spread (quartile distance over median) against its
bound from BENCHMARK.json.

    python3 perfbench/prove.py --seeds 1-10 [--workloads build_html serve_zipf]
                               [--against .perfbench_out/prove-<stamp>.jsonl]

``--against`` compares this set's medians with an earlier set's, the
way a regression check compares a change with its parent. Results are
appended to ``.perfbench_out/prove-<stamp>.jsonl``.
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


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / (statistics.median(values) or 1.0)


def summarize(rows: list[dict], bench: dict) -> dict:
    out = {}
    for w in sorted({r["workload"] for r in rows}):
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rows if r["workload"] == w]
            out[(w, m["name"])] = (statistics.median(vals), spread(vals) if len(vals) > 1 else 0.0,
                                   m["bound"], m["better"], len(vals))
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--against")
    args = ap.parse_args()

    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    log_path = os.path.join(ROOT, ".perfbench_out", f"prove-{int(time.time())}.jsonl")
    rows = []
    for w in args.workloads:
        for s in seeds(args.seeds):
            t = time.time()
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
            wall = time.time() - t
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            info = json.loads(lines[-2][len("# run-info "):])
            steal = info["named"]["steal_share"]["value"]
            op_ms = info["named"]["op_p50_ms"]["value"]
            row = {"workload": w, "seed": s, "wall_s": wall, "steal_share": steal,
                   "op_p50_ms": op_ms, **res}
            rows.append(row)
            with open(log_path, "a") as f:
                f.write(json.dumps(row) + "\n")
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed {s} wall {wall:.0f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} steal={steal:.3f} "
                  f"op_p50_ms={op_ms:.0f} {vals}", flush=True)

    cur = summarize(rows, bench)
    prev = None
    if args.against:
        with open(args.against) as f:
            prev = summarize([json.loads(x) for x in f], bench)
    print(f"\nresults: {log_path}")
    for (w, m), (med, spr, bound, better, n) in cur.items():
        line = (f"{w:14s} {m:18s} n={n:2d} median={med:10.4g} spread={spr:.3f} "
                f"bound={bound} {'ok' if spr < bound / 3 else 'WIDE'}")
        if prev and (w, m) in prev:
            old = prev[(w, m)][0]
            worse = (med - old) / old if better == "lower" else (old - med) / old
            line += f" vs-prev worse-by={worse:+.3f} {'ok' if worse <= bound else 'REGRESSED'}"
        print(line)
    print(f"total wall {sum(r['wall_s'] for r in rows):.0f}s over {len(rows)} runs")
    return 0


if __name__ == "__main__":
    sys.exit(main())
