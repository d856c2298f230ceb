"""Steadiness and A/A tool: run one workload on several seeds back to back
(never in parallel) and report, per end-to-end metric, the median, the
quartiles and the quartile spread ÷ median next to the metric's bound.

    python3 hbench/steady.py --workload curate --seeds 1-10 --out a.json
    python3 hbench/steady.py --workload curate --seeds 11-20 --out b.json
    python3 hbench/steady.py --compare a.json b.json      # A/A: same commit twice
    python3 hbench/steady.py --workload curate --seeds 1 --trace   # + tracing overhead

A metric is steady when its spread is below a third of its bound. Two
sets agree when no median is worse than the other's by more than the
bound.
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


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    info = next(json.loads(x.split(" ", 1)[1]) for x in lines if x.startswith("hbench-info "))
    return {"seed": seed, "wall_s": time.time() - t0, "result": json.loads(lines[-1]),
            "info": info}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def summarize(runs: list[dict], bench: dict) -> dict:
    out = {}
    for m in bench["end_to_end"]:
        vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
        out[m["name"]] = {**spread(vals), "bound": m["bound"], "better": m["better"],
                          "values": vals}
    out["drift_ratio"] = spread([r["info"]["drift_ratio"] for r in runs])
    out["host_probe_s"] = spread([statistics.mean(r["info"]["host_probe_s"]) for r in runs])
    out["run_wall_s"] = spread([r["wall_s"] for r in runs])
    out["ops_per_run"] = spread([r["info"]["op_s"]["n"] for r in runs])
    for key in ("write_amp", "disk_growth_per_byte"):
        if key in runs[0]["info"]:
            out[key] = spread([r["info"][key] for r in runs])
    out["failed"] = sum(r["result"]["failed"] for r in runs)
    out["attempted"] = sum(r["result"]["attempted"] for r in runs)
    return out


def print_summary(s: dict) -> None:
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  steady")
    for name, v in s.items():
        if not isinstance(v, dict):
            continue
        bound = v.get("bound")
        ok = "" if bound is None else ("yes" if v["spread"] < bound / 3 else "NO")
        print(f"{name:<16}{v['median']:>12.4f}{v['q1']:>12.4f}{v['q3']:>12.4f}"
              f"{v['spread']:>9.3f}{'' if bound is None else bound:>7}  {ok}")
    print(f"checks: {s['failed']} failed of {s['attempted']}")


def compare(a: dict, b: dict) -> bool:
    ok = True
    for name, va in a["summary"].items():
        vb = b["summary"].get(name)
        if not isinstance(va, dict) or "bound" not in va or vb is None:
            continue
        change = (vb["median"] - va["median"]) / va["median"]
        worse = change if va["better"] == "lower" else -change
        agree = worse <= va["bound"]
        ok &= agree
        print(f"{name:<16}{va['median']:>12.4f}{vb['median']:>12.4f}{change:>+9.3f}"
              f"  bound {va['bound']}  {'agree' if agree else 'WORSE'}")
    return ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", action="store_true",
                   help="also make one traced run and report the tracing overhead")
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = p.parse_args(argv)
    if args.compare:
        a, b = (json.load(open(f)) for f in args.compare)
        return 0 if compare(a, b) else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for s in seeds(args.seeds):
        r = run_once(args.workload, s, bench["run_seconds"], 0)
        print(f"seed {s}: {r['wall_s']:.1f} s, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["result"]["metrics"].items())
              + f", drift={r['info']['drift_ratio']:.3f}, ops={r['info']['op_s']['n']}, "
              f"failed={r['result']['failed']}", flush=True)
        runs.append(r)
    summary = summarize(runs, bench)
    print_summary(summary)
    doc = {"workload": args.workload, "runs": runs, "summary": summary}
    if args.trace:
        t = run_once(args.workload, runs[0]["seed"], bench["run_seconds"], 1)
        traced = t["result"]["metrics"]["trace.op_wall_s"]["value"]
        untraced = summary["op_p50_s"]["median"]
        doc["trace"] = {"op_wall_s": traced, "overhead": traced / untraced - 1,
                        "unattributed_frac": t["info"]["unattributed_frac"],
                        "failed": t["result"]["failed"]}
        print(f"traced op p50 {traced:.3f} s vs untraced median {untraced:.3f} s: "
              f"overhead {doc['trace']['overhead']:+.1%}, unattributed "
              f"{doc['trace']['unattributed_frac']:.1%} of op wall")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(doc, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
