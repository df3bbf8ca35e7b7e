"""Repeated runs of the benchmark.

    python3 perfbench/sweep.py spread [--runs 10] [--workloads a,b] [--first-seed 101]
        Run each workload once per seed; print every end-to-end metric's
        median and quartile spread (IQR / median) next to its bound.

    python3 perfbench/sweep.py baseline [--out perfbench/results/baseline]
        For each workload: three untraced and three traced runs, alternating,
        then one traced local[1] run, all on one seed. Medians go to
        <out>.json with the per-layer table and the tracing overhead of every
        end-to-end metric (traced median / untraced median - 1), summarised
        in <out>.md; the last traced run's raw result and span JSONL go to
        <out>-trace/.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import median, spread  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_once(workload, seed, trace=0, cores=4, keep=None):
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace),
           "--cores", str(cores)] + (["--keep", keep] if keep else [])
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} failed ({p.returncode}):\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    extras = {}
    for ln in lines[:-1]:
        parts = ln.split()
        if len(parts) == 3 and parts[2] == "(extra)":
            extras[parts[0]] = float(parts[1])
    return {"seed": seed, "cores": cores, "trace": trace, "wall_s": time.time() - t0,
            "result": res, "extras": extras, "stdout": lines[:-1]}


def spread_cmd(args):
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in SPEC["workloads"]]
    summary = {}
    for w in workloads:
        runs = []
        for i in range(args.runs):
            r = run_once(w, args.first_seed + i)
            runs.append(r)
            m = r["result"]["metrics"]
            print(f"{w} seed {r['seed']} wall {r['wall_s']:.0f}s correct "
                  f"{r['result']['correct']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in m.items()) + " | " + " ".join(
                      f"{k}={v:.4g}" for k, v in r["extras"].items()), flush=True)
        summary[w] = {}
        for k, b in list(bounds.items()) + [(f"wall.{k}", v) for k, v in bounds.items()]:
            xs = [r["result"]["metrics"][k]["value"] if k in bounds else r["extras"][k]
                  for r in runs]
            s = spread(xs) if len(xs) > 1 else 0.0
            summary[w][k] = {"median": median(xs), "spread": s, "bound": b, "values": xs}
            flag = "ok" if s <= b / 3 else ("within bound" if s <= b else "OVER BOUND")
            print(f"  {w:14s} {k:22s} median {median(xs):12.4g} spread {s:.3f} "
                  f"bound {b} {flag}")
        print(f"  {w} run wall: median {median([r['wall_s'] for r in runs]):.0f}s "
              f"max {max(r['wall_s'] for r in runs):.0f}s", flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")


def baseline_cmd(args):
    out = {"host": {"nproc": os.cpu_count(), "load_avg": os.getloadavg()},
           "run_seconds": SPEC["run_seconds"], "workloads": {}}
    md = ["# graft benchmark baseline", "",
          f"Host: {os.cpu_count()} vCPUs (shared VM). Each workload: three untraced and "
          "three traced runs at local[4], alternating, then one traced `local[1]` run; "
          "one seed; medians. Timings have CPU steal taken out (see README).", ""]

    def med(runs, key):
        return {k: median([r[key][k] if key == "extras" else r[key]["metrics"][k]["value"]
                           for r in runs])
                for k in (runs[0][key] if key == "extras" else runs[0][key]["metrics"])}

    for w in [x["name"] for x in SPEC["workloads"]]:
        plain, traced = [], []
        for i in range(3):
            plain.append(run_once(w, args.seed))
            traced.append(run_once(w, args.seed, trace=1,
                                   keep=args.out + "-trace" if i == 2 else None))
        single = run_once(w, args.seed, trace=1, cores=1)
        e2e = med(plain, "result")
        tx = med(traced, "extras")
        overhead = {k: {"untraced": v, "traced": tx[f"traced.{k}"],
                        "share": tx[f"traced.{k}"] / v - 1}
                    for k, v in e2e.items()}
        out["workloads"][w] = {
            "seed": args.seed, "end_to_end": e2e, "tracing_overhead": overhead,
            "per_layer": med(traced, "result"), "extras": tx,
            "local1": {"per_layer": {k: v["value"]
                                     for k, v in single["result"]["metrics"].items()},
                       "extras": single["extras"]},
            "correct": all(r["result"]["correct"] for r in plain + traced + [single]),
            "logs": {"untraced": plain[-1]["stdout"], "traced": traced[-1]["stdout"],
                     "local1": single["stdout"]},
        }
        md += [f"## {w} (seed {args.seed})", "",
               "| end-to-end metric | untraced | traced | tracing overhead | local[1] (traced) |",
               "|---|---|---|---|---|"]
        for k, o in overhead.items():
            l1 = single["extras"].get(f"traced.{k}", float("nan"))
            md.append(f"| `{k}` | {o['untraced']:.4g} | {o['traced']:.4g} | "
                      f"{o['share']:+.1%} | {l1:.4g} |")
        md += ["", "| per-layer metric | local[4] (median of 3) | local[1] |",
               "|---|---|---|"]
        for k, v in out["workloads"][w]["per_layer"].items():
            md.append(f"| `{k}` | {v:.4g} | "
                      f"{out['workloads'][w]['local1']['per_layer'][k]:.4g} |")
        for k, v in tx.items():
            if not k.startswith("traced."):
                md.append(f"| `{k}` (extra) | {v:.4g} | "
                          f"{single['extras'].get(k, float('nan')):.4g} |")
        md.append("")
        print(f"{w}: done", flush=True)
    Path(args.out + ".json").write_text(json.dumps(out, indent=1) + "\n")
    Path(args.out + ".md").write_text("\n".join(md))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--runs", type=int, default=10)
    sp.add_argument("--workloads")
    sp.add_argument("--first-seed", type=int, default=101)
    sp.add_argument("--out")
    bl = sub.add_parser("baseline")
    bl.add_argument("--seed", type=int, default=42)
    bl.add_argument("--out", default=str(HERE / "results" / "baseline"))
    args = ap.parse_args()
    (spread_cmd if args.cmd == "spread" else baseline_cmd)(args)


if __name__ == "__main__":
    main()
