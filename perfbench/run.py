"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload bulk-backfill --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark driver from source if needed (see
build.py), runs the workload in one JVM at local[4] and prints a line per
metric, then, as the last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
Everything the run writes lives under <build dir>/scratch/run-<pid> and is
deleted when it ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import layers  # noqa: E402
from stats import median, percentile, ratio  # noqa: E402

WORKLOADS = ("bulk-backfill", "steady-tail")
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "ev/s",
    "ingest_ms_p50": "ms",
    "lookup_ms_p50": "ms",
    "scan_ms_p50": "ms",
    "pull_ms_p50": "ms",
    "stored_bytes_per_row": "B/row",
}
PER_LAYER_UNITS = {
    "ingest.jobs_per_commit": "count", "ingest.catalyst_ms_per_commit": "ms",
    "ingest.driver_gap_ms_per_commit": "ms", "ingest.task_cpu_ms_per_commit": "ms",
    "ingest.shuffle_bytes_per_event": "B/event", "ingest.spill_bytes": "B",
    "ingest.bytes_written_per_event": "B/event",
    "ingest.listing_jobs": "count", "ingest.effective_ratio": "ratio",
    "ingest.corrupt_rows": "count",
    "table.lookup.ms_p50": "ms", "table.lookup.jobs": "count",
    "table.lookup.catalyst_ms": "ms", "table.lookup.driver_gap_ms": "ms",
    "table.lookup.files": "count", "table.scan.jobs": "count",
    "table.scan.catalyst_ms": "ms", "table.scan.driver_gap_ms": "ms",
    "table.scan.files": "count", "table.listing_jobs": "count",
    "table.delta_depth_max": "count", "table.commits": "count",
    "table.maintenance_commits": "count", "cdc.pull.jobs": "count",
    "cdc.pull.catalyst_ms": "ms", "cdc.pull.driver_gap_ms": "ms",
    "cdc.pull.rows": "count", "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
}
SAMPLES = ("events_per_s", "ingest_ms", "lookup_ms", "scan_ms", "pull_ms",
           "stored_bytes_per_row")
RUN_TIMEOUT_S = 170


def end_to_end(raw, unstolen=True):
    """The end-to-end metrics. With `unstolen` (what the result reports),
    every timed interval has the share of the CPU time it wanted that the
    hypervisor gave to other guests (/proc/stat steal) taken out: on a
    shared VM that share swings from 2 % to 40 % within minutes and is no
    cost of the engine. The raw walls are printed as `wall.<metric>`."""
    s = raw["samples"]

    def med(key, rate=False):
        xs = s[key]
        if unstolen:
            keep = [1 - f for f in s[key + "_steal"]]
            xs = [x / k if rate else x * k for x, k in zip(xs, keep)]
        return median(xs)

    return {
        "setup_s": raw["setup_s"] * (1 - raw["setup_s_steal"] if unstolen else 1),
        "events_per_s": med("events_per_s", rate=True),
        "ingest_ms_p50": med("ingest_ms"),
        "lookup_ms_p50": med("lookup_ms"),
        "scan_ms_p50": med("scan_ms"),
        "pull_ms_p50": med("pull_ms"),
        "stored_bytes_per_row": median(s["stored_bytes_per_row"]),
    }


def cpu_ticks():
    """(steal, busy + steal) jiffies of all CPUs, as graftbench.Steal reads
    them, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as stat:
            f = [int(x) for x in stat.readline().split()[1:]]
        return f[7], f[0] + f[1] + f[2] + f[5] + f[6] + f[7]
    except (OSError, ValueError, IndexError):
        return None


def sweep(scratch):
    """Remove run dirs left by killed runs (their pid is gone)."""
    if not scratch.is_dir():
        return
    for d in scratch.glob("run-*"):
        try:
            os.kill(int(d.name.split("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(jar, args, work, deadline):
    """Run the workload's JVM, mapping the build's class-data archive;
    return its exit code (None on timeout)."""
    cmd = (build.java(jar, work / "tmp", f"-XX:SharedArchiveFile={build.archive()}")
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--size", args.size, "--cores", str(args.cores)])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    finally:
        log.close()
    return code


def report(raw, metrics, units, extras, load, ticks):
    c = raw["counters"]
    print(f"workload {raw['workload']} seed {raw['seed']} cores {raw['cores']} "
          f"nproc {os.cpu_count()} trace {int(raw['trace'])}")
    print(f"load_avg_1m before {load[0]:.2f} after {load[1]:.2f}")
    if ticks[0] and ticks[1] and ticks[1][1] > ticks[0][1]:
        steal = (ticks[1][0] - ticks[0][0]) / (ticks[1][1] - ticks[0][1])
        print(f"cpu_steal_share {steal:.3f} (of the CPU time this VM wanted)")
    print(f"gc_ms {raw['jvm']['gc_ms']} heap_peak_mb {raw['jvm']['heap_peak_mb']:.0f}")
    print("setup phases (s): " + ", ".join(
        f"{k} {v:.2f}" for k, v in raw["setup_phases_s"].items()))
    print("samples: " + ", ".join(f"{k} n={len(v)}" for k, v in raw["samples"].items()
                                  if not k.endswith("_steal")))
    for k, xs in raw["samples"].items():
        if k.endswith("_ms"):
            try:
                print(f"{k} p90 {percentile(xs, 90):.6g} (n={len(xs)})")
            except ValueError as e:
                print(f"{k} no tail percentile: {e}")
    f = ratio(raw["failed"], raw["attempted"])
    print(f"failed_op_frac {f['value']:.4f} ratio ({f['part']} of {f['base']} operations)")
    if c.get("events_offered"):
        e = ratio(c["events_applied"], c["events_offered"])
        print(f"effective_ratio {e['value']:.4f} ratio ({e['part']:.0f} applied of "
              f"{e['base']:.0f} offered)")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    for k, v in extras.items():
        print(f"{k} {v:.6g} (extra)")
    for msg in raw["failures"][:20]:
        print(f"FAILED: {msg}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a small smoke-test corpus")
    ap.add_argument("--cores", type=int, default=4, help="Spark local[N] threads")
    ap.add_argument("--keep", help="copy result.json and trace.jsonl into this directory")
    args = ap.parse_args(argv)
    deadline = time.time() + RUN_TIMEOUT_S

    try:
        jar = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = max(deadline, time.time() + RUN_TIMEOUT_S - 10)
    scratch = build.build_dir() / "scratch"
    sweep(scratch)
    work = scratch / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        load0, ticks0 = os.getloadavg()[0], cpu_ticks()
        code = run_jvm(jar, args, work, deadline)
        load1, ticks1 = os.getloadavg()[0], cpu_ticks()
        result = work / "result.json"
        if code != 0 or not result.is_file():
            tail = (work / "jvm.log").read_text(errors="replace")[-6000:]
            print(f"benchmark JVM exited with {code}:\n{tail}", file=sys.stderr)
            return 1
        raw = json.loads(result.read_text())
        if args.keep:
            keep = Path(args.keep)
            keep.mkdir(parents=True, exist_ok=True)
            for f in ("result.json", "trace.jsonl"):
                if (work / f).is_file():
                    shutil.copy(work / f, keep / f"{args.workload}-{args.seed}-{f}")
        missing = [k for k in SAMPLES if not raw["samples"].get(k)]
        if missing:
            print(f"no samples for {', '.join(missing)}; failures:\n"
                  + "\n".join(raw["failures"]), file=sys.stderr)
            return 1
        e2e = end_to_end(raw)
        extras = {f"wall.{k}": v for k, v in end_to_end(raw, unstolen=False).items()}
        if args.trace:
            metrics, extras = layers.per_layer(work / "trace.jsonl", raw)
            extras.update({f"traced.{k}": v for k, v in e2e.items()})
            units = PER_LAYER_UNITS
        else:
            metrics, units = e2e, END_TO_END
        report(raw, metrics, units, extras, (load0, load1), (ticks0, ticks1))
        print(json.dumps({
            "correct": raw["failed"] == 0,
            "attempted": raw["attempted"],
            "failed": raw["failed"],
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
