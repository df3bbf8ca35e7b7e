"""Per-layer numbers from a traced run's JSONL (spans, Spark jobs, Catalyst
phases). Jobs are attributed to the span whose id they carried, then to the
deepest child span of it whose interval holds the job's start; queries are
attributed by the start of their planning phase. A span's driver gap is its
wall minus the union of its jobs' walls; its self time is its wall minus the
union of its children's."""
import json

from stats import median, ratio

INGEST_SPANS = ("cdc.replay", "streaming.drain")
READ_SPANS = ("table.lookup", "table.scan", "cdc.pull")


def load(path):
    spans, jobs, qes = {}, [], []
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            kind = rec.pop("kind")
            if kind == "span":
                rec.update(children=[], jobs=[], qes=[])
                spans[rec["id"]] = rec
            elif kind == "job":
                jobs.append(rec)
            else:
                qes.append(rec)
    for s in spans.values():
        if s["parent"] in spans:
            spans[s["parent"]]["children"].append(s)
    return spans, jobs, qes


def _holds(span, t_us):
    return span["start_us"] <= t_us <= span["end_us"]


def _deepest(span, t_us):
    for c in span["children"]:
        if _holds(c, t_us):
            return _deepest(c, t_us)
    return span


def _union_ms(intervals, lo, hi):
    """Length (ms) of the union of [start, end] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans, jobs, qes):
    roots = [s for s in spans.values() if s["parent"] not in spans]
    for j in jobs:
        t = j["start_ms"] * 1000
        owner = spans.get(j["span"])
        if owner is None:
            owner = next((r for r in roots if _holds(r, t)), None)
        if owner is not None:
            _deepest(owner, t)["jobs"].append(j)
    for q in qes:
        t = q["at_ms"] * 1000
        owner = next((r for r in roots if _holds(r, t)), None)
        if owner is not None:
            _deepest(owner, t)["qes"].append(q)


def _subtree(span):
    yield span
    for c in span["children"]:
        yield from _subtree(c)


def span_costs(span):
    """Wall, self time, driver gap and Spark work of one span (its own and
    its descendants' jobs and queries)."""
    wall = (span["end_us"] - span["start_us"]) / 1000
    lo, hi = span["start_us"] / 1000, span["end_us"] / 1000
    jobs = [j for s in _subtree(span) for j in s["jobs"]]
    qes = [q for s in _subtree(span) for q in s["qes"]]
    job_ms = _union_ms([(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi)
    child_ms = _union_ms([(c["start_us"] / 1000, c["end_us"] / 1000)
                          for c in span["children"]], lo, hi)
    return {
        "wall_ms": wall,
        "self_ms": wall - child_ms,
        "driver_gap_ms": wall - job_ms,
        "jobs": len(jobs),
        "listing_jobs": sum(1 for j in jobs if j["listing"]),
        "catalyst_ms": sum(sum(q["phases_ms"].values()) for q in qes),
        "task_cpu_ms": sum(j["cpu_ns"] for j in jobs) / 1e6,
        "shuffle_bytes": sum(j["shuffle_write"] for j in jobs),
        "spill_bytes": sum(j["spill"] for j in jobs),
        "bytes_written": sum(j["bytes_out"] for j in jobs),
    }


def _named(spans, name):
    return [s for s in spans.values() if s["name"] == name]


def _med(costs, key):
    return median([c[key] for c in costs]) if costs else 0.0


def per_layer(trace_path, raw):
    """Every per-layer metric of BENCHMARK.json, plus workload-specific
    extras (returned separately, printed but not part of the result)."""
    spans, jobs, qes = load(trace_path)
    attribute(spans, jobs, qes)
    c = raw["counters"]
    ingest = [s for n in INGEST_SPANS for s in _named(spans, n)]
    ic = [span_costs(s) for s in ingest]
    commits = sum(s["attrs"].get("commits", 0) for s in ingest) or 1
    events = sum(s["attrs"].get("events", 0) for s in ingest) or 1
    total = {k: sum(x[k] for x in ic) for k in ic[0]} if ic else {}

    def reads(name):
        return [span_costs(s) for s in _named(spans, name)]

    lk, sc, pl = reads("table.lookup"), reads("table.scan"), reads("cdc.pull")
    read_spans = [s for n in READ_SPANS for s in _named(spans, n)]
    m = {
        "ingest.jobs_per_commit": total.get("jobs", 0) / commits,
        "ingest.catalyst_ms_per_commit": total.get("catalyst_ms", 0) / commits,
        "ingest.driver_gap_ms_per_commit": total.get("driver_gap_ms", 0) / commits,
        "ingest.task_cpu_ms_per_commit": total.get("task_cpu_ms", 0) / commits,
        "ingest.shuffle_bytes_per_event": total.get("shuffle_bytes", 0) / events,
        "ingest.spill_bytes": total.get("spill_bytes", 0),
        "ingest.bytes_written_per_event": total.get("bytes_written", 0) / events,
        "ingest.listing_jobs": total.get("listing_jobs", 0),
        "ingest.effective_ratio":
            ratio(c["events_applied"], c["events_offered"])["value"],
        "ingest.corrupt_rows": c.get("corrupt_rows", 0),
        "table.lookup.ms_p50": _med(lk, "wall_ms"),
        "table.lookup.jobs": _med(lk, "jobs"),
        "table.lookup.catalyst_ms": _med(lk, "catalyst_ms"),
        "table.lookup.driver_gap_ms": _med(lk, "driver_gap_ms"),
        "table.lookup.files": median([s["attrs"].get("files", 0)
                                      for s in _named(spans, "table.lookup")] or [0]),
        "table.scan.jobs": _med(sc, "jobs"),
        "table.scan.catalyst_ms": _med(sc, "catalyst_ms"),
        "table.scan.driver_gap_ms": _med(sc, "driver_gap_ms"),
        "table.scan.files": median([s["attrs"].get("files", 0)
                                    for s in _named(spans, "table.scan")] or [0]),
        "table.listing_jobs": sum(span_costs(s)["listing_jobs"] for s in read_spans),
        "table.delta_depth_max": c.get("delta_depth_max", 0),
        "table.commits": c.get("commits", 0),
        "table.maintenance_commits": c.get("maintenance_commits", 0),
        "cdc.pull.jobs": _med(pl, "jobs"),
        "cdc.pull.catalyst_ms": _med(pl, "catalyst_ms"),
        "cdc.pull.driver_gap_ms": _med(pl, "driver_gap_ms"),
        "cdc.pull.rows": median([s["attrs"].get("rows", 0)
                                 for s in _named(spans, "cdc.pull")] or [0]),
        "jvm.gc_ms": raw["jvm"]["gc_ms"],
        "jvm.heap_peak_mb": raw["jvm"]["heap_peak_mb"],
    }
    extras = {}
    batches = [span_costs(s) | {"attrs": s["attrs"]}
               for s in _named(spans, "streaming.batch")]
    if batches:
        extras = {
            "streaming.batch_ms.p50": _med(batches, "wall_ms"),
            "streaming.callback_ms.p50": median([b["attrs"]["callback_ms"] for b in batches]),
            "streaming.first_batch_ms": batches[0]["wall_ms"],
            "streaming.jobs_per_batch": _med(batches, "jobs"),
            "streaming.catalyst_ms_per_batch": _med(batches, "catalyst_ms"),
            "streaming.driver_gap_ms_per_batch": _med(batches, "driver_gap_ms"),
            "streaming.maintenance_ms": sum(b["wall_ms"] - b["attrs"]["callback_ms"]
                                            for b in batches),
            # stream start and stop: the drain's time outside every batch
            "streaming.outside_batches_ms": sum(span_costs(s)["self_ms"]
                                                for s in _named(spans, "streaming.drain")),
        }
    for s in _named(spans, "cdc.replay"):
        cost = span_costs(s)
        extras.setdefault("cdc.replay_s", []).append(cost["wall_ms"] / 1000)
        extras.setdefault("cdc.replay.driver_gap_s", []).append(cost["driver_gap_ms"] / 1000)
        extras.setdefault("cdc.replay.task_cpu_s", []).append(cost["task_cpu_ms"] / 1000)
    for k in ("cdc.replay_s", "cdc.replay.driver_gap_s", "cdc.replay.task_cpu_s"):
        if k in extras:
            extras[k] = median(extras[k])
    return m, extras
