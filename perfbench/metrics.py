"""Pure functions that turn the harness's raw records into metrics.

Times in the raw records are epoch milliseconds; every record of a run
comes from one JVM, so they share one clock.
"""
import math
import random
import statistics

TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def samples_beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - math.ceil(p / 100 * n)


def tail_percentile(n, min_beyond=10):
    """The highest percentile in TAIL_PERCENTILES that has at least
    `min_beyond` samples beyond it, or None when n is too small."""
    for p in TAIL_PERCENTILES:
        if samples_beyond(n, p) >= min_beyond:
            return p
    return None


def permutations(queries, seed, n):
    """n orders of `queries`, each a permutation, fixed by `seed`."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        order = list(queries)
        rng.shuffle(order)
        out.append(order)
    return out


def union_ms(intervals, lo, hi):
    """Length of the union of intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(lo, hi, children):
    """A span's self time: its length minus the part its children cover."""
    return (hi - lo) - union_ms(children, lo, hi)


# Per-layer metrics: name -> (unit, better). The trace run reports each as
# a total per traced pass (the median over traced passes), except the
# fractions and percentiles, which are computed over the traced passes.
PER_LAYER = {
    "sources.open_ms": ("ms", "lower"),
    "sources.schema_jobs": ("count", "lower"),
    "sources.schema_job_ms": ("ms", "lower"),
    "operators.construct_ms": ("ms", "lower"),
    "operators.construct_self_ms": ("ms", "lower"),
    "operators.construct_jobs": ("count", "lower"),
    "operators.action_ms": ("ms", "lower"),
    "operators.action_self_ms": ("ms", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "scheduler.jobs": ("count", "lower"),
    "scheduler.stages": ("count", "lower"),
    "scheduler.tasks": ("count", "lower"),
    "scheduler.task_failures": ("count", "lower"),
    "scheduler.job_ms": ("ms", "lower"),
    "executor.run_ms": ("ms", "lower"),
    "executor.cpu_ms": ("ms", "lower"),
    "executor.gc_ms": ("ms", "lower"),
    "executor.busy_frac": ("ratio", "higher"),
    "executor.shuffle_read_bytes": ("bytes", "lower"),
    "executor.shuffle_write_bytes": ("bytes", "lower"),
    "executor.spill_bytes": ("bytes", "lower"),
    "executor.output_bytes": ("bytes", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.empty_batches": ("count", "lower"),
    "streaming.data_batch_frac": ("ratio", "higher"),
    "streaming.batch_p50_ms": ("ms", "lower"),
    "streaming.batch_p90_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_memory_bytes": ("bytes", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "benchmark.trace_overhead_frac": ("ratio", "lower"),
}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_gmean_s": "s",
    "peak_rss_mb": "MB",
}

# computed per pass from the summed ones, or over the traced passes
_DERIVED = {"sources.open_ms", "executor.busy_frac", "streaming.data_batch_frac",
            "streaming.batch_p50_ms", "streaming.batch_p90_ms", "benchmark.trace_overhead_frac"}
_SUMMED = [k for k in PER_LAYER if k not in _DERIVED]


def untraced_executions(passes):
    """The executions that succeeded in untraced passes."""
    return [e for p in passes if not p["traced"] for e in p["executions"] if "error" not in e]


def exec_layers(e, jobs, phases, batches):
    """Layer totals of one query execution. Its span tree: the query
    holds construct [start, construct_end] and action [construct_end,
    end]; each holds the planner phases, jobs and micro-batches that
    started inside it."""
    lo, mid, hi = e["start_ms"], e["construct_end_ms"], e["end_ms"]
    inside = lambda r: lo <= r["start_ms"] < hi
    js = [j for j in jobs if inside(j)]
    ps = [p for p in phases if inside(p)]
    bs = [b for b in batches if inside(b)]
    children = [(r["start_ms"], r["end_ms"]) for r in js + ps + bs]
    schema = [j for j in js if "Tables.scala" in j["call_site"]]
    out = {
        "sources.schema_jobs": len(schema),
        "sources.schema_job_ms": sum(j["end_ms"] - j["start_ms"] for j in schema),
        "operators.construct_ms": mid - lo,
        "operators.construct_self_ms": self_ms(lo, mid, children),
        "operators.construct_jobs": sum(1 for j in js if j["start_ms"] < mid),
        "operators.action_ms": hi - mid,
        "operators.action_self_ms": self_ms(mid, hi, children),
        "scheduler.jobs": len(js),
        "scheduler.job_ms": union_ms([(j["start_ms"], j["end_ms"]) for j in js], lo, hi),
        "executor.cpu_ms": sum(j["cpu_ns"] for j in js) / 1e6,
        "streaming.batches": len(bs),
        "streaming.empty_batches": sum(1 for b in bs if b["input_rows"] == 0),
    }
    for ph in ("analysis", "optimization", "planning"):
        out[f"catalyst.{ph}_ms"] = sum(p["end_ms"] - p["start_ms"] for p in ps if p["phase"] == ph)
    for src, dst in (("stages", "scheduler.stages"), ("tasks", "scheduler.tasks"),
                     ("task_failures", "scheduler.task_failures"), ("run_ms", "executor.run_ms"),
                     ("gc_ms", "executor.gc_ms"), ("shuffle_read_bytes", "executor.shuffle_read_bytes"),
                     ("shuffle_write_bytes", "executor.shuffle_write_bytes"),
                     ("spill_bytes", "executor.spill_bytes"), ("output_bytes", "executor.output_bytes")):
        out[dst] = sum(j[src] for j in js)
    for src in ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
                "state_commit_ms"):
        out[f"streaming.{src}"] = sum(b[src] for b in bs)
    # state size: each stream's largest state over its batches
    for src in ("state_rows", "state_memory_bytes"):
        peak = {}
        for b in bs:
            peak[b["stream"]] = max(peak.get(b["stream"], 0), b[src])
        out[f"streaming.{src}"] = sum(peak.values())
    return out


def per_layer(raw):
    """Per-layer metrics of a traced run, plus per-query breakdowns."""
    jobs, phases, batches = raw["jobs"], raw["phases"], raw["batches"]
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    totals, per_query = [], {}
    for i, p in enumerate(traced):
        tot = dict.fromkeys(_SUMMED, 0)
        for e in p["executions"]:
            if "error" in e:
                continue
            layers = exec_layers(e, jobs, phases, batches)
            per_query.setdefault(e["query"], []).append(layers)
            for k in _SUMMED:
                tot[k] += layers[k]
        wall = p["end_ms"] - p["start_ms"]
        tot["sources.open_ms"] = sum(raw["opens"][i].values())
        tot["executor.busy_frac"] = tot["executor.run_ms"] / (wall * raw["cpus"])
        tot["streaming.data_batch_frac"] = (
            (tot["streaming.batches"] - tot["streaming.empty_batches"]) / tot["streaming.batches"]
            if tot["streaming.batches"] else 0.0)
        totals.append(tot)
    out = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
    lat = [b["trigger_ms"] for p in traced for b in batches
           if p["start_ms"] <= b["start_ms"] < p["end_ms"]]
    out["streaming.batch_p50_ms"] = percentile(lat, 50) if lat else 0.0
    out["streaming.batch_p90_ms"] = percentile(lat, 90) if lat else 0.0
    wall = lambda ps: statistics.median(p["end_ms"] - p["start_ms"] for p in ps)
    out["benchmark.trace_overhead_frac"] = wall(traced) / wall(untraced) - 1
    per_query = {q: {k: statistics.median(r[k] for r in rs) for k in rs[0]}
                 for q, rs in sorted(per_query.items())}
    return out, per_query


def query_medians(passes):
    """Each query's median execution time (s) over the untraced passes."""
    by_query = {}
    for e in untraced_executions(passes):
        by_query.setdefault(e["query"], []).append((e["end_ms"] - e["start_ms"]) / 1000)
    return {q: statistics.median(ts) for q, ts in by_query.items()}


def end_to_end(raw):
    """End-to-end metrics of a run, from its untraced passes."""
    medians = query_medians(raw["passes"])
    if not medians:
        raise ValueError("no timed query execution succeeded")
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        # one pass at each query's median speed
        "pass_s": sum(medians.values()),
        # a typical query, every query weighing the same
        "query_gmean_s": statistics.geometric_mean(medians.values()),
        "peak_rss_mb": raw["vm_hwm_kb"] / 1024,
    }


def spread(values):
    """Distance between the first and third quartile, as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
