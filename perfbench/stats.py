"""Reductions from a run's raw observations to the reported metrics.

Pure functions over the JSON the JVM side writes (`raw.json`), so the
benchmark's own arithmetic is testable without Spark (test_stats.py).
"""
import math
import statistics

# A reported tail percentile needs this many samples beyond it.
MIN_BEYOND = 10


def percentile(values, p, min_beyond=MIN_BEYOND):
    """Nearest-rank percentile; refuses a tail that is not backed by at
    least `min_beyond` samples above it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p * len(xs)))  # 1-based rank
    if p > 0.5 and len(xs) - k < min_beyond:
        raise ValueError(f"p{p * 100:g} of {len(xs)} samples has only "
                         f"{len(xs) - k} beyond it (need {min_beyond})")
    return xs[k - 1]


def tail(values, p=0.9):
    """Nearest-rank `p` of a per-layer sample, 0 if empty. Per-layer
    phases can be short, so unlike `percentile` this does not demand ten
    samples beyond; the end-to-end tail does."""
    xs = sorted(values)
    return xs[max(1, math.ceil(p * len(xs))) - 1] if xs else 0.0


def median(values):
    return statistics.median(values) if values else 0.0


def failed_count(attempts, failures, wrong_ops):
    """Failed operations: every attempt of an operation whose output was
    wrong, plus each attempt that threw or timed out, never more than
    were attempted. `attempts` maps operation name to attempts."""
    thrown = {}
    for f in failures:
        thrown[f["op"]] = thrown.get(f["op"], 0) + 1
    return sum(n if op in wrong_ops else min(n, thrown.get(op, 0))
               for op, n in attempts.items())


def freshness_ms(due_ms, shown_ms):
    """Open-loop latency: from when the batch was due, not when it was
    sent, so generator lateness and consumer stalls both count."""
    return shown_ms - due_ms


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
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


def self_times(spans, jobs):
    """Self time per layer: a span's duration minus what its child spans
    and the Spark jobs it submitted cover. Jobs form the `spark.jobs`
    layer (jobs of the Tables loaders: `tables.jobs`)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for j in jobs:
        if j["end"] is not None:
            children.setdefault(j["span"], []).append((j["start"], j["end"]))
    out = {}
    for s in spans:
        d = s["end"] - s["start"]
        covered = union_ms(children.get(s["id"], []), s["start"], s["end"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + d - covered
    by_layer = {}
    for j in jobs:
        if j["end"] is not None:
            layer = "tables.jobs" if j["loader"] else "spark.jobs"
            by_layer.setdefault(layer, []).append((j["start"], j["end"]))
    for layer, iv in by_layer.items():
        out[layer] = union_ms(iv)
    return out


def descendants(spans, layer):
    """Ids of spans of `layer` and every span nested under them."""
    ids = {s["id"] for s in spans if s["layer"] == layer}
    grew = True
    while grew:
        more = {s["id"] for s in spans if s["parent"] in ids} - ids
        grew = bool(more)
        ids |= more
    return ids


def latencies(samples, prefix=""):
    """Per-operation latency: closed-loop requests report it directly; an
    open loop reports when each batch was due and when it was first shown,
    and its latency runs from the due time."""
    if prefix + "due_ms" in samples:
        return [freshness_ms(d, s) for d, s in
                zip(samples[prefix + "due_ms"], samples[prefix + "shown_ms"])]
    return samples.get(prefix + "latency_ms", [])


def end_to_end(raw):
    """The metrics a user sees, from an untraced run."""
    s = raw["samples"]
    lat = latencies(s)
    return {
        "latency_p50_ms": percentile(lat, 0.5),
        "latency_p70_ms": percentile(lat, 0.7),
        "throughput_per_s": median(s["throughput_per_s"]),
        "setup_s": median(s["setup_s"]),
        "peak_rss_mb": raw["counters"]["peak_rss_mb"],
        "store_mb": raw["counters"]["store_mb"],
    }


def per_layer(raw, cores, machine):
    """Per-layer metrics of a traced run, per operation where the layer
    works per operation (a request, or a bars cycle or served read)."""
    s, c = raw["samples"], raw["counters"]
    spans = raw["spans"]
    # jobs submitted outside any span (untraced rounds) are not attributed
    jobs = [j for j in raw["jobs"] if j["span"] != 0]
    roots = [x for x in spans if x["parent"] == 0 and x["layer"] != "maintenance.release"]
    n = max(1, len(roots))
    wall_ms = sum(x["end"] - x["start"] for x in roots)

    def span_ms(layer):
        return sum(x["end"] - x["start"] for x in spans if x["layer"] == layer)

    build_ids = descendants(spans, "entry.build")
    action_ids = descendants(spans, "exec.action")
    tables = [j for j in jobs if j["loader"]]
    build_jobs = [j for j in jobs if j["span"] in build_ids and not j["loader"]]
    action_jobs = [j for j in jobs if j["span"] in action_ids and not j["loader"]]
    phases = {}
    for p in raw["phases"]:
        phases[p["phase"]] = phases.get(p["phase"], 0.0) + p["ms"]

    def job_ms(js):
        return sum(j["end"] - j["start"] for j in js if j["end"] is not None)

    busy_s = sum(j["run_s"] for j in jobs)
    lat = latencies(s)
    untraced = latencies(s, "untraced.")
    selfs = self_times(spans, jobs)
    progress = s.get("ingest.batch_ms", [])
    m = {
        "tables.read_ms": job_ms(tables) / n,
        "tables.read_jobs": len(tables) / n,
        "entry.build_ms": span_ms("entry.build") / n,
        "entry.build_jobs": len(build_jobs) / n,
        "catalyst.analysis_ms": phases.get("analysis", 0.0) / n,
        "catalyst.optimization_ms": phases.get("optimization", 0.0) / n,
        "catalyst.planning_ms": phases.get("planning", 0.0) / n,
        "exec.action_ms": span_ms("exec.action") / n,
        "exec.jobs": len(action_jobs) / n,
        "exec.stages": sum(j["stages"] for j in action_jobs) / n,
        "exec.tasks": sum(j["tasks"] for j in action_jobs) / n,
        "exec.task_busy_s": busy_s / n,
        "exec.slot_busy_share": busy_s * 1000 / (wall_ms * cores) if wall_ms else 0.0,
        "exec.shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / 1e6 / n,
        "exec.spill_mb": sum(j["spill_b"] for j in jobs) / 1e6 / n,
        "exec.gc_ms": sum(j["gc_ms"] for j in jobs) / n,
        "maintenance.release_ms": span_ms("maintenance.release") / n,
        # stores are built in set-up: per set-up round
        "stores.built": median(s.get("stores.built", [])),
        "stores.reused": len(s.get("stores.reused", [])),
        "stores.build_s": median(s.get("stores.build_s", [])),
        "stores.mb": c.get("store_mb", 0.0),
        "gen.encode_s": median(s.get("gen.encode_s", [])),
        "gen.late_p90_ms": tail(s.get("gen.late_ms", [])),
        "ingest.batches": len(progress),
        "ingest.batch_p50_ms": median(progress),
        "ingest.batch_p90_ms": tail(progress),
        "ingest.commit_ms": median(s.get("ingest.commit_ms", [])),
        "ingest.files": c.get("ingest.files", 0),
        "ingest.backlog_max_rows": c.get("ingest.backlog_max_rows", 0),
        "ingest.dlq_rows": c.get("ingest.dlq_rows", 0),
        "bars.cycles": c.get("bars.cycles", 0),
        "bars.cycle_p50_ms": median(s.get("bars.cycle_ms", [])),
        "bars.cycle_p90_ms": tail(s.get("bars.cycle_ms", [])),
        "bars.rows_rewritten_per_new_bar":
            c.get("bars.rows_written", 0) / c["bars.final_rows"] if c.get("bars.final_rows") else 0.0,
        "bars.watermark_lag_s": median(s.get("bars.watermark_lag_s", [])),
        "serve.read_p50_ms": median(s.get("serve.read_ms", [])),
        "machine.load1_start": machine["load1_start"],
        "machine.load1_end": machine["load1_end"],
        "machine.canary_start_ms": c.get("canary_start_ms", 0.0),
        "machine.canary_end_ms": c.get("canary_end_ms", 0.0),
        "machine.nproc": machine["nproc"],
        "trace.overhead_share":
            median(lat) / median(untraced) - 1.0 if lat and untraced else 0.0,
        "local1.op_ms": c.get("local1.op_ms", 0.0),
        "local1.task_busy_s": c.get("local1.task_busy_s", 0.0),
        "localN.op_ms": wall_ms / n,
        "localN.task_busy_s": busy_s / n,
    }
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = selfs.get(layer, 0.0) / n
    return m


# Layers whose self time is reported (span layers, then job layers).
SELF_LAYERS = ["request", "entry.build", "exec.action", "maintenance.release",
               "bars.cycle", "serve.read", "tables.jobs", "spark.jobs"]

PER_LAYER_UNITS = {
    "tables.read_ms": "ms", "tables.read_jobs": "count",
    "entry.build_ms": "ms", "entry.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.action_ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_busy_s": "s", "exec.slot_busy_share": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_ms": "ms",
    "maintenance.release_ms": "ms",
    "stores.built": "count", "stores.reused": "count", "stores.build_s": "s", "stores.mb": "MB",
    "gen.encode_s": "s", "gen.late_p90_ms": "ms",
    "ingest.batches": "count", "ingest.batch_p50_ms": "ms", "ingest.batch_p90_ms": "ms",
    "ingest.commit_ms": "ms", "ingest.files": "count", "ingest.backlog_max_rows": "count",
    "ingest.dlq_rows": "count",
    "bars.cycles": "count", "bars.cycle_p50_ms": "ms", "bars.cycle_p90_ms": "ms",
    "bars.rows_rewritten_per_new_bar": "ratio", "bars.watermark_lag_s": "s",
    "serve.read_p50_ms": "ms",
    "machine.load1_start": "load", "machine.load1_end": "load",
    "machine.canary_start_ms": "ms", "machine.canary_end_ms": "ms", "machine.nproc": "count",
    "trace.overhead_share": "ratio",
    "local1.op_ms": "ms", "local1.task_busy_s": "s", "localN.op_ms": "ms", "localN.task_busy_s": "s",
    **{f"self_ms.{layer}": "ms" for layer in SELF_LAYERS},
}
