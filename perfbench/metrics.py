"""Turns one run's raw record into the benchmark's metrics.

The record is what ``perfbench.Main`` writes: set-up times, one entry
per operation, and for a traced run the spans, Spark jobs and query
plans. Everything here is plain arithmetic over that record, so it is
unit-tested without Spark (see ``perfbench/tests``).
"""

import statistics

# Percentile ladder for the tail metric, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def nearest_rank(sorted_values, p):
    """Nearest-rank index (0-based) of percentile ``p``."""
    n = len(sorted_values)
    k = -(-p * n // 100)  # ceil(p * n / 100)
    return max(0, min(n - 1, int(k) - 1))


def tail(values):
    """The highest percentile on the ladder that has at least ten
    samples strictly beyond its nearest-rank position.

    Returns ``{"percentile", "value", "n", "beyond"}``, or None when even
    the median has fewer than ten samples beyond it.
    """
    s = sorted(values)
    best = None
    for p in TAIL_LADDER:
        k = nearest_rank(s, p)
        beyond = len(s) - 1 - k
        if beyond >= TAIL_BEYOND:
            best = {"percentile": p, "value": s[k], "n": len(s), "beyond": beyond}
    return best


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0
    end = None
    start = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def clip(interval, bounds):
    return (max(interval[0], bounds[0]), min(interval[1], bounds[1]))


def self_times(spans):
    """Self time of each span: its duration minus the part of its own
    interval that its children cover (children may overlap each other
    or run past the parent; only the covered part inside the parent
    counts). Returns {span id: self time} in the spans' time unit."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        bounds = (s["start_ns"], s["end_ns"])
        covered = union_length(
            clip((c["start_ns"], c["end_ns"]), bounds) for c in children.get(s["id"], []))
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def attribute_jobs(jobs, spans, to_ns):
    """Span id of every job. A job carries the span that was open when
    it was submitted; a job without one (0) goes to the innermost span
    of its operation whose interval contains the job's start, or to
    nothing (0) when it ran outside every span. ``to_ns`` converts a
    job's millisecond wall time to the spans' clock."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    known = {s["id"] for s in spans}
    out = {}
    for j in jobs:
        if j["span"] in known:
            out[j["job"]] = j["span"]
            continue
        t = to_ns(j["start_ms"])
        inside = [s for s in by_op.get(j["op"], []) if s["start_ns"] <= t <= s["end_ns"]]
        out[j["job"]] = min(inside, key=lambda s: s["end_ns"] - s["start_ns"])["id"] if inside else 0
    return out


def layer(name):
    """Layer of a span name: the part before the first dot."""
    return name.split(".", 1)[0]


def median(values, default=0.0):
    return statistics.median(values) if values else default


def end_to_end(record):
    """End-to-end metrics of an untraced run, plus context that is
    recorded but not gated (tail, failure ratio, host probe)."""
    ops = [o for o in record["ops"] if not o["warmup"]]
    durations = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops]
    ok = [o for o in ops if o["ok"]]
    busy = sum((o["end_ns"] - o["start_ns"]) / 1e9 for o in ok)
    all_ops = record["ops"]
    metrics = {
        "setup_s": (setup_s(record["setup"]), "s"),
        "rows_per_s": (sum(o["rows"] for o in ok) / busy if busy > 0 else 0.0, "1/s"),
        "op_p50_s": (median(durations), "s"),
        "heap_live_peak_mb": (record["heap_live_peak_mb"], "MB"),
    }
    context = {
        "op_tail_s": tail(durations),
        "fail_ratio": sum(1 for o in all_ops if not o["ok"]) / len(all_ops) if all_ops else 1.0,
        "ops": len(ops),
        "host_probe_s": record["host_probe_s"],
        "host_factor": record["host_probe_s"] / record["host_probe_reference_s"],
    }
    return metrics, context


def setup_s(setup):
    """JVM and session start, the median of the repeated input
    generation and seed-table builds, and the warm-up operations."""
    return (setup["session_s"] + median(setup["generate_s"])
            + median(setup["seed_table_s"]) + setup["warmup_s"])


def per_layer(record):
    """Per-layer metrics of a traced run: per timed operation unless
    the name says otherwise (``_per_`` ratios, ``per_call``/``per_job``)."""
    ops = [o for o in record["ops"] if not o["warmup"]]
    op_ids = {o["id"] for o in ops}
    n = max(1, len(ops))
    spans = [s for s in record["spans"] if s["op"] in op_ids]
    clock = record["clock"]

    def to_ns(ms):
        return clock["nano"] + (ms - clock["wall_ms"]) * 1_000_000

    jobs = [j for j in record["jobs"] if j["op"] in op_ids]
    owner = attribute_jobs(jobs, spans, to_ns)
    plans = [p for p in record["plans"] if p["op"] in op_ids]
    selfs = self_times(spans)

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def spans_named(pred):
        return [s for s in spans if pred(s["name"])]

    def jobs_in(span_list):
        ids = {s["id"] for s in span_list}
        return [j for j in jobs if owner[j["job"]] in ids]

    def total(js, key):
        return sum(j[key] for j in js)

    quality = spans_named(lambda x: layer(x) == "quality")
    upsert = spans_named(lambda x: x == "etl.upsert")
    catalog = spans_named(lambda x: x in ("store.createTable", "store.createView"))
    build = spans_named(lambda x: x == "analytics.build")
    execs = spans_named(lambda x: x == "analytics.exec")
    calls = spans_named(lambda x: x in ("fixpoint.componentLabels", "fixpoint.stronglyConnected"))
    call_jobs = jobs_in(calls)
    analytic_ops = {s["op"] for s in build}
    staged = sum(o["staged"] for o in ops)
    staged_bytes = sum(o["staged_bytes"] for o in ops)
    returned = sum(o["returned"] for o in ops if o["id"] in analytic_ops)

    gaps, err = [], 0.0
    for o in ops:
        bounds = (o["start_ns"], o["end_ns"])
        busy = union_length(clip((to_ns(j["start_ms"]), to_ns(j["end_ms"])), bounds)
                            for j in jobs if j["op"] == o["id"] and j["end_ms"] >= 0)
        gaps.append((bounds[1] - bounds[0] - busy) / 1e9)
        # the operation's spans, self times summed, against its wall
        # time (which also holds the bus drain after the root span)
        mine = [selfs[s["id"]] for s in spans if s["op"] == o["id"]]
        if mine:
            wall = bounds[1] - bounds[0]
            err = max(err, abs(sum(mine) - wall) / wall)

    traced = [(o["end_ns"] - o["start_ns"]) / 1e9 for o in ops]
    setup = record["setup"]
    m = {
        "quality.self_s": (sum(selfs[s["id"]] for s in quality) / 1e9 / n, "s"),
        "quality.jobs": (len(jobs_in(quality)) / n, "count"),
        "etl.upsert_s": (sum(dur(s) for s in upsert) / n, "s"),
        "etl.upsert_jobs": (len(jobs_in(upsert)) / n, "count"),
        "etl.rows_rewritten_per_staged_row": (
            total(jobs_in(upsert), "output_records") / staged if staged else 0.0, "ratio"),
        "store.catalog_s": (sum(selfs[s["id"]] for s in catalog) / 1e9 / n, "s"),
        "store.bytes_written_per_staged_byte": (
            total(jobs, "output_bytes") / staged_bytes if staged_bytes else 0.0, "ratio"),
        "store.files_written": (sum(p["files_written"] for p in plans) / n, "count"),
        "analytics.build_s": (sum(dur(s) for s in build) / n, "s"),
        "analytics.exec_s": (sum(dur(s) for s in execs) / n, "s"),
        "analytics.rows_read_per_row_returned": (
            sum(o["rows"] for o in ops if o["id"] in analytic_ops) / returned if returned else 0.0,
            "ratio"),
        "fixpoint.call_s": (median([dur(s) for s in calls]), "s"),
        "fixpoint.jobs_per_call": (len(call_jobs) / len(calls) if calls else 0.0, "count"),
        "fixpoint.tasks_per_job": (total(call_jobs, "tasks") / len(call_jobs) if call_jobs else 0.0,
                                   "count"),
        "fixpoint.shuffle_bytes": (total(call_jobs, "shuffle_write") / len(calls) if calls else 0.0,
                                   "B"),
        "plan.analysis_ms": (sum(p["analysis_ms"] for p in plans) / n, "ms"),
        "plan.optimizer_ms": (sum(p["optimizer_ms"] for p in plans) / n, "ms"),
        "plan.planning_ms": (sum(p["planning_ms"] for p in plans) / n, "ms"),
        "sched.jobs": (len(jobs) / n, "count"),
        "sched.stages": (total(jobs, "stages") / n, "count"),
        "sched.tasks": (total(jobs, "tasks") / n, "count"),
        "sched.driver_gap_s": (median(gaps), "s"),
        "exec.cpu_s": (total(jobs, "cpu_ns") / 1e9 / n, "s"),
        "exec.run_s": (total(jobs, "run_ms") / 1e3 / n, "s"),
        "exec.gc_s": (total(jobs, "gc_ms") / 1e3 / n, "s"),
        "shuffle.write_bytes": (total(jobs, "shuffle_write") / n, "B"),
        "shuffle.read_bytes": (total(jobs, "shuffle_read") / n, "B"),
        "shuffle.fetch_wait_s": (total(jobs, "fetch_wait_ms") / 1e3 / n, "s"),
        "spill.disk_bytes": (total(jobs, "spill_disk") / n, "B"),
        "io.input_bytes": (total(jobs, "input_bytes") / n, "B"),
        "io.output_bytes": (total(jobs, "output_bytes") / n, "B"),
        "setup.session_s": (setup["session_s"], "s"),
        "setup.generate_s": (median(setup["generate_s"]), "s"),
        "setup.seed_table_s": (median(setup["seed_table_s"]), "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "trace.op_p50_s": (median(traced), "s"),
        "trace.self_sum_err": (err, "ratio"),
        "trace.unattributed_jobs": (sum(1 for j in jobs if owner[j["job"]] == 0) / n, "count"),
    }
    return m
