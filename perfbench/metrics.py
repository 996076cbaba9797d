"""Pure functions that turn one run's raw record into metrics.

The JVM side (`src/main/scala/graft/perfbench/Runner.scala`) records what
happened: per-query walls and results, spans, and the jobs and stages its
listener saw. Everything derived from that record is computed here, so the
rules can be tested without a JVM (`test_metrics.py`).
"""
import math
import random
import statistics

# Modules whose public `queries` maps own the workloads' queries.
MODULES = ["graphops", "analytics", "relational", "dedup", "similarity",
           "textops", "multimodal", "formats"]
LADDER = [50.0, 75.0, 90.0, 95.0, 99.0, 99.9]

# Metric name -> unit. BENCHMARK.json lists the same names.
END_TO_END_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "queries_per_s": "1/s",
}
PER_LAYER_UNITS = {
    "setup.jvm_s": "s", "setup.session_s": "s", "setup.first_job_s": "s",
    "construct_s": "s", "plan_s": "s", "execute_s": "s",
    "spark.jobs": "count", "spark.first_jobs": "count",
    "spark.driver_gap_s": "s", "spark.stages": "count",
    "spark.tasks": "count", "spark.tiny_task_frac": "fraction",
    "spark.task_wait_s": "s", "spark.task_busy_s": "s",
    "spark.cpu_util": "fraction", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "first_touch_s": "s",
    "memo.builds_first": "count", "memo.builds_steady": "count",
    "storage_mb": "MB", "storage.rdd_count": "count",
    "jvm.heap_live_mb": "MB",
    "host.sentinel_start_s": "s", "host.sentinel_end_s": "s",
    "host.steal_frac": "fraction",
    **{m + suffix: "s" for m in MODULES for suffix in (".first_s", ".steady_s")},
    "query_p50_s": "s", "query_samples": "count", "query_tail_pct": "%",
    "query_tail_s": "s",
    **{c + suffix: unit for c in ("read", "write", "path")
       for suffix, unit in (("_p50_s", "s"), ("_samples", "count"))},
    "trace.overhead_frac": "fraction", "trace.layer_cover_min": "fraction",
    "trace.drain_timeouts": "count", "error_rate": "fraction",
}


# --- sample summaries -------------------------------------------------------

def nearest_rank(sorted_values, pct):
    """The pct-th percentile by nearest rank, and how many samples lie
    strictly beyond its rank."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1], n - rank


def summary(values):
    """Median plus the highest ladder percentile with at least ten samples
    beyond it, and the sample count. `tail_pct` is None when fewer than
    twenty samples leave no percentile above the median that qualifies
    (the median itself is reported only if ten samples lie beyond it)."""
    xs = sorted(values)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else 0.0,
           "tail_pct": None, "tail": None}
    for pct in LADDER:
        if not xs:
            break
        value, beyond = nearest_rank(xs, pct)
        if beyond >= 10:
            out["tail_pct"], out["tail"] = pct, value
    return out


def median_or_zero(values):
    return statistics.median(values) if values else 0.0


# --- intervals and spans ----------------------------------------------------

def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end] intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span (same unit as its start/end): its duration
    minus the part of it that its children's intervals cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def trace_spans(raw):
    """The run's spans plus one span per Spark job, parented to the phase
    that issued it, each with its self time in ms."""
    spans = [dict(s) for s in raw["spans"]]
    next_id = 1 + max(s["id"] for s in spans)
    for j in raw["jobs"]:
        spans.append({"id": next_id, "parent": j["span"], "kind": "job",
                      "name": "job%d" % j["id"], "start": j["start"],
                      "end": j["end"]})
        next_id += 1
    st = self_times(spans)
    for s in spans:
        s["self_ms"] = st[s["id"]]
    return spans


def driver_gap(start, end, job_intervals):
    """Wall of [start, end] not covered by any running job."""
    return (end - start) - union_length(job_intervals, start, end)


def tiny_task_frac(stages):
    """Tasks under 10 ms over all tasks that ran. The base is the tasks
    the listener saw end, not the stages' declared partition counts."""
    ran = sum(s["tasks"] for s in stages)
    return sum(s["tiny_tasks"] for s in stages) / ran if ran else 0.0


# --- query order and results ------------------------------------------------

def pass_orders(workload, seed, queries, n_steady):
    """The first pass in the workload's listed order, then one permutation
    per steady pass, fixed by (workload, seed). The first pass keeps one
    order because which query pays a first-touch build depends on it.
    String seeds hash the same way on every Python 3 run."""
    rng = random.Random(f"{workload}:{seed}")
    orders = [list(queries)]
    for _ in range(n_steady):
        order = list(queries)
        rng.shuffle(order)
        orders.append(order)
    return orders


def check_results(passes, expected):
    """Count failed query executions: an exception, a result that differs
    from the expected file, or a steady pass that does not reproduce the
    first pass's value. Returns (attempted, failed, problems)."""
    attempted, failed, problems = 0, 0, []
    first = {}
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            got = (q["rows"], q["checksum"])
            why = None
            if q["error"]:
                why = "error: " + q["error"]
            elif q["name"] not in expected:
                why = "no expected result recorded"
            elif got != (expected[q["name"]]["rows"],
                         expected[q["name"]]["checksum"]):
                why = "expected %s/%s, got %s/%s" % (
                    expected[q["name"]]["rows"],
                    expected[q["name"]]["checksum"], *got)
            elif q["name"] in first and first[q["name"]] != got:
                why = "differs from first pass %s/%s" % first[q["name"]]
            first.setdefault(q["name"], got)
            if why:
                failed += 1
                problems.append("pass %d %s: %s" % (p["index"], q["name"], why))
    return attempted, failed, problems


# --- metrics ----------------------------------------------------------------

def wall_s(rec):
    return (rec["end"] - rec["start"]) / 1e3


def steady(raw):
    return [p for p in raw["passes"] if p["index"] > 0]


def rate(passes):
    """Queries completed per second over whole passes."""
    return sum(len(p["queries"]) for p in passes) / sum(wall_s(p) for p in passes)


def end_to_end(raw):
    return {
        "setup_s": raw["setup"]["setup_s"],
        "first_pass_s": wall_s(raw["passes"][0]),
        "queries_per_s": rate(steady(raw)),
    }


def per_layer(raw, classes):
    """Per-layer metrics from a traced run. `classes` maps an op-class
    name (read/write/path) to the workload's queries in that class."""
    passes = raw["passes"]
    first, st = passes[0], steady(raw)
    traced = [p for p in st if p["traced"]]
    # pass 1 of a traced run is its untraced warm-up, outside the A/B
    untraced = [p for p in st if not p["traced"] and p["index"] > 1]
    jobs_by_span, stages_by_span = {}, {}
    for j in raw["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    for s in raw["stages"]:
        stages_by_span.setdefault(s["span"], []).append(s)
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}

    def pass_of(span_id):
        while span_id in by_id and by_id[span_id]["kind"] != "pass":
            span_id = by_id[span_id]["parent"]
        return by_id.get(span_id, {}).get("name")

    pass_jobs, pass_stages = {}, {}
    for sid, js in jobs_by_span.items():
        pass_jobs.setdefault(pass_of(sid), []).extend(js)
    for sid, ss in stages_by_span.items():
        pass_stages.setdefault(pass_of(sid), []).extend(ss)

    def per_pass(ps, fn):
        return median_or_zero([fn(p) for p in ps])

    def layer(p, key):
        return sum(q[key] for q in p["queries"])

    def jobs_of(p):
        return pass_jobs.get("pass%d" % p["index"], [])

    def stages_of(p):
        return pass_stages.get("pass%d" % p["index"], [])

    def gap(p):
        qspans = [s for s in spans if s["kind"] == "query" and
                  pass_of(s["id"]) == "pass%d" % p["index"]]
        ivals = [(j["start"], j["end"]) for j in jobs_of(p)]
        return sum(driver_gap(s["start"], s["end"], ivals) for s in qspans) / 1e3

    def mb(p, key):
        return sum(s[key] for s in stages_of(p)) / 1048576.0

    def busy(p):
        return sum(s["task_run_ms"] for s in stages_of(p)) / 1e3

    cpus = raw["cpus"]
    steady_wall = per_pass(st, wall_s)
    m = {
        "setup.jvm_s": raw["setup"]["jvm_s"],
        "setup.session_s": raw["setup"]["session_s"],
        "setup.first_job_s": raw["setup"]["first_job_s"],
        "construct_s": per_pass(traced, lambda p: layer(p, "construct_s")),
        "plan_s": per_pass(traced, lambda p: layer(p, "plan_s")),
        "execute_s": per_pass(traced, lambda p: layer(p, "execute_s")),
        "spark.jobs": per_pass(traced, lambda p: len(jobs_of(p))),
        "spark.first_jobs": len(jobs_of(first)),
        "spark.driver_gap_s": per_pass(traced, gap),
        "spark.stages": per_pass(traced, lambda p: len(stages_of(p))),
        "spark.tasks": per_pass(traced, lambda p: sum(s["tasks"] for s in stages_of(p))),
        "spark.tiny_task_frac": per_pass(traced, lambda p: tiny_task_frac(stages_of(p))),
        "spark.task_wait_s": per_pass(traced, lambda p: sum(s["task_wait_ms"] for s in stages_of(p)) / 1e3),
        "spark.task_busy_s": per_pass(traced, busy),
        "spark.cpu_util": per_pass(traced, lambda p: busy(p) / (wall_s(p) * cpus)),
        "spark.gc_s": per_pass(traced, lambda p: sum(s["gc_ms"] for s in stages_of(p)) / 1e3),
        "spark.shuffle_read_mb": per_pass(traced, lambda p: mb(p, "shuffle_read")),
        "spark.shuffle_write_mb": per_pass(traced, lambda p: mb(p, "shuffle_write")),
        "spark.spill_mb": per_pass(traced, lambda p: mb(p, "spill_disk")),
        "first_touch_s": wall_s(first) - steady_wall,
        "memo.builds_first": sum(q["memo_builds"] for q in first["queries"]),
        "memo.builds_steady": sum(q["memo_builds"] for p in st for q in p["queries"]),
        # peak over query boundaries, not the end of the run: what the
        # session holds at the end depends on which query ran last
        "storage_mb": max(q["storage_mb"] for p in st for q in p["queries"]),
        "storage.rdd_count": raw["rdd_count"],
        "jvm.heap_live_mb": raw["heap_live_mb"],
        "host.sentinel_start_s": raw["sentinel_start_s"],
        "host.sentinel_end_s": raw["sentinel_end_s"],
        "host.steal_frac": raw["steal_frac"],
    }
    for mod in MODULES:
        m[mod + ".first_s"] = sum(wall_s(q) for q in first["queries"]
                                  if q["module"] == mod)
        m[mod + ".steady_s"] = per_pass(st, lambda p: sum(
            wall_s(q) for q in p["queries"] if q["module"] == mod))
    walls = [wall_s(q) for p in st for q in p["queries"]]
    tail = summary(walls)
    m["query_p50_s"] = tail["p50"]
    m["query_samples"] = tail["n"]
    m["query_tail_pct"] = tail["tail_pct"] or 0.0
    m["query_tail_s"] = tail["tail"] or 0.0
    for cls in ("read", "write", "path"):
        names = set(classes.get(cls, ()))
        s = summary([wall_s(q) for p in st for q in p["queries"]
                     if q["name"] in names])
        m[cls + "_p50_s"] = s["p50"]
        m[cls + "_samples"] = s["n"]
    # paired in-JVM A/B: traced vs untraced steady passes of one session
    m["trace.overhead_frac"] = (1.0 - rate(traced) / rate(untraced)
                                if traced and untraced else 0.0)
    # worst query: construct + plan + execute as a share of its wall
    m["trace.layer_cover_min"] = min(
        (q["construct_s"] + q["plan_s"] + q["execute_s"]) / wall_s(q)
        for p in [first] + traced for q in p["queries"])
    m["trace.drain_timeouts"] = raw["drain_timeouts"]
    return m
