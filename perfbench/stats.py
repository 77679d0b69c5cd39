"""Turns the harness's raw samples into the benchmark's metrics.

Pure functions over plain dicts, so the statistics are testable without a
JVM (see test_stats.py).
"""
import statistics

# Layer metrics the harness sums per pass; run.py reports the median pass.
PASS_LAYERS = [
    "operators.build_s", "operators.build_jobs",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "plans.graft_rules_s",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.busy_share",
    "exec.driver_gap_s", "exec.gc_s", "exec.failed_tasks",
    "exec.stage_retries", "exec.spill_mb",
    "tables.scan_rows", "tables.scan_mb", "tables.files_read", "tables.scan_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.records",
    "shuffle.fetch_wait_s",
    "assets.built_in_pass", "assets.hit_ratio", "assets.evicted_blocks",
    "sources.write_mb", "sources.write_rows", "sources.files_written",
    "sources.write_s",
    "session.fn_replaced_warns", "trace.pass_s", "trace.drain_s",
]


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q3) as `statistics.quantiles(xs, n=4)` gives them; a single
    sample is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def tail(xs):
    """The sample at the highest percentile that leaves at least ten
    samples above it: with n sorted samples that is the (n-10)-th, at
    percentile 100*(n-10)/n. Below 22 samples that percentile is under the
    median, which is no tail, so the maximum is returned at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n < 22:
        return {"value": s[-1], "percentile": 100.0, "samples": n, "above": 0}
    i = n - 11
    return {"value": s[i], "percentile": 100.0 * (i + 1) / n,
            "samples": n, "above": n - 1 - i}


def summary(xs):
    q1, q3 = quartiles(xs)
    return {"median": median(xs), "q1": q1, "q3": q3, "samples": len(xs)}


def executions(passes):
    """Every timed (query, pass) execution."""
    return [s for p in passes for s in p["samples"]]


def end_to_end(raw, wrong_results):
    """Metric name -> (value, unit, detail) from an untraced run."""
    passes = raw["passes"]
    runs = executions(passes)
    ok = [s["latency_s"] for s in runs if s["ok"]]
    failed = sum(1 for s in runs if not s["ok"])
    n_queries = len(raw["queries"])
    pass_s = summary([p["wall_s"] for p in passes])
    cpu_s = summary([p["cpu_s"] for p in passes])
    lat = summary(ok) if ok else None
    tl = tail(ok) if ok else None
    return {
        "setup_s": (raw["setup_s"], "s", None),
        "pass_s": (pass_s["median"], "s", pass_s),
        "pass_cpu_s": (cpu_s["median"], "s", cpu_s),
        "query_p50_s": (lat["median"] if lat else float("nan"), "s", lat),
        "query_tail_s": (tl["value"] if tl else float("nan"), "s", tl),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB", None),
        "success_ratio": ((len(runs) - failed) / len(runs), "ratio",
                          {"failed_ratio": failed / len(runs),
                           "failed": failed, "attempted": len(runs)}),
        "oracle_match_ratio": ((n_queries - wrong_results) / n_queries, "ratio",
                               {"wrong_results": wrong_results,
                                "queries": n_queries}),
    }


def per_layer(raw):
    """Metric name -> (value, unit): the median timed pass of each layer
    sum, plus the set-up figures of the session and asset layers."""
    passes = raw["passes"]
    out = {}
    for name in PASS_LAYERS:
        out[name] = median([p["layers"].get(name, 0.0) for p in passes])
    out["session.start_s"] = raw["session_start_s"]
    out["session.warm_pass_s"] = raw["warm_pass"]["wall_s"]
    out.update(raw["assets_after_setup"])
    return {k: (v, unit_of(k)) for k, v in out.items()}


def per_query(raw):
    """Query -> median latency and median layer counters over timed passes."""
    by = {}
    for s in executions(raw["passes"]):
        if s["ok"]:
            by.setdefault(s["name"], []).append(s)
    out = {}
    for name, ss in sorted(by.items()):
        keys = sorted({k for s in ss for k in s["layers"]})
        out[name] = {"latency_s": median([s["latency_s"] for s in ss]),
                     "layers": {k: median([s["layers"].get(k, 0.0) for s in ss])
                                for k in keys}}
    return out


def unit_of(name):
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "mb": "MB", "ratio": "ratio", "share": "ratio"}.get(
        suffix, "count")
