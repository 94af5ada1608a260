"""Turns the harness's raw samples (result.json) into the benchmark's
end-to-end and per-layer metrics, and computes span self times."""
import statistics
from collections import defaultdict

# End-to-end metrics: name -> unit (BENCHMARK.json lists the same names).
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "action_p50_s": "s",
    "action_tail_s": "s",
    "records_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

BUILDER_KEYS = ("jobs", "stages", "tasks", "task_cpu_s", "block_mb", "shuffle_write_mb")
EXEC_KEYS = ("jobs", "stages", "tasks", "task_cpu_s", "task_wait_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "gc_s", "block_mb")
# Registering modules of the curation rows; their per-module metrics are
# reported on every workload (0 where the module has no row).
MODULES = ("Clustering", "Dedup", "FuzzyDedup", "GraphOps", "Similarity", "TextAnalysis")


def tail(values):
    """The highest percentile with at least 10 samples beyond it, by
    nearest rank: with n samples that is the (n-10)-th smallest, the
    100*(n-10)/n-th percentile. Returns (value, percentile, n)."""
    n = len(values)
    if n < 11:
        raise ValueError(f"a tail needs at least 11 samples, got {n}")
    k = n - 10
    return sorted(values)[k - 1], 100.0 * k / n, n


def nearest_rank(values, pct):
    s = sorted(values)
    k = max(1, -(-len(s) * pct // 100))
    return s[int(k) - 1]


def actions(result):
    for p in result["passes"]:
        yield from p["actions"]


def end_to_end(result):
    setups = [s["start_s"] + s["tables_s"] + s["warmup_s"] for s in result["setups"]]
    passes = result["passes"]
    walls = [a["wall_s"] for p in passes for a in p["actions"]]
    value, pct, n = tail(walls)
    records = sum(records_out(a) for p in passes for a in p["actions"])
    m = {
        "setup_s": statistics.median(setups),
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "action_p50_s": statistics.median(walls),
        "action_tail_s": value,
        "records_per_s": records / sum(p["wall_s"] for p in passes),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    return m, {"action_tail_pct": pct, "action_samples": n, "passes": len(passes)}


def records_out(action):
    """Output records of an action: result rows of a query, or records
    POSTed correctly by a pipeline run."""
    if action.get("etl"):
        return action["etl"]["records_out"]
    return max(action["rows"], 0)


def per_layer(result):
    traced = result["passes"]
    n = len(traced)
    m = {}
    for key in ("start_s", "tables_s", "warmup_s"):
        m[f"session.{key}"] = statistics.median(s[key] for s in result["setups"])

    phase = defaultdict(float)
    module_time = defaultdict(float)
    catalyst_phase = defaultdict(float)
    for a in actions(result):
        for ph in ("builder", "catalyst", "exec"):
            phase[(ph, "s")] += a[f"{ph}_s"]
            for k, v in (a["layers"] or {}).get(ph, {}).items():
                phase[(ph, k)] += v
        mod = result["module_of"].get(a["name"])
        if mod:
            module_time[("builder", mod)] += a["builder_s"]
            module_time[("exec", mod)] += a["exec_s"]
        for k, v in a["catalyst_phases_ms"].items():
            catalyst_phase[k] += v / 1e3

    def per_pass(x):
        return x / n

    m["builder.s"] = per_pass(phase[("builder", "s")])
    for k in BUILDER_KEYS:
        m[f"builder.{k}"] = per_pass(phase[("builder", k)])
    m["catalyst.s"] = per_pass(phase[("catalyst", "s")])
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_s"] = per_pass(catalyst_phase[k])
    exec_s = per_pass(phase[("exec", "s")])
    m["exec.s"] = exec_s
    for k in EXEC_KEYS:
        m[f"exec.{k}"] = per_pass(phase[("exec", k)])
    m["exec.slot_util"] = (per_pass(phase[("exec", "task_run_s")]) / (exec_s * result["cores"])
                           if exec_s > 0 else 0.0)
    for mod in sorted(set(MODULES) | set(result["module_of"].values())):
        m[f"builder.s.{mod}"] = per_pass(module_time[("builder", mod)])
        m[f"exec.s.{mod}"] = per_pass(module_time[("exec", mod)])

    m.update(etl_layers(result, traced, n))
    # The JIT compilers' CPU, which cpu_s leaves out.
    m["jvm.jit_cpu_s"] = per_pass(sum(p["jit_cpu_s"] for p in traced))
    # What tracing adds to a pass: the bus drain and counter read after
    # each action, against the same pass without them.
    trace_s = sum(p["trace_s"] for p in traced)
    m["trace.overhead_frac"] = trace_s / (sum(p["wall_s"] for p in traced) - trace_s)
    return m


def etl_layers(result, traced, n):
    e = defaultdict(float)
    request_ms = []
    inflight_max = 0
    for p in traced:
        for a in p["actions"]:
            x = a.get("etl") or {}
            for k, v in x.items():
                if isinstance(v, (int, float)):
                    e[k] += v
            request_ms += x.get("request_ms", [])
            inflight_max = max(inflight_max, x.get("inflight_max", 0))
    wall = sum(a["wall_s"] for p in traced for a in p["actions"] if a.get("etl"))
    attempts = e["attempts"]
    return {
        "sources.page_requests": e["page_requests"] / n,
        "sources.detail_requests": e["detail_requests"] / n,
        "sources.inflight_mean": (e["source_busy_s"] + e["sink_busy_s"]) / wall if wall else 0.0,
        "sources.inflight_max": float(inflight_max),
        "sources.busy_s": e["source_busy_s"] / n,
        "http.attempts": attempts / n,
        "http.retries": (attempts - e["requests"]) / n,
        "http.useful_ratio": (attempts - e["transient_failures"]) / attempts if attempts else 0.0,
        "http.request_p50_ms": nearest_rank(request_ms, 50) if request_ms else 0.0,
        "http.request_p99_ms": nearest_rank(request_ms, 99) if request_ms else 0.0,
        "sinks.posts": e["posts"] / n,
        "sinks.batch_fill": e["records_out"] / (e["posts"] * 100) if e["posts"] else 0.0,
        "sinks.busy_s": e["sink_busy_s"] / n,
        "etl.records_in": e["records_in"] / n,
        "etl.records_dropped": e["records_dropped"] / n,
    }


def self_times(spans):
    """Adds `self_ms` to each span: its duration minus the part of it that
    its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[(s["trace"], s["parent"])].append((s["start_ms"], s["end_ms"]))
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur = 0.0, lo
        for a, b in sorted(children.get((s["trace"], s["id"]), [])):
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        s["self_ms"] = max(0.0, (hi - lo) - covered)
    return spans
