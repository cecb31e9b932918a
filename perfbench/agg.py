"""Aggregation of a run's records into end-to-end and per-layer metrics.

Pure functions over the JSON records the harness writes, so every rule
here (median, tail percentile, row base, job attribution, self time) is
unit-tested without a Spark session.
"""
import math
import statistics

# layers timed call by call (construct / plan / exec / eager jobs)
CALL_LAYERS = ["sync", "json", "index", "Pipeline", "SearchIndexStore",
               "VectorIndexStore"]
# modules Spark jobs are attributed to, by the graft frames of their call
# site, and reported. `core` receives a job only when its call site holds
# graft.core frames alone, which no workload call produces, so it is left
# out of the metrics (its count, if any, is in the trace file).
JOB_MODULES = ["sync", "json", "index", "sinks", "text", "dedup",
               "curate", "sim", "DecisionStore", "SearchIndexStore",
               "VectorIndexStore", "SpanIndexStore"]
JOB_METRICS = [("jobs", "count"), ("tasks", "count"), ("empty_task_frac", "ratio"),
               ("shuffle_bytes", "bytes"), ("task_cpu_s", "s"),
               ("max_task_s", "s"), ("busy_s", "s")]
# jobs whose first non-core frame is the composition layer
PIPELINE_JOB_METRICS = [("jobs", "count"), ("task_cpu_s", "s")]
STORES = ["DecisionStore", "SearchIndexStore", "VectorIndexStore", "SpanIndexStore"]
TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, min_beyond=TAIL_MIN_BEYOND):
    """The highest whole percentile p with at least `min_beyond` samples
    strictly above the p-th percentile sample, and that sample. None
    when the run has too few samples for any tail (p below 50)."""
    n = len(samples)
    if n == 0:
        return None
    xs = sorted(samples)
    for p in range(99, 49, -1):
        # nearest-rank percentile: the sample at rank ceil(p/100 * n)
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            return {"percentile": p, "value": xs[rank - 1], "n": n,
                    "beyond": n - rank}
    return None


def rows_per_s(rows_per_cycle, cycle_p50_s):
    """Input rows per cycle (median over cycles) over the median cycle."""
    base = median(rows_per_cycle)
    return {"value": base / cycle_p50_s if cycle_p50_s > 0 else 0.0,
            "base_rows": base}


def module_of(frame):
    """The repo module of a `graft.<pkg>.<Class>.<method>` frame: the four
    persisted stores and the composition layer by class name, everything
    else by package."""
    parts = frame.rsplit(".", 1)[0].split(".")
    leaf = parts[-1].split("$")[0]
    if leaf in STORES or leaf == "Pipeline" or len(parts) < 3:
        return leaf
    return parts[1]


def attribute(site, fallback):
    """A job's module: the first graft frame outside graft.core, so a
    materializeOnce pin counts against the module that asked for it;
    core only when no such frame exists; `fallback` (the module whose
    plan the call runs, by default the calling layer) when the call site
    holds no graft frame at all (the benchmark's own write of a frame
    the layer returned)."""
    frames = [f for f in site if f.startswith("graft.")]
    for f in frames:
        if not f.startswith("graft.core."):
            return module_of(f)
    if frames:
        return "core"
    return fallback or "unattributed"


def measured(recs, kind, traced=None):
    """Records of one kind from measured cycles (ids cNNN)."""
    out = [r for r in recs if r["kind"] == kind and str(r.get("cycle", "")).startswith("c")]
    if traced is not None:
        out = [r for r in out if r.get("traced") == traced]
    return out


def layer_of_call(call_id):
    """`c001/sync.syncDiff#12` -> `sync`."""
    if not call_id or "/" not in call_id:
        return ""
    return call_id.split("/", 1)[1].split(".", 1)[0]


def call_family(recs):
    """Per call layer: median per-cycle construct/plan/exec seconds and
    eager jobs (jobs started before the call returned)."""
    calls = measured(recs, "call", traced=True)
    jobs = [j for j in measured(recs, "job") if j["call"]]
    cycles = sorted({c["cycle"] for c in calls})
    out = {}
    for layer in CALL_LAYERS:
        per = {k: [] for k in ("construct_s", "plan_s", "exec_s", "eager_jobs")}
        for cyc in cycles:
            cs = [c for c in calls if c["cycle"] == cyc and c["layer"] == layer]
            for k in ("construct_s", "plan_s", "exec_s"):
                per[k].append(sum(c[k] for c in cs))
            ids = {c["id"] for c in cs}
            per["eager_jobs"].append(sum(
                1 for j in jobs if j["call"] in ids and j["phase"] in ("construct", "plan")))
        for k, xs in per.items():
            out[f"{layer}.{k}"] = median(xs)
    return out


def job_family(recs):
    """Per module: jobs, tasks, empty-task share, shuffle bytes, task CPU,
    slowest task and busy seconds, per traced cycle (median), from the
    listener's job records; plus all jobs and tasks per cycle."""
    jobs = [j for j in measured(recs, "job") if j["call"]]
    cycles = sorted({j["cycle"] for j in jobs}) or [""]
    by_mod = {}
    for j in jobs:
        m = attribute(j["site"], j.get("module") or layer_of_call(j["call"]))
        by_mod.setdefault(m, []).append(j)
    out = {"cycle.jobs": median([sum(1 for j in jobs if j["cycle"] == c) for c in cycles]),
           "cycle.tasks": median([sum(j["tasks"] for j in jobs if j["cycle"] == c)
                                  for c in cycles])}
    mods = JOB_MODULES + ["Pipeline"]
    for m in mods:
        js = by_mod.get(m, [])
        per_cycle = lambda f: median([sum(f(j) for j in js if j["cycle"] == c) for c in cycles])
        tasks = sum(j["tasks"] for j in js)
        vals = {
            "jobs": per_cycle(lambda j: 1),
            "tasks": per_cycle(lambda j: j["tasks"]),
            "empty_task_frac": (sum(j["empty_tasks"] for j in js) / tasks) if tasks else 0.0,
            "shuffle_bytes": per_cycle(lambda j: j["shuffle_bytes"]),
            "task_cpu_s": per_cycle(lambda j: j["task_cpu_s"]),
            "max_task_s": max([j["max_task_s"] for j in js], default=0.0),
            "busy_s": per_cycle(lambda j: (j["end_ms"] - j["start_ms"]) / 1e3),
        }
        keep = PIPELINE_JOB_METRICS if m == "Pipeline" else JOB_METRICS
        for k, _ in keep:
            out[f"{m}.{k}"] = vals[k]
    return out, {m: len(v) for m, v in by_mod.items()}


def covered_s(intervals):
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spans_summary(recs):
    """Self time per layer and the cycle time no call span covers.

    A layer's self time is its spans' duration minus what their child
    spans cover; call spans have no children here (the benchmark times
    calls from outside), so a call layer's self time is its spans'
    total and the cycle's self time is `unattributed_s`."""
    spans = [s for s in recs if s["kind"] == "span" and s["cycle"].startswith("c")]
    cycles = [s for s in spans if s["layer"] == "cycle"]
    calls = [s for s in spans if s["layer"] != "cycle"]
    self_s, unattributed, coverage = {}, [], []
    for c in calls:
        self_s[c["layer"]] = self_s.get(c["layer"], 0.0) + (c["end_ms"] - c["start_ms"]) / 1e3
    for cyc in cycles:
        ivs = [(s["start_ms"], s["end_ms"]) for s in calls if s["cycle"] == cyc["cycle"]]
        wall = (cyc["end_ms"] - cyc["start_ms"]) / 1e3
        cov = covered_s(ivs) / 1e3
        unattributed.append(max(0.0, wall - cov))
        coverage.append(cov / wall if wall > 0 else 1.0)
    n = max(1, len(cycles))
    return {"self_s_per_cycle": {k: v / n for k, v in sorted(self_s.items())},
            "unattributed_s": median(unattributed),
            "span_coverage": median(coverage) if coverage else 0.0}
