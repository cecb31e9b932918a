#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload, measured end to end and
per layer from outside the engine.

    python3 perfbench/run.py --workload sync_index --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine (the
repository's root sbt project) and the harness from source (sbt,
offline); every run starts the engine with the JVM options of the root
build. Inputs are generated from the seed under perfbench/work/ and
reused by later runs with the same seed. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import agg  # noqa: E402

WORK = os.path.join(HERE, "work")
# written by the build: the root build's javaOptions, then the classpath
LAUNCH = os.path.join(HERE, "target", "launch.txt")

# a run must end within 180 s; one that builds the engine first, within 900 s
DEADLINE_S, BUILD_DEADLINE_S = 170, 880

# curate_batch corpus size (documents per cycle): about half the test
# corpora's sf0.01, so a run's DuckDB oracle check stays within the time
# budget, and a multiple of 90, so every corpus holds each document
# length equally often (gen._doc_text)
CURATE_DOCS = 270

WORKLOADS = ("sync_index", "curate_batch")  # see README.md for why each

END_TO_END = [("setup_s", "s"), ("cycle_p50_s", "s"), ("rows_per_s", "1/s"),
              ("cpu_s_per_cycle", "s"), ("heap_retained_mb", "MB"),
              ("store_bytes_per_input_byte", "ratio")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


T0 = time.time()


def log(msg):
    print(f"[perfbench +{time.time() - T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256(f"nproc={nproc()}".encode())
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "project", "build.properties"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project")):
        paths = []
        if os.path.isfile(base):
            paths = [base]
        for d, dirs, files in os.walk(base):
            dirs[:] = [x for x in dirs if x not in ("target", "project")] \
                if d != os.path.join(HERE, "project") else []
            paths += [os.path.join(d, f) for f in files]
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness and write the launch spec;
    skipped (and False returned) when the sources are unchanged since the
    last build."""
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(stamp) and open(stamp).read() == digest:
        return False
    os.makedirs(WORK, exist_ok=True)
    # the root build sizes the engine's heap from SPARK_DRIVER_MEM at
    # 1 GiB per task thread; Graft.session runs one thread per core
    env = dict(os.environ, SPARK_DRIVER_MEM=f"{nproc()}g")
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log("building engine + harness (sbt compile)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile", "launchSpec"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return True


# ---------------------------------------------------------------- inputs

def cycles_needed(seconds):
    """Cycle inputs to generate: enough for 5-second cycles (about four
    times faster than today's), so a faster engine measures more cycles
    rather than running out of inputs."""
    return max(1, int(seconds) // 5)


def make_inputs(workload, seed, n_cycles):
    """Generate (once per seed) the cycle inputs and the crawl or corpus
    the workload's stores are built from; returns the input root and the
    cycle dir names."""
    import gen
    from concurrent.futures import ProcessPoolExecutor
    # keyed by the generator's source too, so a changed generator regenerates
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    root = os.path.join(WORK, "inputs", workload, f"seed-{seed}-{version}")
    cyc = [f"cyc-{i:03d}" for i in range(n_cycles)]
    # one sequence: the crawl or corpus the stores are built from, then the cycles
    base = os.path.join(root, "base")
    dirs = [os.path.join(root, d) for d in cyc]
    if workload == "sync_index":
        jobs = [(gen.base_crawl, (base, seed))]
        jobs += [(gen.sync_snapshot, (d, seed, k)) for k, d in enumerate(dirs)]
    else:
        jobs = [(gen.corpus, (d, seed, k, CURATE_DOCS)) for k, d in enumerate([base, *dirs])]
    todo = [(f, a) for f, a in jobs if not os.path.isdir(a[0])]
    if todo:
        with ProcessPoolExecutor(min(4, os.cpu_count() or 1)) as ex:
            futs = [ex.submit(gen.ensure, a[0], _Maker(f, a[1:])) for f, a in todo]
            for fu in futs:
                fu.result()
    return root, cyc


class _Maker:
    """Picklable `make(path)` for gen.ensure."""
    def __init__(self, fn, args):
        self.fn, self.args = fn, args

    def __call__(self, path):
        self.fn(path, *self.args)


def input_stats(d):
    """Rows and bytes of an input dir's parquet tables."""
    import duckdb
    con = duckdb.connect()
    rows = bytes_ = 0
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            p = os.path.join(d, f)
            rows += con.sql(f"SELECT count(*) FROM '{p}'").fetchone()[0]
            bytes_ += os.path.getsize(p)
    con.close()
    return rows, bytes_


# ---------------------------------------------------------------- box health

def cpu_sample():
    """Aggregate /proc/stat cpu counters (user nice system idle iowait irq
    softirq steal), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    return [int(x) for x in line.split()[1:9]]
    except OSError:
        return None
    return None


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def box_health(c0, c1, load_pre):
    if c0 and c1:
        d = [max(0, b - a) for a, b in zip(c0, c1)]
        tot = max(1, sum(d))
        steal, iowait = d[7] / tot, d[4] / tot
    else:
        steal = iowait = -1.0
    return {"steal_share": round(steal, 4), "iowait_share": round(iowait, 4),
            "load1_pre": load_pre, "load1_post": load1()}


# ---------------------------------------------------------------- run

def launch_spec():
    """The root build's javaOptions and the runtime classpath."""
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    return lines[:-1], lines[-1]


def run_jvm(args, work, inputs, cycles, nproc, deadline):
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    opts, cp = launch_spec()
    cmd = ["java", *opts, f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=60",
           "-cp", cp, "perfbench.Main", "--workload", args.workload, "--inputs", inputs,
           "--work", work, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--nproc", str(nproc),
           "--cycles", ",".join(cycles)]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("engine run exceeded the time limit", 4)
    if rc != 0:
        fail(f"engine run failed (exit {rc}), see {os.path.join(work, 'jvm.log')}", 5)


def conf_digest(conf, work):
    """Digest of the session conf, minus per-process ids and ports, with
    the run's own directory written as `<run>`."""
    volatile = ("spark.app.id", "spark.app.startTime", "spark.driver.port",
                "spark.driver.host", "spark.executor.id", "spark.app.submitTime")
    stable = [(k, v.replace(work, "<run>")) for k, v in conf if k not in volatile]
    return hashlib.sha256(json.dumps(stable).encode()).hexdigest()[:16]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "scripts", "check_oracle.py")):
        fail("engine sources (src/main/scala/graft, scripts/check_oracle.py) "
             "not found: run from the root of a graft checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")

    deadline = T0 + (BUILD_DEADLINE_S if build() else DEADLINE_S)
    n_cycles = cycles_needed(args.seconds)
    inputs, cycles = make_inputs(args.workload, args.seed, n_cycles)
    work = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    log(f"inputs ready ({len(cycles)} cycle inputs); starting the engine")
    c0, load_pre = cpu_sample(), load1()
    run_jvm(args, work, inputs, cycles, nproc(), deadline)
    box = box_health(c0, cpu_sample(), load_pre)

    log("engine done; checking outputs")
    recs = [json.loads(line) for line in open(os.path.join(work, "records.jsonl"))]
    one = {r["kind"]: r for r in recs}
    result = evaluate(args, recs, one, inputs)

    xmx = [o[4:] for o in launch_spec()[0] if o.startswith("-Xmx")]
    run_record = {"workload": args.workload, "seed": args.seed, "nproc": nproc(),
                  "xmx": xmx[-1] if xmx else "default", "conf_digest": conf_digest(one["conf"]["conf"], work),
                  "input_rows_per_cycle": result.pop("rows_base"),
                  "input_bytes_per_cycle": result.pop("bytes_base"),
                  "cycles": result.pop("n_cycles"), "box": box,
                  "seconds": args.seconds, "trace": args.trace}
    log("checked")
    print("run " + json.dumps(run_record, sort_keys=True))
    for line in result.pop("lines"):
        print(line)
    print(json.dumps(result))
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    return 0


def evaluate(args, recs, one, inputs):
    """Check every measured output, then aggregate the metrics."""
    from check import Checker
    checker = Checker(ROOT, one["oracles"]["sql"])
    calls = [r for r in recs if r["kind"] == "call"]
    lines, failed, attempted = [], 0, 0
    for c in calls:
        err = c["error"] if not c["ok"] else None
        if err is None:
            try:
                err = checker.check(c["check"])
            except Exception as e:  # a check that cannot run is a failure
                err = f"check error: {e}"
        attempted += 1
        if err is not None:
            failed += 1
            lines.append(f"FAIL {c['cycle']} {c['layer']}.{c['call']}: {err}")
    checker.close()

    # a traced run's cycles are all traced: its end-to-end lines are
    # printed for reference, its JSON holds the per-layer metrics only
    cyc = agg.measured(recs, "cycle")
    walls = [c["wall_s"] for c in cyc]
    cycle_p50 = agg.median(walls)
    stats = {c: input_stats(os.path.join(inputs, c_dir))
             for c, c_dir in ((c["cycle"], "cyc-" + c["cycle"][1:]) for c in cyc)}
    rows = [stats[c["cycle"]][0] for c in cyc]
    rps = agg.rows_per_s(rows, cycle_p50)
    stores = one["stores"]["stores"]
    snap = one["snapshot"]
    e2e = {
        "setup_s": one["setup"]["setup_s"],
        "cycle_p50_s": cycle_p50,
        "rows_per_s": rps["value"],
        "cpu_s_per_cycle": agg.median([c["cpu_s"] for c in cyc]),
        "heap_retained_mb": snap["heap_retained_mb"],
        "store_bytes_per_input_byte": snap["persisted_bytes"] / stats[snap["cycle"]][1],
    }
    units = dict(END_TO_END)
    for k, _ in END_TO_END:
        lines.append(f"metric {k} = {e2e[k]:.6g} {units[k]} (lower is better)"
                     if k != "rows_per_s" else
                     f"metric {k} = {e2e[k]:.6g} {units[k]} (higher is better; "
                     f"base {rps['base_rows']:.0f} input rows per cycle / cycle_p50_s)")
    tail = agg.tail_percentile(walls)
    lines.append("metric cycle_tail_s = " + (
        f"{tail['value']:.6g} s at p{tail['percentile']} (n={tail['n']}, "
        f"{tail['beyond']} beyond)" if tail else
        f"omitted (n={len(walls)} cycles; needs >= {agg.TAIL_MIN_BEYOND} beyond p50)"))
    lines.append(f"metric ops_failed_frac = {failed / max(1, attempted):.6g} "
                 f"({failed} of {attempted} calls; lower is better)")
    if any(w.get("exhausted") for w in recs if w["kind"] == "window"):
        lines.append("note: the window ran out of generated cycle inputs")

    result = {"correct": failed == 0 and not any(
                  l.startswith("FAIL") for l in lines),
              "attempted": attempted, "failed": failed}
    if args.trace:
        metrics = per_layer(recs, one, stores, cyc, lines, args)
    else:
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k, _ in END_TO_END}
    result["metrics"] = metrics
    result["lines"] = lines
    result["rows_base"] = rps["base_rows"]
    result["bytes_base"] = stats[snap["cycle"]][1]
    result["n_cycles"] = len(walls)
    return result


def untraced_cycle_p50(workload):
    """The median cycle_p50_s of the untraced runs of a workload whose
    records are in this checkout, and how many there are; None if none."""
    p50s = []
    for d in sorted(os.listdir(os.path.join(WORK, "runs"))):
        path = os.path.join(WORK, "runs", d, "records.jsonl")
        if d.startswith(workload + "-") and d.endswith("-0") and os.path.exists(path):
            try:
                with open(path) as f:
                    recs = [json.loads(line) for line in f]
            except ValueError:  # a run cut off mid-record
                continue
            walls = [c["wall_s"] for c in agg.measured(recs, "cycle")]
            if walls:
                p50s.append(agg.median(walls))
    return {"value": agg.median(p50s), "runs": len(p50s)} if p50s else None


def per_layer(recs, one, stores, cyc, lines, args):
    calls = agg.call_family(recs)
    jobs, job_counts = agg.job_family(recs)
    spans = agg.spans_summary(recs)
    win = [w for w in recs if w["kind"] == "window"]
    n_traced = max(1, len(cyc))
    dec = one.get("decisions", {"records": []})["records"]
    metrics = {}
    for k, v in calls.items():
        metrics[k] = {"value": v, "unit": "count" if k.endswith("eager_jobs") else "s"}
    units = dict(agg.JOB_METRICS)
    for k, v in jobs.items():
        metrics[k] = {"value": v, "unit": units[k.split(".", 1)[1]]}
    for s in agg.STORES:
        st = stores.get(s)
        metrics[f"{s}.bytes"] = {"value": st["bytes"] if st else 0, "unit": "bytes"}
        metrics[f"{s}.live_row_frac"] = {"value": st["live_row_frac"] if st else 0.0,
                                         "unit": "ratio"}
    metrics["core.gc_s"] = {"value": sum(w["gc_s"] for w in win) / n_traced, "unit": "s"}
    metrics["core.decisions"] = {"value": len(dec) / n_traced, "unit": "count"}
    metrics["cycle.unattributed_s"] = {"value": spans["unattributed_s"], "unit": "s"}

    p_tr = agg.median([c["wall_s"] for c in cyc])
    p_un = untraced_cycle_p50(args.workload)
    overhead = p_tr / p_un["value"] - 1 if p_un else None
    lines.append("tracing_overhead = " + (
        f"{overhead:+.4f} (traced cycle_p50_s {p_tr:.4g} s over {p_un['value']:.4g} s, "
        f"the median of {p_un['runs']} untraced runs of this workload in this checkout)"
        if p_un else "unavailable (no untraced run of this workload in this checkout yet)"))
    lines.append(f"span_coverage = {spans['span_coverage']:.4f} of cycle wall time")
    for layer, s in spans["self_s_per_cycle"].items():
        lines.append(f"self_s {layer} = {s:.4g} s per cycle")
    trace_path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    with open(trace_path, "w") as f:
        json.dump({"spans": [r for r in recs if r["kind"] == "span"],
                   "jobs_by_module": job_counts,
                   "self_s_per_cycle": spans["self_s_per_cycle"],
                   "unattributed_s": spans["unattributed_s"],
                   "span_coverage": spans["span_coverage"],
                   "tracing_overhead": overhead,
                   "decisions": dec,
                   "per_layer": metrics}, f, indent=1)
    lines.append(f"trace written to {os.path.relpath(trace_path, ROOT)}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
