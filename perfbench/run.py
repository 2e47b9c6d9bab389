#!/usr/bin/env python3
"""Benchmark of the graft CDC engine.

    python3 perfbench/run.py --workload <cdc_ingest|serve_mixed|query_suite>
                             --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (outputs under `.bench_build/` and the sbt
`target/` directories); later runs reuse the build while the sources are
unchanged. Each run starts one child JVM pinned with `taskset` to the
cores it uses, with its scratch space under `.bench_build/work/`.

With `--trace 0` the last stdout line is a JSON object with the end-to-end
metrics; with `--trace 1` it holds the per-layer metrics, derived from
spans the harness records around its calls into the engine, Spark
listeners, planner phases and the committed manifests. A traced run also
prints the per-batch CDC table or the ten heaviest queries. Every run keeps
its record (host stamps, core levels, samples, spans) in `.bench_build/runs/`.
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
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

CORES = 4
WORKLOADS = ("cdc_ingest", "serve_mixed", "query_suite")
# Input sizes per workload; seeds change the content, never the size.
SIZES = {
    "cdc_ingest": {"events": 512000, "batches": 2},
    "serve_mixed": {"events": 60000, "batches": 2, "upsert_events": 3000},
    "query_suite": {},
}
CHILD_TIMEOUT_S = 170
# The child's heap is fixed and pre-touched, so it is resident from the start.
HEAP_MB = 3072
BUILD_TIMEOUT_S = 850
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(code, msg):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------- processes --

_running = []


def run_group(cmd, cwd, out, timeout, env=None):
    """Run `cmd` in its own process group, wait for it, and kill the whole
    group afterwards, so no process it started outlives it. Returns the
    exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    _running.append(proc)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _running.remove(proc)


def _terminate(signum, frame):
    for proc in list(_running):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    sys.exit(128 + signum)


# ---------------------------------------------------------------- build --

def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the child classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(2, f"no {need} at {ROOT}: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail(2, "sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("fingerprint") == fp and all(os.path.exists(p) for p in st["classpath"]):
            return st["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building program and harness with sbt ...")
    t0 = time.time()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as out:
        code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "compile", "export perfbench/Runtime/fullClasspath"],
                         HERE, out, BUILD_TIMEOUT_S, env)
    with open(log_path) as fh:
        lines = [ln.strip() for ln in fh]
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if code != 0 or not cps:
        log("\n".join(lines[-30:]))
        fail(3, f"build failed (exit {code}); see {log_path}")
    classpath = cps[-1].split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    log(f"perfbench: built in {time.time() - t0:.0f}s")
    return classpath


# ---------------------------------------------------------------- child --

def record(workload, seed, trace, rec):
    """Keep the run's record (host stamps, levels, samples, spans)."""
    d = os.path.join(BUILD, "runs")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-seed{seed}-trace{trace}.json")
    with open(path, "w") as fh:
        json.dump(rec, fh)
    return path


def run_child(classpath, workload, seed, seconds, trace, work):
    granted = sorted(os.sched_getaffinity(0))
    levels = [CORES, 1] if workload == "cdc_ingest" and trace else [CORES]
    status = {str(n): metrics.level_status(n, len(granted)) for n in levels}
    if "invalid" in status.values():
        record(workload, seed, trace, {"granted_cores": len(granted), "levels": status})
        fail(4, f"core levels {status} on a host that grants {len(granted)}: "
                "no number is reported for an invalid level")
    cpus = ",".join(str(c) for c in granted[:CORES])
    args = {"task": workload, "cores": CORES, "seed": seed, "seconds": seconds,
            "trace": trace, "work": work, "out": os.path.join(work, "result.json")}
    args.update(SIZES[workload])
    if workload == "query_suite":
        with open(os.path.join(HERE, "data", "suite.json")) as fh:
            suite = json.load(fh)["queries"]
        args["data"] = os.path.join(HERE, "data", "sf0.01")
        args["queries"] = ",".join(sorted(suite))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["taskset", "-c", cpus, java]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    # a fixed, pre-touched heap: run times do not depend on when the
    # collector chose to grow the heap
    cmd += [f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join(classpath), "perfbench.Child"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    launched = time.time() * 1000
    with open(os.path.join(work, "child.log"), "w") as out:
        code = run_group(cmd, work, out, CHILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(args["out"]):
        with open(os.path.join(work, "child.log")) as fh:
            log("".join(fh.readlines()[-40:]))
        fail(5, f"child {'timed out' if code is None else f'exited {code}'}")
    with open(args["out"]) as fh:
        res = json.load(fh)
    if not res.get("valid"):
        fail(4, f"child got {res.get('cores_available')} of {CORES} cores: level invalid")
    res["setup_ms"] = res["ready_at"] - launched
    # the program's footprint: the heap it held, and what the process
    # touched beyond the (wholly resident) fixed heap
    res["native_peak_mb"] = max(0.0, res["vm_hwm_mb"] - HEAP_MB)
    res["peak_mb"] = res["heap_peak_mb"] + res["native_peak_mb"]
    res["levels"] = {str(s["cores"]): {"status": "ok", "jvm_cores": s.get("effective_cores", res["cores_available"]),
                                       "calib_mops": s.get("calib_mops", res["calib_mops"])}
                     for s in res["segments"]}
    log(f"perfbench: levels {res['levels']}")
    log("perfbench: set-up steps (ms): " + ", ".join(
        f"{k} {v:.0f}" for k, v in res["setup_steps"].items()))
    if workload == "query_suite":
        for seg in res["segments"] + res["warm_up_passes"]:
            for q in seg["queries"]:
                want = suite[q["name"]]
                if "rows" in q and q["rows"] != want:
                    res["failed"] += 1
                    res.setdefault("failures", []).append(
                        f"{q['name']}: {q['rows']} rows, reference {want}")
    return res


# -------------------------------------------------------------- metrics --

def units(workload, seg):
    """Work units of a segment and its measured wall in ms."""
    if workload == "cdc_ingest":
        ds = seg["drains"]
        return sum(d["events"] for d in ds), sum(d["ms"] for d in ds)
    if workload == "serve_mixed":
        return len(seg["ops"]), seg["wall_ms"]
    return len(seg["queries"]), seg["wall_ms"]


def end_to_end(workload, res):
    seg = res["segments"][0]
    n, wall = units(workload, seg)
    return {
        "setup_s": (res["setup_ms"] / 1000, "s"),
        "throughput_per_s": (n / wall * 1000, "1/s"),
        "cpu_ms_per_unit": (seg["cpu_ms"] / n, "ms"),
        "peak_rss_mb": (res["peak_mb"], "MB"),
    }


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


LAYERS = ("stream", "merge", "compact", "lake", "sql", "ops")


def per_layer(workload, res):
    """Per-layer metrics of a traced run. Segments 0 and 2 ran untraced
    and segment 1 traced on the same inputs; for `cdc_ingest`, segment 3 is
    the traced 1-core drain. Metrics of a layer a workload does not use
    are 0."""
    plain, traced, plain2 = res["segments"][:3]
    m = {}
    n0, wall0 = units(workload, plain)
    n1, wall1 = units(workload, traced)
    n2, wall2 = units(workload, plain2)
    untraced_tp = (n0 / wall0 + n2 / wall2) / 2
    m["trace.overhead_share"] = (1 - (n1 / wall1) / untraced_tp, "ratio")
    m["host.effective_cores"] = (res["cores_available"], "count")
    m["host.calib_mops"] = (res["calib_mops"], "Mops")
    one = res["segments"][3] if len(res["segments"]) > 3 else None
    m["host.effective_cores_1c"] = (one["effective_cores"] if one else 0, "count")
    m["host.calib_mops_1c"] = (one["calib_mops"] if one else 0.0, "Mops")
    m["mem.heap_peak_mb"] = (res["heap_peak_mb"], "MB")
    m["mem.native_peak_mb"] = (res["native_peak_mb"], "MB")

    if workload == "cdc_ingest":
        windows = [(d["start"], d["start"] + d["ms"]) for d in traced["drains"]]
    else:
        windows = [(traced["t0"], traced["t0"] + traced["wall_ms"])]
    self_ms = metrics.self_times(traced["spans"], windows)
    wall = sum(b - a for a, b in windows)
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = (self_ms.get(layer, 0.0), "ms")
    m["trace.harness_self_ms"] = (self_ms.get("harness", 0.0), "ms")
    m["trace.wall_ms"] = (wall, "ms")
    m["trace.accounted_share"] = (sum(self_ms.get(x, 0.0) for x in LAYERS) / wall, "ratio")

    batches = [b for d in traced.get("drains", []) for b in d.get("batches", [])]
    m["stream.batches"] = (len(batches), "count")
    m["stream.trigger_ms"] = (mean(b["trigger_ms"] for b in batches), "ms")
    m["stream.add_batch_ms"] = (mean(b["add_batch_ms"] for b in batches), "ms")
    m["stream.overhead_ms"] = (mean(b["trigger_ms"] - b["add_batch_ms"] for b in batches), "ms")
    tp4 = untraced_tp * 1000 if workload == "cdc_ingest" else 0.0
    tp1 = 0.0
    if one:
        e1, w1 = units(workload, one)
        tp1 = e1 / w1 * 1000
    m["stream.events_per_s"] = (tp4, "1/s")
    m["stream.events_per_s_1c"] = (tp1, "1/s")
    m["derived.scaling_eff_1v4"] = (tp4 / tp1 / CORES if tp1 else 0.0, "ratio")

    # merge: micro-batches of the stream, or the client's upserts
    if workload == "cdc_ingest":
        applies = [dict(wall_ms=b["merge_ms"], task_union_ms=b["merge_ms"] - b["driver_only_ms"],
                        task_sum_ms=b["task_sum_ms"], exchanges=b["exchanges"],
                        shuffle_write_bytes=b["shuffle_write_bytes"], spill_bytes=b["spill_bytes"])
                   for b in batches]
        rows_in = sum(d["events"] for d in traced["drains"])
        rows_written = sum(b["rows_written"] for b in batches)
        compacts = [(b["compact_ms"], b["compact_bytes"]) for b in batches if b["compact_ms"] > 0]
    elif workload == "serve_mixed":
        applies = traced["merge_windows"]
        rows_in, rows_written = traced["merge_rows_in"], traced["merge_rows_written"]
        compacts = [(c["ms"], c["bytes"]) for c in traced["compact_commits"]]
    else:
        applies, rows_in, rows_written, compacts = [], 0, 0, []
    cores = res["cores_available"]
    m["merge.apply_ms"] = (mean(a["wall_ms"] for a in applies), "ms")
    m["merge.rows_in"] = (rows_in, "count")
    m["merge.rows_written"] = (rows_written, "count")
    m["merge.dedup_ratio"] = (rows_written / rows_in if rows_in else 0.0, "ratio")
    m["merge.exchanges_per_batch"] = (mean(a["exchanges"] for a in applies), "count")
    m["merge.shuffle_write_bytes"] = (mean(a["shuffle_write_bytes"] for a in applies), "bytes")
    m["merge.spill_bytes"] = (mean(a["spill_bytes"] for a in applies), "bytes")
    m["merge.driver_only_ms"] = (mean(a["wall_ms"] - a["task_union_ms"] for a in applies), "ms")
    busy = sum(a["wall_ms"] for a in applies) * cores
    m["merge.task_busy_share"] = (sum(a["task_sum_ms"] for a in applies) / busy if busy else 0.0, "ratio")
    m["compact.runs"] = (len(compacts), "count")
    m["compact.ms"] = (mean(c[0] for c in compacts), "ms")
    m["compact.bytes_rewritten"] = (mean(c[1] for c in compacts), "bytes")

    lake = {}
    if workload == "cdc_ingest":
        lake = traced["drains"][-1]["lake"]
    elif workload == "serve_mixed":
        lake = dict(traced["lake"])
        loads = [r[5] - r[4] for r in traced["spans"] if r[3] == "manifest"]
        lake["manifest_load_ms"] = mean(loads)
    for k, unit in (("manifest_load_ms", "ms"), ("manifest_bytes", "bytes"), ("files_live", "count"),
                    ("delta_depth_max", "count"), ("write_amp", "ratio"), ("bytes_per_live_row", "bytes")):
        m[f"lake.{k}"] = (lake.get(k, 0.0), unit)
    lf = traced.get("lookup_files", [])
    m["lake.files_per_lookup"] = (mean(f[0] for f in lf), "count")
    m["lake.lookup_dirty_share"] = (mean(1.0 if f[2] else 0.0 for f in lf), "ratio")
    m["lake.skip_ratio"] = (mean(1 - f[0] / f[1] for f in lf if f[1]), "ratio")
    ops0 = plain.get("ops", [])
    if workload == "serve_mixed":
        # both untraced segments, so a slow run still holds enough samples
        lookups = [ms for seg in (plain, plain2) for k, ms in seg["ops"] if k == "lookup"]
        m["lake.lookup_p50_ms"] = (metrics.required_percentile(lookups, 0.5, "lake.lookup_p50_ms"), "ms")
    else:
        m["lake.lookup_p50_ms"] = (0.0, "ms")
    m["lake.scan_mean_ms"] = (mean(ms for k, ms in ops0 if k == "scan"), "ms")
    m["merge.upsert_mean_ms"] = (mean(ms for k, ms in ops0 if k == "upsert"), "ms")

    sql = traced.get("sql", [])
    for k in ("analysis", "optimization", "planning"):
        m[f"sql.{k}_ms"] = (mean(r.get(k, 0.0) for r in sql), "ms")
    m["sql.execution_ms"] = (mean(r["exec_ms"] for r in sql), "ms")

    qs = traced.get("queries", [])
    pq = traced.get("per_query", [])
    m["ops.plan_ms"] = (mean(q.get("build_ms", 0.0) for q in qs), "ms")
    m["ops.exec_ms"] = (mean(q["ms"] - q.get("build_ms", 0.0) for q in qs), "ms")
    m["ops.jobs"] = (mean(q["jobs"] for q in pq), "count")
    m["ops.shuffle_write_bytes"] = (mean(q["shuffle_write_bytes"] for q in pq), "bytes")
    m["ops.spill_bytes"] = (mean(q["spill_bytes"] for q in pq), "bytes")
    m["ops.cached_frames_left"] = (sum(q["cached_left"] for q in qs), "count")
    q0 = [q["ms"] for q in plain.get("queries", [])]
    m["ops.suite_total_s"] = (sum(q0) / 1000 / plain.get("passes", 1), "s")
    m["ops.query_geomean_ms"] = (metrics.geomean(q0) or 0.0, "ms")
    return m


# --------------------------------------------------------------- tables --

def tables(workload, res):
    """The traced run's human-readable tables."""
    out = []
    if workload == "cdc_ingest":
        for seg in (s for s in res["segments"] if s["traced"]):
            d = seg["drains"][0]
            out.append(f"CDC per-batch table, {seg['cores']} core(s), {d['events']} events:")
            out.append("batch  trigger_ms  merge_ms  driver_only_ms  overhead_ms  compact_ms  exch  shuffle_MB")
            for b in d["batches"]:
                out.append(f"{b['batch']:>5}  {b['trigger_ms']:>10.0f}  {b['merge_ms']:>8.0f}  "
                           f"{b['driver_only_ms']:>14.0f}  {b['trigger_ms'] - b['add_batch_ms']:>11.0f}  "
                           f"{b['compact_ms']:>10.0f}  {b['exchanges']:>4.0f}  "
                           f"{b['shuffle_write_bytes'] / 1e6:>10.2f}")
            trig = sum(b["trigger_ms"] for b in d["batches"])
            serial = {"merge.driver_only_ms": sum(b["driver_only_ms"] for b in d["batches"]),
                      "stream.overhead_ms": sum(b["trigger_ms"] - b["add_batch_ms"] for b in d["batches"]),
                      "compaction": sum(b["compact_ms"] for b in d["batches"])}
            out.append("serial part, share of trigger wall: " + ", ".join(
                f"{k} {v / trig:.1%}" for k, v in serial.items()) +
                f"; total {sum(serial.values()) / trig:.1%}")
    elif workload == "query_suite":
        seg = res["segments"][1]
        phases = {}
        top = metrics.nest(seg["spans"])
        for s in top:
            stack = list(s.children)
            plan = 0.0
            while stack:
                c = stack.pop()
                if c.layer == "sql":
                    plan += c.dur
                stack += c.children
            phases[s.name] = plan
        pq = {q["name"]: q for q in seg["per_query"]}
        out.append("Ten heaviest queries (traced pass):")
        out.append("query                              total_ms  build_ms  sql_plan_ms  exec_ms  jobs  shuffle_MB  spill_MB")
        for q in sorted(seg["queries"], key=lambda q: -q["ms"])[:10]:
            p = pq[q["name"]]
            out.append(f"{q['name']:<34} {q['ms']:>9.0f} {q.get('build_ms', 0):>9.0f} "
                       f"{phases.get(q['name'], 0):>12.0f} {q['ms'] - q.get('build_ms', 0):>8.0f} "
                       f"{p['jobs']:>5} {p['shuffle_write_bytes'] / 1e6:>11.2f} {p['spill_bytes'] / 1e6:>9.2f}")
    return out


def declared_metrics(kind):
    """{name: unit} of the metrics BENCHMARK.json declares, if present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


# ----------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    if not os.path.isdir(os.path.join(HERE, "data", "sf0.01")):
        fail(2, "benchmark data missing")
    classpath = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_child(classpath, a.workload, a.seed, a.seconds, a.trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in res.get("failures", []):
        log(f"perfbench: FAILED {f}")
    if a.trace:
        try:
            m = per_layer(a.workload, res)
        except metrics.TooFewSamples as e:
            fail(6, str(e))
        for line in tables(a.workload, res):
            print(line)
        path = record(a.workload, a.seed, a.trace, res)
        print(f"spans and records: {os.path.relpath(path, ROOT)}; tracing overhead "
              f"{m['trace.overhead_share'][0]:.1%}; layers account for "
              f"{m['trace.accounted_share'][0]:.1%} of the traced wall")
    else:
        record(a.workload, a.seed, a.trace, res)
        m = end_to_end(a.workload, res)
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    if declared is not None and declared != {k: u for k, (_, u) in m.items()}:
        fail(7, "metrics differ from BENCHMARK.json: "
                f"{sorted(set(declared.items()) ^ {(k, u) for k, (_, u) in m.items()})}")
    for k, (v, u) in m.items():
        print(f"{k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()},
    }))


if __name__ == "__main__":
    main()
