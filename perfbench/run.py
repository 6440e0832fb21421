#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload cube_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the root of a checkout of the repository. The first run builds
the engine and the harness (sbt, offline) and caches the classpath under
perfbench/.work; every run then

1. generates the sf0.1 fixture (and the workload's inputs) from --seed,
2. starts one JVM (perfbench.Harness) on all local cores: set-up, warm-up,
   then --seconds of closed-loop work from one client thread,
3. checks every operation's result against DuckDB, outside the timed
   window,
4. writes the full artifact (stamp, per-op records, samples, spans) to
   perfbench/.work/artifacts/ and prints one compact JSON line last.

--trace 0 reports the end-to-end metrics; --trace 1 runs with spans and a
Spark listener and reports the per-layer metrics instead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import workloads  # noqa: E402

# The program's environment knobs; every run clears them so it measures
# the configuration the code pins, not one left in the caller's shell.
ENV_KNOBS = ["SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_RELIABLE_CKPT_DIR",
             "SPARK_GRAFT_BENCH_SKIP", "SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_JARS"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SETUP_REPEATS = 3
JVM_TIMEOUT_S = 150
HEAP = "4g"

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("success_rate", "ratio")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# --- build ---------------------------------------------------------------

def _fingerprint():
    h = hashlib.sha1()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                os.path.join(ROOT, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build the engine and harness when their sources changed; return the
    runtime classpath."""
    state = os.path.join(WORK, "build.json")
    fp = _fingerprint()
    if os.path.exists(state):
        with open(state) as f:
            b = json.load(f)
        if b["fingerprint"] == fp and all(os.path.exists(p) for p in b["classpath"].split(":")):
            return b["classpath"]
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, capture_output=True,
                       text=True, timeout=840, stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(state, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[-1].strip(),
                   "build_s": time.time() - t0}, f)
    return lines[-1].strip()


# --- stamp ----------------------------------------------------------------

def _commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


# --- inputs ---------------------------------------------------------------

FIXTURE_CACHE = 6


def cached_fixture(sf, seed):
    """The fixture for (sf, seed), generated once and shared by every
    workload and trace mode that runs with that seed."""
    import fixture
    root = os.path.join(WORK, "fixtures")
    path = os.path.join(root, f"sf{sf}-seed{seed}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        fixture.generate(tmp, sf, seed)
        os.replace(tmp, path)
        entries = sorted((os.path.join(root, e) for e in os.listdir(root)),
                         key=os.path.getmtime)
        for old in entries[:-FIXTURE_CACHE]:
            shutil.rmtree(old, ignore_errors=True)
    os.utime(path)
    return path


# --- harness --------------------------------------------------------------

def run_jvm(cp, spec_path, out_dir, run_dir, env):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness", spec_path, out_dir])
    env = dict(env, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S}s; log in {run_dir}/jvm.log")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")


# --- oracle ---------------------------------------------------------------

def check_results(spec, out_dir, summary, data_dir, source):
    """Oracle verdict and check time per op id; the verdict is None when
    the result matched."""
    import cubes
    import oracle
    ops = {o["id"]: o for o in summary["ops"]}
    con = oracle.connect(data_dir, {"layout": source} if source is not None else None)
    readback_sql = {rb["name"]: rb["sql"] for rb in spec.get("ingest", {}).get("readbacks", [])}
    verdicts = {}
    with open(os.path.join(out_dir, "results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            op = ops[r["op"]]
            if op["kind"] == "registered":
                sql = summary["oracle_sql"].get(op["name"])
            elif op["kind"] == "readback":
                sql = readback_sql[op["name"]]
            else:                    # cube calls: op ids follow the call list
                sql = cubes.to_sql(spec["calls"][op["id"]])
            t0 = time.time()
            verdict = ("no oracle SQL registered" if sql is None
                       else oracle.check(con, sql, r["schema"], r["rows"]))
            verdicts[op["id"]] = (verdict, time.time() - t0)
    return verdicts


# --- metrics --------------------------------------------------------------

def _mb(b):
    return b / (1024.0 * 1024.0)


def end_to_end(workload, summary, records, source_rows):
    """Every end-to-end figure of an untraced run. The headline line
    carries END_TO_END; the per-op latency percentiles and row rate stay
    in the artifact (see README.md: they did not hold steady enough)."""
    import stats
    rounds = [r["wall_s"] for r in summary["rounds"]]
    lat = [o["latency_s"] for o in records if o["timed_kind"]]
    moved = sum(o["rows"] for o in records)
    if workload == "operator_pipeline":
        moved += source_rows * 3 * len(rounds)   # wire rows read once, written twice
    return {
        "setup_s": statistics.median(summary["build_s"]) + summary["warmup_s"],
        "wall_s": statistics.median(rounds),
        "success_rate": sum(1 for o in records if o["ok"]) / len(records),
        "latency_p50_s": stats.percentile(lat, 0.5),
        "latency_p90_s": stats.percentile(lat, 0.9),
        "latency_samples": len(lat),
        "p90_samples_beyond": stats.samples_beyond(len(lat), 0.9),
        "rows_per_s": moved / sum(rounds),
        "peak_rss_mb": summary["peak_rss_mb"],
    }


PER_LAYER = [
    ("session.build_s", "s"), ("session.warmup_s", "s"), ("registry.lookup_s", "s"),
    ("cube.construct_s", "s"), ("cube.plan_s", "s"), ("operators.construct_s", "s")] + [
    (f"operators.construct_s.{m}", "s") for m in workloads.MODULES] + [
    ("construct.jobs", "count"), ("construct.task_s", "s"), ("exec_s", "s"),
    ("exec.jobs", "count"), ("exec.tasks", "count"), ("exec.task_s", "s"),
    ("exec.task_skew", "ratio"), ("exec.core_util", "ratio"), ("exec.input_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.result_rows", "count"), ("scratch.release_s", "s"), ("scratch.released", "count"),
    ("memo.invalidate_s", "s"), ("sources.load_s", "s"), ("sources.read_s", "s"),
    ("sink.write_s.partitioned", "s"), ("sink.write_s.zorder", "s"),
    ("sink.files_written", "count"), ("sink.bytes_per_input_byte", "ratio"),
    ("readback.input_mb", "MB"), ("jvm.gc_s", "s"), ("jvm.peak_rss_mb", "MB"),
    ("trace.unattributed_jobs", "count"), ("trace.span_coverage", "ratio"),
    ("traced.wall_s", "s")]


def per_layer(workload, summary, records, cpus, wire_bytes):
    """Per-layer split from the traced run. Times and counts are per round
    (one call block or one pipeline job), so the span
    times of a workload add up to its traced wall_s."""
    import stats
    n_rounds = len(summary["rounds"])
    spans = summary["spans"]
    by_op = {o["id"]: o for o in summary["ops"]}
    cube_kinds = ("data", "members", "multi")
    span_s = {}

    def add(name, dt):
        span_s[name] = span_s.get(name, 0.0) + dt

    for s in spans:
        name, op = s[3], by_op.get(s[2])
        if op and name in ("construct", "plan"):
            if op["kind"] in cube_kinds:
                name = f"cube.{name}"
            elif op["kind"] == "registered" and name == "construct":
                name = "operators.construct"
                add(f"operators.construct.{workloads.OP_MODULE[op['name']]}", s[5] - s[4])
        add(name, s[5] - s[4])
    ps = summary.get("phase_stats", [])

    def phase_sum(phase, key):
        return sum(p[key] for p in ps if p["phase"] == phase)

    exec_phases = [p for p in ps if p["phase"] == "exec"]
    skews = [k for p in exec_phases for k in p["stage_skews"]]
    exec_wall = span_s.get("exec", 0.0)
    readback_ids = {o["id"] for o in summary["ops"] if o["kind"] == "readback"}
    lookups = [s[5] - s[4] for s in spans if s[3] == "registry.lookup"]
    cov = stats.coverage(spans)
    info = summary.get("round_info", {})
    pr = lambda v: v / n_rounds
    m = {
        "session.build_s": statistics.median(summary["build_s"]),
        "session.warmup_s": summary["warmup_s"],
        "registry.lookup_s": statistics.median(lookups) if lookups else 0.0,
        "cube.construct_s": pr(span_s.get("cube.construct", 0.0)),
        "cube.plan_s": pr(span_s.get("cube.plan", 0.0)),
        "operators.construct_s": pr(span_s.get("operators.construct", 0.0)),
        "construct.jobs": pr(phase_sum("construct", "jobs")),
        "construct.task_s": pr(phase_sum("construct", "task_s")),
        "exec_s": pr(exec_wall),
        "exec.jobs": pr(phase_sum("exec", "jobs")),
        "exec.tasks": pr(phase_sum("exec", "tasks")),
        "exec.task_s": pr(phase_sum("exec", "task_s")),
        "exec.task_skew": statistics.median(skews) if skews else 0.0,
        "exec.core_util": phase_sum("exec", "task_s") / (exec_wall * cpus) if exec_wall else 0.0,
        "exec.input_mb": pr(_mb(phase_sum("exec", "input_bytes"))),
        "exec.shuffle_read_mb": pr(_mb(phase_sum("exec", "shuffle_read_bytes"))),
        "exec.spill_mb": pr(_mb(phase_sum("exec", "spill_bytes"))),
        "exec.result_rows": pr(sum(o["rows"] for o in summary["ops"])),
        "scratch.release_s": pr(span_s.get("scratch.release", 0.0)),
        "scratch.released": pr(summary["released"]),
        "memo.invalidate_s": pr(span_s.get("memo.invalidate", 0.0)),
        "sources.load_s": pr(span_s.get("sources.load", 0.0)),
        "sources.read_s": pr(span_s.get("sources.read", 0.0)),
        "sink.write_s.partitioned": pr(span_s.get("sink.write.partitioned", 0.0)),
        "sink.write_s.zorder": pr(span_s.get("sink.write.zorder", 0.0)),
        "sink.files_written": info.get("sink.files_written", 0.0),
        "sink.bytes_per_input_byte": (info.get("sink.bytes_written", 0.0) / wire_bytes
                                      if wire_bytes else 0.0),
        "readback.input_mb": pr(_mb(sum(p["input_bytes"] for p in ps
                                        if p["op"] in readback_ids))),
        "jvm.gc_s": pr(summary["gc_s"]),
        "jvm.peak_rss_mb": summary["peak_rss_mb"],
        "trace.unattributed_jobs": pr(summary.get("unattributed_jobs", 0)),
        "trace.span_coverage": min(cov.values()) if cov else 0.0,
        "traced.wall_s": statistics.median(r["wall_s"] for r in summary["rounds"]),
    }
    for mod in workloads.MODULES:
        m[f"operators.construct_s.{mod}"] = pr(span_s.get(f"operators.construct.{mod}", 0.0))
    return m


def _fmt(v):
    return float(f"{v:.9g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    load1 = _load1()

    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload}; known: {', '.join(workloads.WORKLOADS)}")
    for need in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} missing under {ROOT})")
    cp = classpath()

    import fixture
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_dir = cached_fixture(workloads.SF, args.seed)
    warm_dir = cached_fixture(workloads.WARM_SF, args.seed + 1)
    source, wire_bytes = None, 0
    wire_dir, warm_wire_dir = os.path.join(run_dir, "wire"), os.path.join(run_dir, "warm_wire")
    if args.workload == "operator_pipeline":
        source, wire_bytes = fixture.render_wire(wire_dir, workloads.INGEST_ROWS,
                                                 workloads.INGEST_FILES, args.seed)
        fixture.render_wire(warm_wire_dir, workloads.WARM_INGEST_ROWS, 2, args.seed + 1)
    cpus = len(os.sched_getaffinity(0))
    spec = {"workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
            "cpus": cpus, "setup_repeats": SETUP_REPEATS, "data_dir": data_dir,
            "warm_dir": warm_dir, "work_dir": os.path.join(run_dir, "out_layouts")}
    spec.update(workloads.spec(args.workload, args.seed, data_dir, warm_dir,
                               wire_dir, warm_wire_dir))
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = {k: v for k, v in os.environ.items() if k not in ENV_KNOBS}
    out_dir = os.path.join(run_dir, "out")
    prep_s = time.time() - t_start

    run_jvm(cp, spec_path, out_dir, run_dir, env)
    with open(os.path.join(out_dir, "summary.json")) as f:
        summary = json.load(f)

    t_check = time.time()
    verdicts = check_results(spec, out_dir, summary, data_dir, source)
    check_s = time.time() - t_check

    timed_kinds = {"cube_interactive": {"data", "members", "multi"},
                   "operator_pipeline": {"registered", "readback"}}
    records = []
    for o in summary["ops"]:
        verdict, check_op_s = verdicts.get(o["id"], (None, 0.0))
        cause = o.get("error") or verdict
        if cause is None and o["id"] not in verdicts and o["kind"] != "ingest":
            cause = "result missing"
        records.append(dict(o, ok=cause is None, cause=cause, check_s=check_op_s,
                            timed_kind=o["kind"] in timed_kinds[args.workload]))
    failed = [o for o in records if not o["ok"]]

    if args.trace:
        metrics = per_layer(args.workload, summary, records, cpus, wire_bytes)
        units = dict(PER_LAYER)
    else:
        metrics = end_to_end(args.workload, summary, records, workloads.INGEST_ROWS)
        units = dict(END_TO_END)

    artifact = {
        "stamp": {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "commit": _commit(), "source_fingerprint": _fingerprint(),
                  "nproc": cpus, "load_1m_at_start": load1, "unset_env": ENV_KNOBS,
                  "spark_conf": summary["conf"], "heap": HEAP,
                  "prep_s": prep_s, "oracle_check_s": check_s},
        "metrics": metrics,
        "error_rate": len(failed) / len(records),
        "failures": [{"id": o["id"], "name": o["name"], "cause": o["cause"]} for o in failed],
        "ops": records,
        "rounds": summary["rounds"],
        "build_s": summary["build_s"],
        "warmup_s": summary["warmup_s"],
        "round_info": summary.get("round_info"),
        "spans": summary["spans"],
        "phase_stats": summary.get("phase_stats"),
        "unattributed_jobs": summary.get("unattributed_jobs"),
    }
    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(art, "w") as f:
        json.dump(artifact, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"{len(records)} ops, {len(failed)} failed, {len(summary['rounds'])} rounds; "
        f"artifact {os.path.relpath(art, ROOT)}; total {time.time() - t_start:.1f}s")
    for o in failed[:5]:
        log(f"failed op {o['id']} {o['name']}: {o['cause']}")
    line = {"correct": not failed, "attempted": len(records), "failed": len(failed),
            "metrics": {k: {"value": _fmt(metrics[k]), "unit": units[k]} for k in units}}
    print(json.dumps(line, separators=(",", ":")))


if __name__ == "__main__":
    main()
