#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one timed run.

    python3 perfbench/run.py --workload gate_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the library and the
benchmark harness with sbt (offline) into the build directory
($CARGO_TARGET_DIR, default `.bench_build`); later runs reuse the build
while no source file changed.

Each run generates the workload's input tables from the seed, starts one
JVM at local[nproc] that starts a graft session and makes a cold warm-up
pass (together with the input generation, the set-up), then runs whole
passes of the workload from one closed-loop client thread for about
--seconds. Outputs of the warm-up and of one more pass after the timed
loop are checked: gate outputs against DuckDB running each gate's oracle
SQL over the same inputs (after the JVM has exited), kernel outputs
against Spark built-ins (in the JVM).

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Lines before it are a readable report.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

JVM_HEAP = "3g"
TIME_LIMIT_S = 170
# samples a run keeps beyond its tail percentile
MIN_BEYOND_TAIL = 10
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# per-layer metrics: each is reported per pass (sum over one pass of the
# workload, averaged over passes) and, but for PASS_ONLY, per execution
# (median)
LAYER_METRICS = [
    "ops.build_s", "ops.build_jobs", "ops.build_share",
    "plans.plan_s", "plans.exchanges", "plans.scans",
    "exec.action_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s",
    "exec.parallel_eff", "exec.driver_gap_s", "exec.task_skew", "exec.gc_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.failed_tasks", "exec.orphan_tasks",
    "sources.input_bytes", "sources.input_rows",
    "storage.retained_bytes", "storage.retained_rdds"]
# most executions see no GC in their tasks, so a per-execution median
# would read 0 on every run
PASS_ONLY = {"exec.gc_s"}
KERNELS = ["mode_int", "mode_str", "skewness", "kurtosis", "kurtosis_pop", "max_by_det", "hll",
           "kmv", "minhash", "jaro_winkler", "cosine", "srp",
           "sorted_intersect", "nearest_seed", "bpe_encode"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    for f in [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]:
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def ensure_built(bdir):
    """Compile with sbt if needed; returns the runtime classpath."""
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        saved_stamp, cp = open(cp_file).read().split("\n", 1)
        if saved_stamp == stamp and all(os.path.exists(p) for p in cp.strip().split(":")):
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false").strip()
    log_path = os.path.join(bdir, "build.log")
    log(f"perfbench: building with sbt (log: {log_path})")
    with open(log_path, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log_path).read().strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (see {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def percentile(xs, pct):
    """Nearest-rank percentile; pct 100 is the maximum."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-pct * len(s) // 100)) - 1))
    return s[k]


def min_passes(queries, pct):
    """Fewest whole passes whose executions leave MIN_BEYOND_TAIL samples
    beyond the nearest-rank percentile `pct`."""
    p = 1
    while p * queries - -(-pct * p * queries // 100) < MIN_BEYOND_TAIL:
        p += 1
    return p


def gate_rows(oracle_sql, counts):
    """Input rows of one execution of each gate: the generated rows of the
    tables its oracle SQL reads (a constant per gate and seed)."""
    return {g: sum(n for t, n in counts.items() if re.search(rf"\b{t}\b", sql))
            for g, sql in oracle_sql.items()}


def end_to_end(res, cfg, failed_names, rows_of, setup_s):
    execs = res["execs"]
    wall = res["timed_wall_s"]
    good = [e for e in execs if e["ok"] and e["name"] not in failed_names]
    lat = [e["wall_s"] for e in good] or [wall]
    pct = cfg["tail_pct"]
    beyond = sum(1 for x in lat if x > percentile(lat, pct))
    rows = sum(rows_of.get(e["name"], 0) for e in good)
    failed = len(execs) - len(good)
    m = {
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (percentile(lat, pct), "s"),
        "queries_per_s": (len(good) / wall, "1/s"),
        "rows_per_s": (rows / wall, "1/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MiB"),
        "live_mb": (res["live_mb"], "MiB"),
    }
    info = {"tail_pct": pct, "beyond_tail": beyond, "executions": len(execs),
            "passes": res["passes"], "failed_frac": failed / max(1, len(execs))}
    return m, len(execs), failed, info


def per_layer(res):
    layers = res["layers"]
    cores = layers[0]["cores"] if layers else 1
    passes = max(1, res["passes"])
    out = {}

    def ratio(num, den):
        return num / den if den else 0.0

    for name in LAYER_METRICS:
        if name == "ops.build_share":
            vals = [ratio(r["ops.build_s"], r["wall_s"]) for r in layers]
            per_pass = ratio(sum(r["ops.build_s"] for r in layers),
                             sum(r["wall_s"] for r in layers))
        elif name == "exec.parallel_eff":
            vals = [ratio(r["exec.task_s"], r["wall_s"] * cores) for r in layers]
            per_pass = ratio(sum(r["exec.task_s"] for r in layers),
                             sum(r["wall_s"] for r in layers) * cores)
        elif name == "exec.task_skew":
            vals = [r[name] for r in layers]
            per_pass = max(vals) if vals else 0.0
        else:
            vals = [r[name] for r in layers]
            per_pass = sum(vals) / passes
        out[name + ".pass"] = per_pass
        if name not in PASS_ONLY:
            out[name + ".p50"] = statistics.median(vals) if vals else 0.0
    walls = [r["wall_s"] for r in layers]
    attributed = [1 - ratio(r["trace.unattributed_s"], r["wall_s"]) for r in layers]
    out["trace.latency_p50_s"] = statistics.median(walls) if walls else 0.0
    out["trace.queries_per_s"] = ratio(len(walls), res["timed_wall_s"])
    out["trace.attributed_min"] = min(attributed) if attributed else 0.0
    for k in KERNELS:
        for mode in ["codegen", "interp"]:
            key = f"functions.{k}.ns_per_row.{mode}"
            out[key] = res.get("functions", {}).get(key, 0.0)
    return out


def per_query(res):
    """Per-query medians of every layer metric (trace file)."""
    by = {}
    for r in res["layers"]:
        by.setdefault(r["name"], []).append(r)
    return {q: {k: statistics.median(x[k] for x in rs) for k in rs[0]
                if k not in ("name", "pass")} for q, rs in sorted(by.items())}


def unit_of(name):
    if name.startswith("trace.queries"):
        return "1/s"
    if name.endswith("_s") or name.endswith("_s.pass") or name.endswith("_s.p50"):
        return "s"
    if "bytes" in name:
        return "B"
    if "ns_per_row" in name:
        return "ns"
    if "share" in name or "eff" in name or "skew" in name or "attributed" in name:
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail("graft sources not found next to the benchmark; run from a "
             "checkout of the repository")
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    cfg = workloads[args.workload]

    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp = ensure_built(bdir)

    import gen
    work = os.path.join(bdir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run(args, cfg, cp, work, gen, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cfg, cp, work, gen, t_start):
    cores = len(os.sched_getaffinity(0))
    data = os.path.join(work, "data")
    queries = len(cfg["gates"]) if cfg["kind"] == "gates" else len(KERNELS)
    t_gen = time.time()
    counts = gen.write(args.seed, cfg["scale"], data)
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the heap is fixed in size, so that the resident set does not follow
    # G1's heap sizing; `live_mb` shows what the heap holds
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--kind", cfg["kind"], "--data", data, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
            "--min-passes", str(min_passes(queries, cfg["tail_pct"])),
            "--shuffle", "1" if cfg["shuffle"] else "0"])
    if cfg["kind"] == "gates":
        cmd += ["--gates", ",".join(cfg["gates"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    t_jvm = time.time()
    deadline = t_start + TIME_LIMIT_S - 10
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, 9)
                p.wait()
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        tail = open(jvm_log).read()[-3000:]
        fail(f"JVM exited with {rc}:\n{tail}")
    res = json.load(open(res_path))
    # set-up: input generation, JVM and session start, cold warm-up pass
    setup_s = res["warmup_end_ms"] / 1000 - t_gen

    t_check = time.time()
    problems = {n: f"error: {e}" for n, e in res.get("errors", {}).items()}
    digests = {}
    rows_of = res["rows"]
    if cfg["kind"] == "gates":
        import oracle
        sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
        rows_of = gate_rows(sqls, counts)
        want = oracle.expected(data, sqls, cores)
        for check in ["warmup", "after"]:
            bad, digests = oracle.compare(want, os.path.join(out, "dumps", check))
            for n, why in bad.items():
                problems.setdefault(n, f"{check} pass: {why}")
    else:
        for n, mism in res["kernel_mismatches"].items():
            if mism != 0:
                problems.setdefault(n, f"{mism} rows differ from the reference"
                                       if mism > 0 else "check failed")

    e2e, attempted, failed, info = end_to_end(res, cfg, problems, rows_of, setup_s)
    if info["beyond_tail"] < MIN_BEYOND_TAIL and not problems:
        fail(f"only {info['beyond_tail']} samples beyond the tail percentile")
    print(f"workload {args.workload} seed {args.seed} cores {cores}: "
          f"{info['executions']} executions in {info['passes']} passes, "
          f"{res['timed_wall_s']:.2f} s timed")
    for n in sorted(problems):
        print(f"  FAILED {n}: {problems[n]}")
    print(f"  checked the outputs of {queries} queries in the warm-up and in a pass "
          f"after the timed loop, {len(problems)} wrong; failed_frac {info['failed_frac']:.4f}")
    pass_walls = {}
    for e in res["execs"]:
        pass_walls[e["pass"]] = pass_walls.get(e["pass"], 0.0) + e["wall_s"]
    print("  pass walls " + " ".join(f"{w:.2f}" for _, w in sorted(pass_walls.items())) + " s")
    print(f"  run phases: inputs {t_jvm - t_gen:.1f} s, jvm {t_check - t_jvm:.1f} s, "
          f"checks {time.time() - t_check:.1f} s")
    print(f"  set-up {setup_s:.2f} s: inputs {t_jvm - t_gen:.2f} s, "
          f"JVM and session start {res['session_ready_ms'] / 1000 - t_jvm:.2f} s, "
          f"cold warm-up pass {(res['warmup_end_ms'] - res['session_ready_ms']) / 1000:.2f} s; "
          f"tail is p{info['tail_pct']} with {info['beyond_tail']} samples beyond it")
    if args.trace:
        metrics = per_layer(res)
        trace_file = os.path.join(build_dir(), f"trace-{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "metrics": metrics, "per_query": per_query(res),
                       "spans": [json.loads(line) for line in
                                 open(os.path.join(out, "spans.jsonl"))]},
                      f, indent=1)
        print(f"  trace written to {trace_file}")
        result = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        result = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, v in result.items():
        print(f"  {k:48s} {v['value']:16.6g} {v['unit']}")
    if digests:
        print("  digests " + json.dumps(digests, sort_keys=True))
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
