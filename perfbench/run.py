#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_topk --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness with sbt
(offline), and through the root build the library, from source; later runs
reuse the build while the sources are unchanged. Each run generates the
workload's inputs from the seed, starts one JVM with a fixed heap at
local[<cores>], runs set-up and the timed loop, checks every output, and
prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 they are its
per-layer metrics. `--all` runs every workload (end-to-end, then traced)
and prints one line per workload instead.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["fold_eval", "corpus_dedup"]
HEAP = "2g"
# A fixed young generation, a third each for eden and the two survivor
# spaces. Each young collection is a peak_live_heap_mb sample; with room in
# survivor space, what is live at that instant stays young instead of being
# promoted, where it would stay as garbage until an old collection and
# inflate every later sample.
YOUNG = "768m"
RUN_DEADLINE_S = 170
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties"),
                      os.path.join(root, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def wait_group(cmd, cwd, env, log_path, deadline):
    """Run `cmd` in its own process group with output to `log_path`; kill
    the whole group if it outlives `deadline`. Returns the exit code."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"{cmd[0]} exceeded its deadline")


def build(root, build_dir):
    """Compile the harness and the library; return the runtime classpath."""
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building the library and the harness with sbt (first run only)")
    env = dict(os.environ, COURSIER_MODE="offline")
    props = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        props += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    t0 = time.time()
    log_path = os.path.join(build_dir, "build.log")
    rc = wait_group(["sbt", *props, "-batch", "compile", "export Runtime/fullClasspath"],
                    HERE, env, log_path, t0 + 800)
    with open(log_path) as f:
        out = f.read()
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f} s")
    return lines[-1].strip()


def inputs(build_dir, workload, seed):
    """Generate the seeded inputs, or reuse those a run with the same seed and
    the same generator made; return (dir, rows, planted)."""
    kind = gen.INPUTS[workload]
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build_dir, "data", f"{kind}-{seed}-{version}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        rows, planted = gen.generate(workload, seed, d)
        with open(meta, "w") as f:
            json.dump({"rows": rows, "planted": planted}, f)
    m = json.load(open(meta))
    return d, m["rows"], m["planted"]


def run_jvm(root, cp, workload, seed, seconds, trace, data_dir, run_dir, cpus, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:SurvivorRatio=1",
           "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData",
           *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graftbench.Main",
           "--workload", workload, "--data", data_dir, "--out", run_dir,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(cpus), "--local-dir", tmp]
    log_path = os.path.join(run_dir, "jvm.log")
    rc = wait_group(cmd, root, None, log_path, deadline)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {rc}")
    return json.load(open(os.path.join(run_dir, "result.json")))


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(root, workload, seed, seconds, trace, started):
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    t_build = time.time()
    cp = build(root, build_dir)
    started += time.time() - t_build  # the first run may build; its deadline moves
    cpus = len(os.sched_getaffinity(0))
    t_gen = time.time()
    data_dir, rows, planted = inputs(build_dir, workload, seed)
    log(f"inputs ready in {time.time() - t_gen:.1f} s ({rows} generated rows)")
    run_dir = os.path.join(build_dir, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res = run_jvm(root, cp, workload, seed, seconds, trace, data_dir, run_dir, cpus,
                  started + RUN_DEADLINE_S)

    t_jvm = time.time()
    log(f"JVM done at {t_jvm - started:.1f} s")
    n_checked, n_bad, mismatches = oracle.check(workload, data_dir, run_dir, res, seed, cpus)
    log(f"oracle checks of {n_checked} operations took {time.time() - t_jvm:.1f} s")
    for m in mismatches:
        log(f"MISMATCH {m}")
    con = oracle.connect(data_dir, cpus)
    props = gen.census(con, workload, planted)
    con.close()

    lat = res["latencies_s"]
    ops = res["ops"]
    failed = min(ops, res["failed_ops"] + res["check_failed"] + n_bad)
    attempted = ops
    job_s = statistics.median(lat)
    setup_s = (res["boot_s"] + res["session_s"] + statistics.median(res["ingest_s"])
               + res["warmup_s"])
    e2e = {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "rows_per_s": (rows / job_s, "rows/s"),
        "peak_live_heap_mb": (res["peak_live_heap_mb"], "MB"),
    }
    human = dict(e2e)
    human["job_wall_s"] = (statistics.median(res["latencies_wall_s"]), "s")
    human["steal_frac"] = (res["loop_steal_frac"], "ratio")
    human["failed_frac"] = (failed / attempted, "ratio")
    spec = bench_spec()
    if trace:
        layers = dict(res["layers"])
        untraced = statistics.median(lat)
        layers["trace.overhead_frac"] = statistics.median(res["traced_latencies_s"]) / untraced - 1
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for k, (v, unit) in human.items():
        print(f"{workload} {k} = {v:.6g} {unit}")
    print(f"{workload} inputs {json.dumps(props, sort_keys=True)}")
    if trace:
        for k in sorted(metrics):
            print(f"{workload} {k} = {metrics[k]['value']:.6g} {metrics[k]['unit']}")
    return {"correct": failed == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()
    seconds = a.seconds or bench_spec()["run_seconds"]
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("run from the repository root: src/main/scala/graft not found")
        return 2
    if a.all:
        for w in WORKLOADS:
            for t in (0, 1):
                r = run_one(root, w, a.seed, seconds, t, time.time())
                print(json.dumps({"workload": w, "trace": t, **r}), flush=True)
        return 0
    if not a.workload:
        ap.error("--workload or --all is required")
    r = run_one(root, a.workload, a.seed, seconds, a.trace, started)
    print(json.dumps(r), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
