"""Benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program with perfbench/build.sh
(once per source tree), makes the workload's inputs from the seed, runs the
JVM half (perfbench/src/graftbench/Main.scala) in one process, checks every
output against its oracle, and prints one JSON object as the last line of
standard output. See perfbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import check
import fixture
import layers

# The 12 light gates: a spread of operator families from the battery gates
# whose median in the committed BENCH_LAST.json is under 0.5 s.
LIGHT_GATES = [
    "q_a2_global_stats", "q_a6_corr", "q_a_hll", "q_d1_distinct",
    "q_d2b_stratified", "q_f_hof", "q_j_outer", "q_p9_null_counts",
    "q_s_scan_count", "q_w3_lag", "q_x_minhash_bands", "q_x_tokens",
]

WORKLOADS = {
    # bound by planning and job launch on a small fixture. 4 warm-up
    # passes: the JIT settles after about five passes in all. At least 4
    # timed passes: 48 calls, 12 of them above the 75th percentile
    "gates_light": {"gates": LIGHT_GATES, "sf": 0.01, "warmup_passes": 4,
                    "min_passes": 4, "heap": "2g"},
    # TrainApp.run then ScoreApp.run on FlightsGenerator CSVs, cold
    "flight_lifecycle": {"train_rows": 80000, "score_rows": 20000,
                         "heap": "3g"},
}
# The most one run may take after the build: a run must end within 180 s.
RUN_BUDGET_S = 170.0
# What a failed call is charged: the whole time one run may take, longer
# than any call that succeeds. A newly failing call can never shorten a
# pass, whatever the point at which it fails.
FAIL_CHARGE_S = RUN_BUDGET_S
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build compiles."""
    h = hashlib.sha256()
    for root in ("src/main", "perfbench/src", "perfbench/build.sh"):
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in sorted(paths):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    """Compile once per source tree into .bench_build/classes-<stamp>."""
    target = os.path.join(".bench_build", "classes-" + source_stamp())
    if not os.path.isdir(target):
        log(f"building {target}")
        os.makedirs(".bench_build", exist_ok=True)
        subprocess.run(["bash", "perfbench/build.sh", target], check=True,
                       stdout=sys.stderr,
                       env=dict(os.environ, SPARK_HOME=spark_home()))
    return target


def jvm(classes, workload, heap, args, work, log_path, timeout):
    jars = os.path.join(spark_home(), "jars")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={local}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-XX:-DontCompileHugeMethods"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.abspath(classes)}:{jars}/*", "graftbench.Main",
            workload] + [f"{k}={v}" for k, v in args.items()]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    env["SPARK_LOCAL_DIRS"] = local
    env.pop("SPARK_GRAFT_MASTER", None)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--gates", help="override the workload's gate list")
    ap.add_argument("--sf", type=float, help="override the fixture size")
    ap.add_argument("--rows", help="override flight rows as train,score")
    ap.add_argument("--break-input", choices=("train", "score"),
                    help="delete that flight input before the timed JVM "
                    "starts, so its app call fails (self-test)")
    a = ap.parse_args(argv)

    if not (os.path.isdir("src/main/scala") and os.path.isfile("build.sbt")):
        log("run from the repository root: src/main/scala not found")
        return 2
    cfg = dict(WORKLOADS[a.workload])
    if a.gates:
        cfg["gates"] = a.gates.split(",")
    if a.sf:
        cfg["sf"] = a.sf
    if a.rows:
        cfg["train_rows"], cfg["score_rows"] = map(int, a.rows.split(","))

    classes = build()
    work = os.path.abspath(os.path.join(
        ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_once(a, cfg, classes, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res))
    return 0


def run_once(a, cfg, classes, work):
    data = os.path.join(work, "data")
    t_start = time.time()

    def budget():
        return RUN_BUDGET_S - (time.time() - t_start)

    # inputs: made once, outside the measured JVM, and timed as set-up
    g0 = time.perf_counter()
    if "gates" in cfg:
        fixture.generate(data, a.seed, cfg["sf"])
    else:
        rc = jvm(classes, "flight_inputs", cfg["heap"],
                 {"data": data, "seed": a.seed, "train_rows": cfg["train_rows"],
                  "score_rows": cfg["score_rows"]}, work,
                 os.path.join(work, "inputs.log"), budget())
        if rc != 0:
            fail_jvm(rc, os.path.join(work, "inputs.log"))
        if a.break_input:
            shutil.rmtree(os.path.join(data, f"{a.break_input}_csv"))
    gen_s = time.perf_counter() - g0

    args = {"data": data, "work": work, "out": os.path.join(work, "result.json"),
            "seconds": a.seconds, "seed": a.seed, "trace": a.trace}
    for k in ("gates", "train_rows", "score_rows", "warmup_passes",
              "min_passes"):
        if k in cfg:
            args[k] = ",".join(cfg[k]) if k == "gates" else cfg[k]
    log_path = os.path.join(work, "jvm.log")
    spawn = time.time()
    rc = jvm(classes, a.workload, cfg["heap"], args, work, log_path, budget())
    if rc != 0 or not os.path.exists(args["out"]):
        fail_jvm(rc, log_path)
    with open(args["out"]) as f:
        r = json.load(f)

    # checks, outside every timed pass
    if "gates" in cfg:
        bad = check.gates(cfg["gates"], data, work, r.get("oracle", {}))
    else:
        bad = check.flight(work)
    for name, why in sorted(bad.items()):
        log(f"check failed: {name}: {why}")

    ops = {k[3:]: v for k, v in r.items() if k.startswith("op.")}
    failed_ops = {k[7:] for k in r if k.startswith("failed.")}
    bad_ops = failed_ops | set(bad)
    attempted = sum(len(v) for v in ops.values())
    failed = sum(len(v) for k, v in ops.items() if k in bad_ops)
    failed += sum(1 for k in bad_ops if k not in ops)  # warm-up/check only
    attempted += sum(1 for k in bad_ops if k not in ops)

    # a failed call never shortens a latency: see FAIL_CHARGE_S. A failed
    # operation with no timed call at all is charged once.
    ops = {k: [max(v, FAIL_CHARGE_S) for v in vs] if k in bad_ops else vs
           for k, vs in ops.items()}
    ops.update({k: [FAIL_CHARGE_S] for k in bad_ops if k not in ops})
    # a typical pass: every operation at its median latency. A contention
    # burst that slows a few calls of one pass moves this less than it
    # moves the median of the (few) whole-pass times.
    typical_pass = sum(statistics.median(vs) for vs in ops.values())

    session_s = r["session_ready_epoch_s"] - spawn
    setup_s = gen_s + session_s + r["warmup_s"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (typical_pass, "s"),
    }
    detail = {
        "workload": a.workload, "seed": a.seed, "config": cfg,
        "passes": len(r["pass_s"]), "pass_wall_s": r["pass_s"],
        "failed_frac": failed / max(1, attempted),
        "setup_parts_s": {"inputs": gen_s, "jvm_and_session": session_s,
                          "warmup": r["warmup_s"]},
        "memory_mb": {k: r[k] for k in ("peak_cached_mb", "peak_live_heap_mb",
                                        "peak_heap_pools_mb", "peak_rss_mb")},
        "op_median_s": {k: statistics.median(v) for k, v in ops.items()},
        "host": {k: r.get(k) for k in ("host.calib_s", "host.steal_frac",
                                       "host.loadavg")},
        "host_median": {k: statistics.median(r[k]) for k in (
            "host.calib_s", "host.steal_frac", "host.loadavg") if r.get(k)},
        "oracle_checked": len(r.get("oracle", {})),
        "checks_failed": bad,
        "wall_s": time.time() - t_start,
    }
    log("detail " + json.dumps(detail))
    if a.trace:
        metrics = layers.per_layer(r, ops, e2e["pass_s"][0],
                                   cfg.get("gates"))
        os.makedirs(".bench_out", exist_ok=True)
        with open(os.path.join(".bench_out",
                               f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"detail": detail, "spans": r.get("spans", []),
                       "metrics": metrics}, f, indent=1)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": not bad_ops, "attempted": max(1, attempted),
            "failed": failed, "metrics": metrics}


def fail_jvm(rc, log_path):
    with open(log_path) as f:
        sys.stderr.write(f.read()[-4000:])
    raise SystemExit(f"JVM exited with {rc}")


if __name__ == "__main__":
    sys.exit(main())
