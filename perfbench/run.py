#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

Usage, from the repository root:
  python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 5 --trace 0

Builds the engine and the harness from source (cached under
.bench_build/), generates the workload's inputs from the seed, runs the
harness in a fresh JVM (set-up, warm-up, timed passes, then the outputs
for the checker), checks those outputs with DuckDB, and prints one JSON
object as the last line of standard output. With --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer metrics of a traced run.
The full run record goes to .perfbench_out/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen_data  # noqa: E402

# sf: input scale (sf=0.01 gives 60,000 lineitems and 500 documents).
# nominal_pass_s: length of a warm pass on a quiet 4-CPU host; a run times
# round(--seconds / nominal_pass_s) passes, so that every run times the
# same work whatever the speed of the host.
WORKLOADS = {
    "interactive_mix": {"sf": 0.01, "nominal_pass_s": 5.0},
    "lake_writes": {"sf": 0.005, "lake": True, "nominal_pass_s": 5.0},
}
# One warm-up pass: the cold pass (class loading, first JIT, first codegen).
WARM_PASSES = 1
BUILD_DIR = os.path.join(".bench_build", "perfbench")
OUT_DIR = ".perfbench_out"
RUN_DIR = ".perfbench_run"
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
END_TO_END = {"setup_s": "s", "cpu_s": "s", "nonheap_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "build.ms": "ms", "build.jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.aqe_replans": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "sources.write_ms": "ms", "sources.read_ms": "ms", "sources.output_mb": "MB",
    "sources.files_written": "count", "sources.files_discovered": "count",
    "sources.lake_mb": "MB", "sources.lake_files": "count",
    "streaming.batches": "count", "streaming.batch_ms": "ms",
    "jvm.gc_s": "s", "jvm.metaspace_mb": "MB", "jvm.codecache_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile the engine and the harness unless the sources are unchanged."""
    sources = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True)
                     + glob.glob(os.path.join(HERE, "harness", "*.scala"))
                     + [os.path.join(HERE, "build.sh")])
    h = hashlib.sha256(jars.encode())
    for p in sources:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes, stamp = os.path.join(BUILD_DIR, "classes"), os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        r = subprocess.run(["sh", os.path.join(HERE, "build.sh"), classes, jars],
                           stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail(f"build failed, see {BUILD_DIR}/build.log")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def steal_ticks():
    """Host CPU steal (USER_HZ ticks, all CPUs), a note about the host."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def leftover_files(d):
    return sum(len(fs) + len(ds) for _, ds, fs in os.walk(d))


def per_pass(record, key):
    """The per-layer metric `key` of each timed pass."""
    out = []
    for p in record["passes"]:
        if key == "jvm.gc_s":
            out.append(p["gc_s"])
        elif key in p:
            out.append(p[key])
        else:
            out.append(sum(op["counts"].get(key, 0.0) for op in p["ops"]))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    if shutil.which("java") is None:
        fail("java not found")
    w = WORKLOADS[a.workload]
    jars = spark_jars()
    classes = os.path.abspath(build(jars))

    root = os.path.abspath(os.path.join(RUN_DIR, f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "local", "input"):
        os.makedirs(os.path.join(root, d))
    os.environ["PERFBENCH_TMP"] = os.path.join(root, "tmp")
    try:
        result = run(a, w, root, classes, jars)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(RUN_DIR)
        except OSError:
            pass
    print(json.dumps(result))


def run(a, w, root, classes, jars):
    nproc = os.cpu_count() or 2
    cpus = max(1, nproc - 2)
    data = os.path.join(root, "input")
    t_gen = time.time()
    gen_data.write(a.seed, w["sf"], data, lake=w.get("lake", False))
    gen_s = time.time() - t_gen
    n_orders = int(1_500_000 * w["sf"])
    lo = (a.seed * 7919) % (n_orders // 2)
    hi = lo + n_orders // 20
    out_json = os.path.join(root, "record.json")
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:ParallelGCThreads=1", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2",
            f"-Djava.io.tmpdir={root}/tmp", f"-Dspark.local.dir={root}/local",
            f"-Dspark.sql.warehouse.dir={root}/warehouse", f"-Dderby.system.home={root}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Harness",
              "--workload", a.workload, "--data", data, "--root", root,
              "--seed", str(a.seed), "--trace", str(a.trace),
              "--warm", str(WARM_PASSES),
              "--timed", str(max(1, round(a.seconds / w["nominal_pass_s"]))),
              "--cpus", str(cpus), "--out", out_json,
              "--prune_lo", str(lo), "--prune_hi", str(hi)])
    steal0 = steal_ticks()
    log_path = os.path.join(root, "jvm.log")
    with open(log_path, "w") as log:
        t_start = time.time()
        p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    steal1 = steal_ticks()
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.copy(log_path, os.path.join(OUT_DIR, tag + ".log"))
    spans = os.path.join(root, "record.spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(OUT_DIR, tag + ".spans.jsonl"))
    if code != 0 or not os.path.exists(out_json):
        fail(f"harness exited with {code}; log in {OUT_DIR}/{tag}.log")
    record = json.load(open(out_json))
    leftovers = leftover_files(os.path.join(root, "tmp"))

    t_check = time.time()
    check_dir = os.path.join(root, "check")
    if record["check_error"]:
        checks = {"harness": record["check_error"]}
    elif a.workload == "lake_writes":
        checks = check.lake(data, os.path.join(root, "lake"), check_dir, lo, hi)
    else:
        checks = check.queries(data, check_dir)
    checks["self_test"] = "" if check.self_test() else "the checker accepted a wrong result"
    check_s = time.time() - t_check

    passes = record["passes"]
    ops = [op for p in passes for op in p["ops"]]
    attempted, failed = len(ops), sum(1 for op in ops if op["failed"])
    if a.trace:
        # each operation's build + plan + exec, measured apart, is within
        # its wall time (plus the 1 ms steps of the event clock)
        for op in ops:
            c = op["counts"]
            if c["build.ms"] + c["plan.ms"] + c["exec.ms"] > op["wall_ms"] + 2:
                checks[f"split {op['name']}"] = "build + plan + exec exceeds wall"
        values = {k: statistics.median(per_pass(record, k)) for k in PER_LAYER
                  if k != "session.start_s"}
        values["session.start_s"] = record["session_start_s"]
        metrics = {k: {"value": round(values[k], 6), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": record["setup_end_ms"] / 1e3 - t_start,
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "nonheap_mb": record["nonheap_mb"],
        }
        metrics = {k: {"value": round(values[k], 6), "unit": u} for k, u in END_TO_END.items()}
    failures = {k: v for k, v in checks.items() if v}
    # Wall times of a pass and of the median operation follow the host's
    # CPU steal more than the program (see README.md, "Steadiness"), so
    # they are kept in the record but not reported as metrics.
    pass_s = statistics.median(p["wall_s"] for p in passes)
    op_p50_ms = statistics.median([op["wall_ms"] for op in ops if not op["failed"]] or [0.0])
    run_record = dict(record, checks=checks, pass_s=pass_s, op_p50_ms=op_p50_ms, steal_ticks=None if steal0 is None or steal1 is None
                      else steal1 - steal0, tmpdir_leftover_files=leftovers, metrics=metrics,
                      gen_s=gen_s, check_s=check_s,
                      wall_s=time.time() - t_start)
    with open(os.path.join(OUT_DIR, tag + ".json"), "w") as f:
        json.dump(run_record, f)
    for k, v in failures.items():
        print(f"check failed: {k}: {v}", file=sys.stderr)
    return {"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
