#!/usr/bin/env python3
"""Benchmark of the medallion pipeline and the query mix.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_incremental --seed 1 \
        --seconds 5 --trace 0

The first run builds the program and this harness with sbt and keeps the
exported classpath in `.bench_build/`.  Each run generates its inputs from
the seed under `.bench_run/`, starts one JVM on the classpath, and deletes
the run directory at exit.  The last line of standard output is one JSON
object: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1` (spans around the public layer calls, a Spark listener and JVM
counters).
"""
import argparse
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
import stats  # noqa: E402

# Per workload: scale factor of the generated data, the number of
# distinct deltas the incremental calls rotate through, and the tables a
# delta holds (customer carries the side channel).
WORKLOADS = {
    "pipeline_incremental": {"sf": 0.01, "deltas": 4,
                             "call_tables": ["customer"]},
    "query_mix": {"sf": 0.01},
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_DIR = ".bench_build"
RUN_DIR = ".bench_run"
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Fingerprint of every build input: sources and build definitions of
    the program and the harness, by path, size and modification time."""
    parts = []
    for top in ("build.sbt", "project", "src", os.path.join(HERE, "harness")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                st = os.stat(os.path.join(d, f))
                parts.append(f"{os.path.join(d, f)}:{st.st_size}:{st.st_mtime_ns}")
        if os.path.isfile(top):
            st = os.stat(top)
            parts.append(f"{top}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(sorted(parts))


def build():
    """Compile the program and the harness unless nothing changed since the
    last build; return the classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local repositories only, as the project's tests do
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, start_new_session=True) as proc:
        try:
            output, _ = proc.communicate(timeout=700)
        except BaseException:
            # the sbt launcher runs its JVM as a child: stop the whole group
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        out.write(output)
    lines = [l for l in output.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise SystemExit(f"build failed (see {BUILD_DIR}/build.log)")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def heap():
    """Half of MemTotal in whole GiB, clamped to 2..8 (the tier-1 rule)."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def write_inputs(workload, seed, root):
    """Generate the workload's inputs into `root` (untimed)."""
    cfg = WORKLOADS[workload]
    if workload == "query_mix":
        gen.write_parquet(seed, cfg["sf"], os.path.join(root, "data"))
        return
    base = gen.make_base(seed, cfg["sf"])
    counts = gen.write_landing(base, os.path.join(root, "landing"))
    lines = [f"base\t{t}\t{n}" for t, n in counts.items()]
    lines += [f"gold\t{m}\t{n}" for m, n in gen.gold_counts(base).items()]
    for k in range(cfg["deltas"]):
        delta, per_table = gen.make_delta(base, seed, k)
        gen.write_landing(delta, os.path.join(root, "deltas", str(k)), cfg["call_tables"])
        lines += [f"delta\t{k}\t{t}\t{c}\t{n}" for t, (c, n) in per_table.items()
                  if t in cfg["call_tables"]]
    with open(os.path.join(root, "expected.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")


def run_jvm(classpath, args, root):
    """Start the harness JVM; return (result dict, peak RSS MB, launch time)."""
    threads = max(1, len(os.sched_getaffinity(0)) // 2)
    mem = heap()
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", f"-Djava.io.tmpdir={tmp}",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", classpath, "perfbench.Harness",
           f"root={root}", f"threads={threads}", *args]
    # Spark prefers these over spark.local.dir; the run must stay in its root
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS", "LOCAL_DIRS")}
    launched = time.time()
    with open(os.path.join(root, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            deadline = launched + JVM_TIMEOUT_S
            while True:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                if time.time() > deadline:
                    raise TimeoutError("harness JVM exceeded its time limit")
                time.sleep(0.05)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            os.waitpid(proc.pid, 0)
            raise
    # reaped by wait4 above (which also gives the peak RSS); tell Popen
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness JVM exited with {proc.returncode}")
    with open(os.path.join(root, "result.json")) as f:
        result = json.load(f)
    log(f"jvm user {usage.ru_utime:.1f} s sys {usage.ru_stime:.1f} s "
        f"majflt {usage.ru_majflt} minflt {usage.ru_minflt}")
    return result, usage.ru_maxrss / 1024.0, launched


def end_to_end(result, launched, warm):
    calls = result["calls"]
    return {
        "setup_s": result["ready_epoch_s"] - launched,
        "first_call_s": calls[0]["wall_s"],
        "call_p50_s": statistics.median(c["wall_s"] for c in warm),
        "cpu_s": statistics.median(c["cpu_s"] for c in warm),
        "retained_heap_mb": max([result["setup_heap_mb"]] + [c["heap_mb"] for c in calls]),
    }


def per_layer(result, root, warm, names, rss_mb):
    """Self seconds per layer span and engine counters, each the median
    over the warm calls; `setup.*` are the layer spans of set-up."""
    with open(os.path.join(root, "spans.jsonl")) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    found = stats.layer_seconds(spans, [c["i"] for c in warm])
    found["bench.call_self_s"] = found.pop("call_s", 0.0)
    found.update({f"setup.{k}": v for k, v in stats.layer_seconds(spans, [-1]).items()})
    for key in {k for c in warm for k in c["counters"]}:
        found[key] = statistics.median(c["counters"].get(key, 0.0) for c in warm)
    found.update(result["setup"])
    found["bench.traced_call_p50_s"] = statistics.median(c["wall_s"] for c in warm)
    found["jvm.peak_rss_mb"] = rss_mb
    # a layer the workload does not enter reads 0
    return {n: found.get(n, 0.0) for n in names}


def git_sha():
    """HEAD of the checkout, or "unknown" when it is not a git work tree."""
    if not os.path.exists(".git"):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # exit through the cleanup below (which stops the build or the JVM)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join("src", "main", "scala", "graft", "etl", "Pipeline.scala")):
        raise SystemExit("run from the repository root: program sources not found")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    classpath = build()
    root = os.path.abspath(os.path.join(RUN_DIR, f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        write_inputs(a.workload, a.seed, root)
        result, rss_mb, launched = run_jvm(
            classpath, [f"workload={a.workload}", f"seconds={a.seconds}",
                        f"trace={a.trace}"], root)
        calls = result["calls"]
        warm = calls[result["warmup"]:]
        names = [m["name"] for m in wanted]
        values = (per_layer(result, root, warm, names, rss_mb) if a.trace
                  else end_to_end(result, launched, warm))
        # set-up counts as one operation: its outputs are checked too
        failed = sum(1 for c in calls if not c["ok"]) + (result["setup_error"] is not None)
        log("record " + json.dumps({
            "workload": a.workload, "seed": a.seed, "git_sha": git_sha(),
            "nproc": result["nproc"], "jvm_flags": result["jvm_flags"],
            "spark_conf": result["spark_conf"], "warm_calls": len(warm),
            "calls": [[round(c["wall_s"], 3), round(c["cpu_s"], 2), round(c["heap_mb"]), c["ok"]]
                      for c in calls]}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": 1 + len(calls),
            "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in wanted},
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
