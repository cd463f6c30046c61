"""Pages-corpus benchmark of graft: one seeded command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--record <dir>]

Builds the library and the benchmark from source (see build.py), then runs
one benchmark JVM at local[nproc] that sets up the seeded inputs, runs the
workload's operation in a closed loop for --seconds, checks the output and
reports metrics. With --trace 0 it reports the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics; for extract_heavy the
traced run adds a second, one-core JVM for the weak-scaling leg.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. The exit code is 0 only when every
operation and every correctness check passed. --record <dir> also writes
the run's details (environment, per-op times, checks, span self times and,
when traced, the spans) into that directory.
"""

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
HEAP = "2g"
# a run must end within 180 s; the JVMs share what the build leaves of it
RUN_BUDGET_S = 170
MARK = "GRAFTBENCH_RESULT "

# matches org.apache.spark.launcher.JavaModuleOptions on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def launch(work, args, cores, flags, deadline, log):
    """Run one benchmark JVM to its end; returns (stdout, exit code)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = flags + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
                     "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                     # compiler threads live as long as the JVM, so the
                     # benchmark can leave their CPU out of its figures
                     "-XX:-UseDynamicNumberOfCompilerThreads",
                     f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
    if cores == 1:
        # the one-core leg gets no spare GC or JIT threads from the host
        flags += ["-XX:ActiveProcessorCount=1", "-XX:ParallelGCThreads=1",
                  "-XX:ConcGCThreads=1"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd = (["java"] + flags + ["-cp", build.class_path(build.spark_jars()), "graftbench.Main",
                               "--work", work, "--cores", str(cores)] + args)
    with open(log, "ab") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=work)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM exceeded the time budget; log: {log}")
    return out.decode("utf-8", "replace"), proc.returncode


def train(flags):
    """The build's training run: each workload of BENCHMARK.json once, in one JVM."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = ",".join(w["name"] for w in json.load(f)["workloads"])
    work = os.path.join(build.BUILD_DIR, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(build.BUILD_DIR, "train.log")
    if os.path.exists(log):
        os.remove(log)
    _, code = launch(work, ["--workload", "train:" + names, "--seed", "0", "--seconds", "0",
                            "--trace", "0"], nproc(), flags, time.monotonic() + 800, log)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(log, "rb") as f:
            sys.stderr.write(f.read()[-6000:].decode("utf-8", "replace"))
    return code


def jvm(work, args, cores, deadline, log):
    """Run one benchmark JVM; returns its parsed result object and exit code."""
    flags = []
    if os.path.isfile(build.archive()):
        flags.append("-XX:SharedArchiveFile=" + build.archive())
    out, code = launch(work, args, cores, flags, deadline, log)
    lines = [l for l in out.splitlines() if l.startswith(MARK)]
    if not lines:
        with open(log, "rb") as f:
            sys.stderr.write(f.read()[-6000:].decode("utf-8", "replace"))
        fail(f"benchmark JVM exited with code {code} and no result")
    return json.loads(lines[-1][len(MARK):]), code


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record", help="directory for this run's details")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found next to perfbench/")
    with open(spec_path) as f:
        spec = json.load(f)
    declared = spec["per_layer" if a.trace else "end_to_end"]

    t_start = time.monotonic()
    build.build(train)
    deadline = time.monotonic() + RUN_BUDGET_S

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        res, code = jvm(work, args, nproc(), deadline, log)
        metrics = dict(res["metrics"])
        extra = dict(res["extra"])
        if a.trace and a.workload == "extract_heavy":
            leg, leg_code = jvm(work, args + ["--leg", "scale1"], 1, deadline, log)
            code = code or leg_code
            le = leg["extra"]
            # weak scaling: per-core throughput of the nproc run over the 1-core run
            per_core = extra["rows"] / extra["op_wall_s"] / nproc()
            metrics["spark.scale_eff"] = per_core / (le["rows"] / le["op_wall_s"])
            extra["scale_leg"] = le
            res["attempted"] += leg["attempted"]
            res["failed"] += leg["failed"]
            res["correct"] = res["correct"] and leg["correct"]

        names = [m["name"] for m in declared]
        unknown = sorted(set(metrics) - set(names))
        if unknown:
            fail(f"metrics not declared in BENCHMARK.json: {unknown}")
        if not a.trace and set(metrics) != set(names):
            fail(f"missing end-to-end metrics: {sorted(set(names) - set(metrics))}")
        # a module the workload does not exercise did no work: it reads 0
        out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}

        if a.record:
            os.makedirs(a.record, exist_ok=True)
            stem = os.path.join(a.record, f"{a.workload}-seed{a.seed}-trace{a.trace}")
            with open(stem + ".json", "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                           "trace": a.trace, "env": environment(),
                           "wall_s": time.monotonic() - t_start, "correct": res["correct"],
                           "attempted": res["attempted"], "failed": res["failed"],
                           "metrics": out, "extra": extra}, f, indent=1, sort_keys=True)
            spans = os.path.join(work, "spans.json")
            if os.path.isfile(spans):
                shutil.copyfile(spans, stem + ".spans.json")

        for c in extra.get("checks", []):
            if not c["ok"]:
                sys.stderr.write(f"perfbench: check {c['name']} failed: {c['detail']}\n")
        print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                          "failed": int(res["failed"]), "metrics": out}))
        sys.exit(0 if res["correct"] and code == 0 else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def environment():
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stderr=subprocess.PIPE,
                          text=True).stderr
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {"nproc": nproc(), "mem_total_gb": round(mem_kb / 1048576, 1),
            "jvm": java.strip().splitlines()[0], "heap": HEAP,
            "cpu": platform.processor() or platform.machine(), "python": platform.python_version()}


if __name__ == "__main__":
    main()
