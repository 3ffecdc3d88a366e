#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload copy_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (the root build plus perfbench/build.sbt);
later runs reuse the build while no source file changed. Everything the run
writes stays under .bench_build/ in the checkout.

Standard output ends with one JSON line: correct, attempted, failed and
metrics (the end-to-end metrics, or with --trace 1 the per-layer metrics).
The line before it is the full report: the workload's own named metrics,
the self-description of the run, and the host's CPU steal and load. Each
report is also kept under .bench_build/runs/ for compare.py.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_build", "runs")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [__file__, os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(f"{cmd[0]} exceeded {timeout} s and was stopped")
    return p.returncode, out, err


def jar_dir(src, dest):
    """Pack a class directory into a jar (class-data sharing only archives
    classes loaded from jars)."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(src)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src))


def build(digest):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as f:
                    return f.read()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "jars"))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    code, out, _ = run_killable(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export bench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=None, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out)
        die("build failed")
    cp = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, "jars", f"{i}-{os.path.basename(os.path.dirname(os.path.dirname(entry)))}.jar")
            jar_dir(entry, jar)
            entry = jar
        cp.append(entry)
    cp = os.pathsep.join(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return [int(x) for x in fields]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("the program's sources (src/main/scala) are not in this checkout")

    digest = source_hash()
    cp = build(digest)

    stamp = time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}"
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}"
    work = os.path.join(ROOT, ".bench_build", "work", run_id)
    trace_out = os.path.join(ROOT, ".bench_build", "traces", run_id + ".jsonl")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Class-data sharing: each workload's first run after a build archives
    # the classes it loaded; later runs map the archive instead of loading
    # and verifying ~20k classes, which cuts the cold start of every run.
    archive = os.path.join(BUILD, "cds", args.workload + ".jsa")
    dumping = not os.path.exists(archive)
    if not dumping:
        cmd.append("-XX:SharedArchiveFile=" + archive)
    else:
        os.makedirs(os.path.dirname(archive), exist_ok=True)
        cmd.append("-XX:ArchiveClassesAtExit=" + archive)
    cmd += [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dderby.system.home=" + work,
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(HERE, "data"), "--work", work,
            "--expected", os.path.join(HERE, "expected.json"),
            "--trace-out", trace_out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))

    cpu0, load0 = cpu_times(), loadavg()
    try:
        code, out, _ = run_killable(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                                    stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                                    stderr=None, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cpu1, load1 = cpu_times(), loadavg()

    reports = [l for l in out.splitlines() if l.startswith("PERFBENCH_REPORT ")]
    # a failed archive dump at exit turns the exit code; the run stands
    if (code != 0 and not dumping) or not reports:
        sys.stderr.write(out)
        die(f"the benchmark JVM exited with code {code} and no report")
    report = json.loads(reports[-1][len("PERFBENCH_REPORT "):])

    # the metric set must be exactly the one BENCHMARK.json declares
    declared = spec["per_layer" if args.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in report["metrics"].items()}
    if want != got:
        die(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
            f"extra {sorted(set(got) - set(want))}, "
            f"unit mismatch {sorted(k for k in want if k in got and want[k] != got[k])}")

    # host drift over the run; recorded, never used to filter runs
    d = [b - a for a, b in zip(cpu0, cpu1)]
    steal = d[7] if len(d) > 7 else 0
    report["host"] = {
        "cpu_steal_share": steal / sum(d) if sum(d) else 0.0,
        "loadavg_start": load0, "loadavg_end": load1,
        "nproc": os.cpu_count(),
    }
    report["workload"] = args.workload
    report["trace_mode"] = args.trace
    report["self"]["git_commit"] = git_commit()
    report["self"]["source_sha256"] = digest
    for key in ("trace", "trace_incremental"):
        if args.trace and key in report:
            report[key]["file"] = os.path.relpath(
                os.path.join(os.path.dirname(trace_out), report[key]["file"]), ROOT)

    os.makedirs(RUNS, exist_ok=True)
    with open(os.path.join(RUNS, run_id + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(json.dumps({k: report[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if report["correct"] else 1)


if __name__ == "__main__":
    main()
