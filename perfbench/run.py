#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness from source (sbt, offline); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed, runs
one workload in one JVM on a local[nproc] SparkSession, checks the
outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
measured with no listener registered; with --trace 1 they are the
per-layer metrics, and the spans are written to
<build dir>/traces/<workload>-seed<seed>.jsonl. The exit code is 0 only
when every output was correct.

Extra options: --size smoke (tiny inputs, for the benchmark's tests) and
--corrupt <ta|recall|durability|dedup> (damage one result before
its correctness gate, to show the gate trips).
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

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

START = time.monotonic()
RUN_LIMIT_S = 165.0  # a run (not counting a build) must end within 180 s
WORKLOADS = ["ann_serve", "ingest_serve", "dedup_pipeline"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """Half of MemTotal in GiB, clamped to [2, 8] (the repo's test heap rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def sources():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def ensure_built(bdir):
    """Compile the library and the harness, package both as jars and record
    a class-data-sharing archive of a smoke run of every workload; rebuilt
    only when a source or build file changed. Returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no library sources next to the benchmark: run from the root of a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file, stamp_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    shutil.rmtree(bdir, ignore_errors=True)
    os.makedirs(bdir)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "export perfbench/Runtime/fullClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=600)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("build timed out")
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    # class directories become jars: the archive can only cover jars
    entries = []
    for i, e in enumerate(cp[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(bdir, "lib", "classes%d.jar" % i)
            os.makedirs(os.path.dirname(jar), exist_ok=True)
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, fs in sorted(os.walk(e)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), e))
            e = jar
        entries.append(e)
    classpath = os.pathsep.join(entries)
    record_archive(bdir, classpath)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def record_archive(bdir, classpath):
    """A smoke run of every workload in one JVM, dumping the classes it
    loaded; later runs map them instead of loading and verifying them
    again. Without an archive the runs still work, only start slower."""
    run_dir = os.path.join(bdir, "archive-run")
    datas = []
    for w in WORKLOADS:
        datas.append(os.path.join(run_dir, w))
        gen.generate(w, 0, "smoke", datas[-1])
    args = ["--workload", ",".join(WORKLOADS), "--data", ",".join(datas),
            "--work", os.path.join(run_dir, "work"), "--reference", os.path.join(HERE, "reference"),
            "--out", os.path.join(run_dir, "result.json"), "--seconds", "1", "--trace", "0",
            "--cpus", str(cpus())]
    rc, _ = run_jvm(classpath, args, run_dir, archive="dump", limit=400)
    if rc != 0 and os.path.exists(archive_path(bdir)):
        os.remove(archive_path(bdir))
    shutil.rmtree(run_dir, ignore_errors=True)


def archive_path(bdir):
    return os.path.join(bdir, "classes.jsa")


def run_jvm(cp, args, run_dir, archive="use", limit=None):
    jsa = archive_path(build_dir())
    if archive == "dump":
        share = [f"-XX:ArchiveClassesAtExit={jsa}"]
    else:
        share = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off"] if os.path.exists(jsa) else []
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:-UsePerfData"] + share + [
        f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    if limit is None:
        limit = max(10.0, RUN_LIMIT_S - (time.monotonic() - START))
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timed out", log
    return proc.returncode, log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    ap.add_argument("--corrupt", default="")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    bdir = build_dir()
    cp = ensure_built(bdir)
    global START
    START = time.monotonic()

    run_dir = os.path.join(bdir, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        gen.generate(a.workload, a.seed, a.size, data)
        out = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--data", data, "--work", os.path.join(run_dir, "work"),
                "--reference", os.path.join(HERE, "reference"), "--out", out,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus())]
        if a.corrupt:
            args += ["--corrupt", a.corrupt]
        if a.trace:
            os.makedirs(os.path.join(bdir, "traces"), exist_ok=True)
            args += ["--spans", os.path.join(bdir, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
        rc, log = run_jvm(cp, args, run_dir)
        if rc != 0 or not os.path.exists(out):
            if os.path.exists(log):
                sys.stderr.write(open(log).read()[-4000:])
            fail(f"workload JVM exited with {rc}")
        res = json.load(open(out))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not res.get("ok"):
        sys.stderr.write(json.dumps(res) + "\n")
        fail("workload raised: %s" % res.get("error"))

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail("metrics missing from the result: %s" % missing)
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}
    correct = res["failed"] == 0

    detail = res["detail"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  cpus {cpus()}  heap {heap()}")
    for name, m in metrics.items():
        print(f"  {name:<40} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'failed_frac':<40} {res['failed'] / max(res['attempted'], 1):>16.6g} "
          f"({res['failed']} of {res['attempted']})")
    for g in res["gates"]:
        print(f"  gate {'ok  ' if g['ok'] else 'FAIL'} {g['name']}: {g['detail']}")
    print(f"  verdict: {'correct' if correct else 'WRONG OUTPUT'}")
    sys.stderr.write("detail " + json.dumps(detail) + "\n")
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
