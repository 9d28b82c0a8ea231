#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload genomics_io --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles graft's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into
.bench_build/; later runs reuse the classes while the sources are
unchanged. The last stdout line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the metrics are the per-layer ones and the span dump is
written to .bench_build/traces/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("genomics_io", "table_analytics")
SCALA = "2.13.17"
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars: Spark, and the Scala compiler it ships."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.exists(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        fail(f"no Spark with Scala {SCALA} jars under $SPARK_HOME/jars; set SPARK_HOME")
    return jars


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not graft:
        fail("graft sources (src/main/scala) not found; run from the repository root")
    return graft + bench


def build(root, out):
    """Compile graft + benchmark sources with the Scala compiler Spark ships.
    Skipped when the source digest matches the last build."""
    jars = spark_jars()
    srcs = sources(root)
    res = os.path.join(root, "src/main/resources")
    h = hashlib.sha256(SCALA.encode())
    for f in srcs + sorted(glob.glob(os.path.join(res, "**/*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    comp = ":".join(os.path.join(jars, f"scala-{n}-{SCALA}.jar")
                    for n in ("compiler", "library", "reflect"))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", comp, "scala.tools.nsc.Main",
                        "-classpath", os.path.join(jars, "*"), "-d", classes, "-nowarn"] + srcs,
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compile failed")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def git_context(root):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return {"git_sha": None, "git_dirty": None}
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=root, capture_output=True, text=True, timeout=10)
        return {"git_sha": sha.stdout.strip(), "git_dirty": bool(dirty.stdout.strip())}
    except (OSError, subprocess.SubprocessError):
        return {"git_sha": None, "git_dirty": None}


def cpu_ticks():
    """Host-wide (busy, steal) clock ticks from /proc/stat; None where
    the file is missing."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[0] + f[1] + f[2] + f[5] + f[6], f[7]
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(classes, work, args, tables, deadline):
    jars = spark_jars()
    # fixed heap and generation sizes: with adaptive sizing the heap grew
    # in one of two steps from run to run, making peak RSS bimodal
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{os.path.join(jars, '*')}", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--scale", args.scale, "--corrupt", str(int(args.corrupt))]
    if tables:
        cmd += ["--inputs", tables]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM exceeded its time limit")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def per_layer(root, layers):
    """Every per-layer metric BENCHMARK.json names, in its unit. A layer
    the workload does not exercise did no work and reads 0."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        names = json.load(fh)["per_layer"]
    return {m["name"]: {"value": layers.get(m["name"], {}).get("value", 0.0), "unit": m["unit"]}
            for m in names}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs, for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: damage every checked output; every check must fail")
    args = ap.parse_args(argv)
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    classes = build(root, out)
    # a slow first build gets the whole budget; later runs get 170 s
    deadline = max(deadline, time.time() + 120)

    work = os.path.join(out, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        tables = None
        if args.workload == "table_analytics":
            tables = os.path.join(HERE, "data", "sf0.001" if args.scale == "tiny" else "sf0.01")
        t0 = time.perf_counter()
        ticks0 = cpu_ticks()
        res = run_jvm(classes, work, args, tables, deadline)
        ticks1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests while ours wanted it,
        # as a share of busy + stolen time: high when the host is contended
        steal = None
        if ticks0 and ticks1 and (ticks1[0] - ticks0[0]) + (ticks1[1] - ticks0[1]) > 0:
            steal = (ticks1[1] - ticks0[1]) / ((ticks1[0] - ticks0[0]) + (ticks1[1] - ticks0[1]))
        jvm_s = time.perf_counter() - t0
        failed, attempted = res["failed"], res["attempted"]
        if args.workload == "table_analytics":
            import oracle
            t0 = time.perf_counter()
            verdicts = oracle.compare(tables, work, res["checked"], corrupt=args.corrupt)
            res["check_s"] += time.perf_counter() - t0
            bad = {k: v for k, v in verdicts.items() if v != "ok"}
            failed += sum(res["key_ops"].get(k, 0) for k in bad)
            res["failures"].update(bad)
        metrics = res["metrics"]
        metrics["ok_frac"]["value"] = (attempted - failed) / attempted
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "round_walls_s": res["round_walls_s"],
            "traced_round_walls_s": res["traced_round_walls_s"],
            "session_setup_s": res["session_setup_s"], "setup_parts_s": res["setup_parts_s"],
            "jvm_boot_s": res["jvm_boot_s"], "best_ops": res["best_ops"],
            "jvm_s": jvm_s, "check_s": res["check_s"],
            "metrics": metrics, "layers": res["layers"],
            "failures": res["failures"], "inputs": res["inputs"],
            "batch_ms": res.get("batch_ms"), "checked_keys": res.get("checked"),
            "tables": tables and os.path.relpath(tables, root),
            "context": dict(res["context"], nproc=os.cpu_count(), steal_frac=steal,
                            python=platform.python_version(), **git_context(root)),
        }
        if args.trace:
            report["span_summary"] = res["span_summary"]
            report["spans"] = res["spans"]
            os.makedirs(os.path.join(out, "traces"), exist_ok=True)
            with open(os.path.join(out, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump(report, fh)
            del report["spans"]
        print(json.dumps(report))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": per_layer(root, res["layers"]) if args.trace else metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
