#!/usr/bin/env python3
"""Build the program and the benchmark harness from source, then run one
benchmark workload and print its metrics.

    python3 perfbench/run.py --workload radio_survey --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The program (src/main/scala and
src/main/resources) and the harness (perfbench/src) are compiled with the
Scala compiler shipped in Spark's jars directory ($SPARK_HOME/jars, or the
one next to `spark-submit` on PATH) into .bench_build/, and rebuilt only
when a source file changes. Each run starts a fresh JVM at local[cores],
working under .bench_build/work/<workload>/.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The exit code is 0 only when every output was correct.

Other modes:
    --perturb         corrupt one output before it is checked; the run must fail
    --self-check      run every workload with --perturb and confirm each fails
    --record FILE     write the registry hashes of the benchmark corpus to FILE
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["radio_survey", "registry_sweep"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def whole_number(lo, hi):
    def parse(text):
        try:
            v = int(text, 10)
        except ValueError:
            raise argparse.ArgumentTypeError(f"expected a whole number, got '{text}'")
        if not lo <= v <= hi:
            raise argparse.ArgumentTypeError(f"expected a value from {lo} to {hi}, got {v}")
        return v
    return parse


def parse_args(argv):
    nproc = os.cpu_count() or 1
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=whole_number(0, 2**63 - 1))
    p.add_argument("--seconds", type=whole_number(1, 600), default=10)
    p.add_argument("--trace", type=whole_number(0, 1), default=0)
    p.add_argument("--cores", type=whole_number(1, nproc), default=nproc,
                   help=f"Spark local threads, at most nproc ({nproc}); default nproc")
    p.add_argument("--perturb", action="store_true")
    p.add_argument("--self-check", action="store_true")
    p.add_argument("--record", metavar="FILE")
    a = p.parse_args(argv)
    if not a.self_check:
        if a.workload is None:
            p.error("--workload is required")
        if a.seed is None and a.record is None:
            p.error("--seed is required")
    return a


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def source_files(top, suffixes):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(suffixes)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_tree(name, sources, classpath, resources_dir, stamp, jars):
    """Compile `sources` into .bench_build/<name>/classes unless the stamp matches."""
    out = os.path.join(BUILD, name)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    staging = out + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.join(staging, "classes"))
    args_file = os.path.join(staging, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    print(f"perfbench: compiling {len(sources)} {name} sources", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", os.path.join(staging, "classes"),
           "-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]), "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compiling {name} sources failed", 4)
    if resources_dir and os.path.isdir(resources_dir):
        shutil.copytree(resources_dir, os.path.join(staging, "classes"), dirs_exist_ok=True)
    with open(os.path.join(staging, "stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    return classes


def build(jars):
    main_src = os.path.join(ROOT, "src", "main", "scala")
    main_res = os.path.join(ROOT, "src", "main", "resources")
    sources = source_files(main_src, (".scala", ".java"))
    if not sources:
        fail(f"no program sources under {os.path.relpath(main_src, ROOT)}; "
             "run from the root of a checkout")
    compiler = sorted(f for f in os.listdir(jars) if f.startswith("scala-compiler"))
    main_stamp = digest(sources + source_files(main_res, ("",)), ";".join(compiler))
    main_classes = compile_tree("main", sources, [], main_res, main_stamp, jars)
    bench_sources = source_files(os.path.join(HERE, "src"), (".scala",))
    bench_stamp = digest(bench_sources, main_stamp)
    bench_classes = compile_tree("bench", bench_sources, [main_classes], None, bench_stamp, jars)
    return [bench_classes, main_classes]


def run_workload(a, jars, classes, perturb):
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # A fixed-size heap and the throughput collector: run-to-run spread
        # of pass times and of the peak live heap is lower than with G1.
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss8m",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dperfbench.expected={os.path.join(HERE, 'expected_hashes.tsv')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]),
        "org.apache.spark.perfbench.Main",
        "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(a.cores), "--perturb", "1" if perturb else "0", "--work", work,
    ]
    if a.seed is not None:
        cmd += ["--seed", str(a.seed)]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    lines = []
    try:
        out, _ = proc.communicate(timeout=None if a.record else RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 5)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, lines


def self_check(a, jars, classes):
    """Every workload must turn red when one of its outputs is perturbed."""
    ok = True
    for w in WORKLOADS:
        a.workload, a.seed, a.seconds, a.trace = w, 1, 1, 0
        code, lines = run_workload(a, jars, classes, perturb=True)
        red = code != 0 and any('"correct": false' in l for l in lines[-1:])
        named = [l for l in lines if l.startswith("perfbench: FAILED")]
        print(f"perfbench: self-check {w}: exit {code}, "
              f"{'red' if red else 'NOT red'}; {named[0] if named else 'no failure named'}")
        ok &= red and bool(named)
    return 0 if ok else 1


def main(argv):
    a = parse_args(argv)
    jars = spark_jars()
    classes = build(jars)
    if a.self_check:
        return self_check(a, jars, classes)
    code, lines = run_workload(a, jars, classes, a.perturb)
    for line in lines:
        print(line)
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
