#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the harness, runs one
workload in a fresh JVM, checks its outputs against DuckDB and prints one
JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <queries|validate_bucketed>
      --seed <n> --seconds <s> --trace <0|1>

`queries` reads the fixed tables in perfbench/data/sf0.001 (the seed does
not change them); `validate_bucketed` generates its pages from the seed.

The build runs only when a source or build file changed since the last
build in this checkout: sbt (in perfbench/) compiles, the two class
directories are packed into jars, and a training JVM (`perfbench.Main
--workload train`) loads the classes of every workload and writes a
class-data-sharing archive of them. A run's JVM is started with plain
`java` on that classpath, with the archive, the --add-opens list of the
root build.sbt and a fixed heap. Set PERFBENCH_KEEP=1 to keep the run's
work directory (inputs, outputs, result.json, jvm.log).
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
HEAP = "2g"
WORKLOADS = ["queries", "validate_bucketed"]
QUERY_DATA = os.path.join(HERE, "data", "sf0.001")
# the first run of a checkout builds and must end within 900 s, any other
# run within 180 s; the checks follow the JVM
BUILD_TIMEOUT_S = 400
TRAIN_TIMEOUT_S = 200
JVM_LIMIT_S = 150


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    files += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
              if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def pack_jar(classes, jar):
    """A class directory as a jar: the JVM archives classes from jars only."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, subdirs, names in os.walk(classes):
            subdirs.sort()
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))


def train(classpath, options, archive):
    """Write the class-data-sharing archive from a run of every workload."""
    work = os.path.join(build_dir(), "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = jvm_options(options, None) + [
        f"-XX:ArchiveClassesAtExit={archive}", "-cp", classpath, "perfbench.Main",
        "--workload", "train", "--seed", "1", "--seconds", "0", "--trace", "0",
        "--data", QUERY_DATA, "--work", work, "--out", os.path.join(work, "result.json")]
    p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=TRAIN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(p.stdout[-4000:])
        fail(f"the training run failed (exit {p.returncode})")


def build():
    """Compile with sbt if the sources changed; return (classpath, jvm options
    with the archive)."""
    out = build_dir()
    launch_file = os.path.join(out, "launch.json")
    stamp = source_stamp()
    if os.path.exists(launch_file):
        with open(launch_file) as fh:
            launch = json.load(fh)
        if launch.get("stamp") == stamp and all(os.path.exists(p) for p in
                launch["classpath"].split(os.pathsep) + [launch.get("archive", "")]):
            return launch["classpath"], jvm_options(launch["options"], launch["archive"])
    os.makedirs(out, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
           "compile", "print javaOptions", "export Runtime/fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(out, "build.log"), "w") as fh:
        fh.write(p.stdout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    lines = p.stdout.splitlines()
    options = [l[2:].strip() for l in lines if l.startswith("* ")]
    cps = [l.strip() for l in lines
           if not l.startswith("[") and "scala-2.13" in l and ".jar" in l]
    if not cps or not options:
        fail("build output has no classpath or javaOptions")
    classpath = []
    for i, entry in enumerate(cps[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(out, f"classes-{i}.jar")
            pack_jar(entry, jar)
            entry = jar
        classpath.append(entry)
    classpath = os.pathsep.join(classpath)
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    train(classpath, options, archive)
    launch = {"stamp": stamp, "classpath": classpath, "options": options,
              "archive": archive, "build_s": time.time() - t0}
    with open(launch_file, "w") as fh:
        json.dump(launch, fh)
    print(f"[perfbench] built in {launch['build_s']:.1f} s", file=sys.stderr)
    return classpath, jvm_options(options, archive)


def jvm_options(build_options, archive):
    """The root build's --add-opens list and -D settings; a fixed heap; the
    class-data-sharing archive, if given."""
    opts, i = [], 0
    while i < len(build_options):
        o = build_options[i]
        if o == "--add-opens" and i + 1 < len(build_options):
            opts += [o, build_options[i + 1]]
            i += 2
            continue
        if o.startswith("-D"):
            opts.append(o)
        i += 1
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cds = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    return [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC"] + cds + opts


def metric_names(bench, trace):
    key = "per_layer" if trace else "end_to_end"
    return [(m["name"], m["unit"]) for m in bench[key]]


# per-layer metrics that only one kind of workload produces
QUERY_ONLY = ("plan.", "query.", "layer.")
VALIDATE_ONLY = ("out.", "ckpt.", "io.", "checks.", "runner.")


def select_metrics(bench, workload, result, trace):
    src = result["per_layer"] if trace else result["end_to_end"]
    other = VALIDATE_ONLY if workload == "queries" else QUERY_ONLY
    metrics, missing = {}, []
    for name, unit in metric_names(bench, trace):
        if name in src:
            value = src[name]
        elif trace and name.startswith(other):
            value = 0.0  # the layer is not on this workload's path
        else:
            missing.append(name)
            continue
        metrics[name] = {"value": value, "unit": unit}
    return metrics, missing


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    # on SIGTERM, unwind: subprocess.run kills and reaps the JVM or sbt,
    # and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path.insert(0, HERE)
    import check  # noqa: E402  (perfbench/check.py)

    classpath, jvm = build()
    work = os.path.join(build_dir(), f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = jvm + [
            "-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--data", QUERY_DATA, "--work", work,
            "--out", os.path.join(work, "result.json")]
        log_path = os.path.join(work, "jvm.log")
        t0 = time.time()
        with open(log_path, "w") as log:
            try:
                p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                   timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                fail("the run did not end in time")
        print(f"[perfbench] jvm ran {time.time() - t0:.1f} s", file=sys.stderr)
        if p.returncode != 0:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"the JVM exited with {p.returncode}")
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
        print(f"[perfbench] end-to-end {json.dumps(result['end_to_end'])}", file=sys.stderr)
        problems = check.run(args.workload, result)
        for msg in problems:
            print(f"[perfbench] CHECK FAILED: {msg}", file=sys.stderr)
        metrics, missing = select_metrics(bench, args.workload, result, args.trace == "1")
        if missing:
            fail(f"metrics missing from the run: {missing}")
        print(json.dumps({"correct": not problems, "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": metrics}))
    finally:
        if os.environ.get("PERFBENCH_KEEP") != "1":
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
