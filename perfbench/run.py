#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --record

Run it from the root of a checkout. It builds the engine and the benchmark
with sbt when their sources changed since the last build (a copy of each
build is kept in .bench_build/), runs perfbench.Main in a fresh JVM, removes the
run's scratch files, and prints the result JSON as the last line of stdout.
`--record` re-records perfbench/expected/sf0.1.tsv (outputs and
construction-job counts of every query) from the engine at hand.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "sf0.1.tsv")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
YOUNG = "1g"
# what spark-submit would pass on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads from this checkout: both builds' own
    definitions, the engine's and the benchmark's sources, and unmanaged
    jars under lib/ (jars outside the checkout are checked by build())."""
    files = []
    for base in (ROOT, HERE):
        files.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "lib"),
                 os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def inside(path):
    return os.path.abspath(path).startswith(ROOT + os.sep)


def stamp(path):
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}"


def build(code_id):
    """Compiles engine + benchmark once per source fingerprint and returns
    the runtime classpath. sbt compiles into the shared target/ dirs, so
    every classpath entry inside the checkout is copied to
    .bench_build/build-<fingerprint>/ and the classpath names the copies:
    a cached build always runs the code it was built from. Entries outside
    the checkout (the image's jars) are recorded with size and mtime and a
    change to any of them forces a rebuild."""
    out = os.path.join(BUILD, f"build-{code_id}")
    cp_file = os.path.join(out, "classpath.txt")
    ext_file = os.path.join(out, "external.json")
    if os.path.exists(cp_file):
        try:
            with open(ext_file) as fh:
                fresh = all(stamp(p) == s for p, s in json.load(fh).items())
        except (OSError, ValueError):
            fresh = False
        if fresh:
            with open(cp_file) as fh:
                return fh.read().strip()
    shutil.rmtree(out, ignore_errors=True)
    log("building engine and benchmark with sbt")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or cp.startswith("[") or "perfbench" not in cp:
        sys.stderr.write(p.stdout)
        raise SystemExit("build failed")
    entries, external = [], {}
    for i, e in enumerate(cp.split(os.pathsep)):
        if not os.path.exists(e):
            continue
        if inside(e):
            copy = os.path.join(out, "cp", f"{i}-{os.path.basename(e)}")
            if os.path.isdir(e):
                shutil.copytree(e, copy)
            else:
                os.makedirs(os.path.dirname(copy), exist_ok=True)
                shutil.copy2(e, copy)
            entries.append(copy)
        else:
            external[e] = stamp(e)
            entries.append(e)
    with open(ext_file, "w") as fh:
        json.dump(external, fh)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as fh:
        fh.write(cp + "\n")
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def remove_engine_tmp(pid):
    """The engine writes its ingest and artifact dirs under /tmp, tagged
    with the JVM pid, and deletes them at exit; remove any it left."""
    tag = re.compile(rf"_p{pid}(_|$)")
    left = [d for d in glob.glob("/tmp/graft*") + glob.glob("/tmp/graft*/*")
            if tag.search(os.path.basename(d))]
    for d in left:
        shutil.rmtree(d, ignore_errors=True)
    if left:
        log(f"removed {len(left)} engine dirs left under /tmp")


def run_java(cp, code_id, args, timeout):
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    # fixed heap and young generation sizes: G1's adaptive sizing moved the
    # peak RSS and heap by ±25% between identical runs. The heap is not
    # pre-touched, so peak RSS follows the heap regions actually used.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--data", DATA, "--work", work,
              "--code-id", code_id] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        log(f"run exceeded {timeout} s")
        out = None
    finally:
        remove_engine_tmp(proc.pid)
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.record and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"the engine's sources are missing ({need}); nothing to benchmark")
            return 2
    os.makedirs(BUILD, exist_ok=True)
    code_id = fingerprint()
    cp = build(code_id)

    if a.record:
        rc, out = run_java(cp, code_id, ["--record", EXPECTED], timeout=None)
        sys.stdout.write(out or "")
        return rc

    rc, out = run_java(cp, code_id, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--expected", EXPECTED], timeout=RUN_TIMEOUT_S)
    if rc != 0 or out is None:
        sys.stdout.write(out or "")
        log(f"benchmark exited with code {rc}")
        return rc or 1
    lines = out.splitlines()
    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            parsed = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(parsed, dict) and "correct" in parsed:
            result = lines.pop(i)
            break
    if result is None:
        sys.stdout.write(out)
        log("no result line in the benchmark's output")
        return 1
    for l in lines:
        print(l)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
