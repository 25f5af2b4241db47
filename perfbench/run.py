#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload contract_floor --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first call builds the engine and the
harness from source (sbt, offline) into .bench_build/ and reuses that
build while the sources are unchanged. The harness then runs in a plain
JVM; see perfbench/README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("contract_floor", "rr_build")
# the JVM must end in time for the whole run to stay under 180 s
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        fail(f"no engine sources under {ROOT / 'src'}: run from the root of a checkout")
    want = stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # offline against the toolchain's pre-filled caches; sbt's own state
    # goes under .bench_build so the build writes only inside the checkout
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        f"-Dsbt.repository.config={repos}" if repos.is_file() else "",
        "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false", "-XX:-UsePerfData",
        f"-Dsbt.global.base={BUILD / 'sbt-global'}", f"-Djna.tmpdir={BUILD / 'tmp'}", "-Xmx2g"]))
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if "perfbench" in l and ".jar" in l and not l.startswith("[")), None)
    if res.returncode != 0 or cp is None:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    cp_file.write_text(cp)
    stamp_file.write_text(want)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--write-goldens", action="store_true",
                    help="also print the rr_build golden line for this seed")
    a = ap.parse_args()
    cp = build()
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    # ParallelGC: under G1 the engine's large buffers (humongous
    # allocations) start a concurrent marking cycle about twice a second,
    # which took half a core from the 4 the queries run on and made the
    # pass times follow host load
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", str(ROOT), "--write-goldens", "1" if a.write_goldens else "0"])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"harness exceeded {JVM_TIMEOUT_S} s")
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"harness exited with {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("harness printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
