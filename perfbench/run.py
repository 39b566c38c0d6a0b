#!/usr/bin/env python3
"""Builds graft with the benchmark harness and runs one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run compiles graft's
sources (src/main) together with the harness (perfbench/src/main) through
sbt; later runs reuse the build while the sources are unchanged. Every
file it writes lands under the checkout: sbt output in perfbench/target,
tables, Spark scratch space and span files in .bench_build/perfbench.

The last line of standard output is the result JSON. The exit code is 0
only when the run completed; it is non-zero, with no result line, when
the checkout holds no graft sources or the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
DEADLINE_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compiles once per source state; returns the runtime classpath."""
    stamp = OUT / f"classpath-{source_hash()}.txt"
    if stamp.exists():
        return stamp.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Compile/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        fail(f"build failed (sbt exit {proc.returncode})")
    classpath = lines[-1].strip()
    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob("classpath-*.txt"):
        old.unlink()
    stamp.write_text(classpath + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT / 'src' / 'main' / 'scala'}; run from a graft checkout")
    t0 = time.time()
    classpath = build()
    work = OUT / "work"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work)]
    # A build in this run counts against the first run's longer allowance.
    limit = DEADLINE_S if time.time() - t0 < 5 else 880 - (time.time() - t0)
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=limit)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {limit:.0f} s")
    lines = proc.stdout.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        fail(f"benchmark exited {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
