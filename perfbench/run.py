#!/usr/bin/env python3
"""Run one benchmark workload against the engine, in process on local[nproc].

    python3 perfbench/run.py --workload serve-small --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark from source into .bench_build/ on first
use (again whenever a source file changes), runs the workload in one JVM and
prints the result object as the last line of standard output. With --trace 1
the per-layer metrics are reported instead, the spans are written to
.bench_build/traces/, and the tracing overhead is shown against an untraced
result of the same workload and seed, if one was made before.
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

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
# build.sh records the Spark jar directory it compiled against here
JARS_FILE = CLASSES / "SPARK_JARS"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
    files = sorted(p for r in roots if r.is_dir() for p in r.rglob("*.scala"))
    return files + [ROOT / "perfbench" / "build.sh"]


def build():
    """Compile unless the class directory was built from these exact sources."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = digest.hexdigest()
    stamp_file = BUILD / "classes.stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    BUILD.mkdir(parents=True, exist_ok=True)
    print(f"perfbench: building into {CLASSES.relative_to(ROOT)}", file=sys.stderr)
    subprocess.run(["bash", str(ROOT / "perfbench" / "build.sh"), str(CLASSES)],
                   cwd=ROOT, check=True, timeout=BUILD_TIMEOUT_S)
    stamp_file.write_text(stamp)


def java_command(args):
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jars = JARS_FILE.read_text().strip()
    # no hsperfdata file: the run writes nothing outside the checkout
    return ["java", *opens, "-XX:-UsePerfData", "-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{CLASSES}{os.pathsep}{jars}/*", "perfbench.Main", *args]


def overhead(workload, seed):
    """Traced minus untraced end-to-end figures of one workload and seed."""
    res = BUILD / "results"
    traced, plain = (res / f"{workload}-seed{seed}-trace{t}.json" for t in (1, 0))
    if not plain.is_file():
        print(f"tracing overhead: no untraced result for {workload} seed {seed}; "
              f"run it with --trace 0 first")
        return
    a = json.loads(plain.read_text())["end_to_end"]
    b = json.loads(traced.read_text())["end_to_end"]
    print(f"{'tracing overhead':28s} {'untraced':>12s} {'traced':>12s} {'diff':>12s} {'diff%':>8s}")
    for k, v in a.items():
        if k in b:
            x, y = v["value"], b[k]["value"]
            pct = 100.0 * (y - x) / x if x else float("nan")
            print(f"{k:28s} {x:12.4f} {y:12.4f} {y - x:12.4f} {pct:8.1f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    try:
        build()
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    cmd = java_command(["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", a.trace, "--out", str(BUILD)])
    started = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; log in {log}", file=sys.stderr)
            return 3
        finally:
            # a killed JVM cannot remove its own store and index
            for d in (BUILD / "data").glob(f"*-{proc.pid}"):
                shutil.rmtree(d, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        tail = log.read_text().splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"perfbench: run failed (exit {proc.returncode}); log in {log}", file=sys.stderr)
        return proc.returncode or 4
    for line in lines[:-1]:
        print(line)
    if a.trace == "1":
        overhead(a.workload, a.seed)
    print(f"run wall {time.time() - started:.1f} s", file=sys.stderr)
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
