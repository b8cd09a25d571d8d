#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline, from source) into the checkout; later runs reuse
that build until a source file changes. Every metric is printed by name and
unit; the last line of stdout is the result object. Scratch data goes to
`.bench_build/work` (deleted after the run), per-run details and traced
spans to `.bench_build/results`.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("sensor_ingest", "lake_mixed")
RUN_LIMIT_S = 175       # a run must end within 180 s
HEAP = "2g"
BUILD_LIMIT_S = 850     # the first run of a checkout may take 900 s


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root, bench):
    """Digest of everything the build reads, so an edit forces a rebuild."""
    files = [root / "build.sbt", root / "project" / "build.properties",
             bench / "build.sbt", bench / "project" / "build.properties"]
    for base in (root / "src" / "main", bench / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, bench, out):
    """Compile program + harness with sbt; return the runtime classpath
    and the program build's JVM options, its heap size left out."""
    stamp, cp_file, opts_file = out / "build.stamp", out / "classpath.txt", out / "java-options.txt"

    def built():
        opts = [o for o in opts_file.read_text().splitlines() if o and not o.startswith("-Xmx")]
        return cp_file.read_text().strip(), opts

    digest = source_digest(root, bench)
    if stamp.exists() and cp_file.exists() and opts_file.exists() and stamp.read_text() == digest:
        return built()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=bench, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_LIMIT_S)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    shutil.copy(bench / "target" / "runtime-classpath.txt", cp_file)
    shutil.copy(bench / "target" / "java-options.txt", opts_file)
    stamp.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return built()


def main():
    # a terminated run unwinds, so the JVM and sbt it started are stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = pathlib.Path.cwd().resolve()
    bench = pathlib.Path(__file__).resolve().parent
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{root} holds no program source (build.sbt, src/main/scala/graft); "
             "run from the root of a full checkout")
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    classpath, java_opts = build(root, bench, out)

    work = out / "work" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # a fixed-size heap, touched at start: the JVM's heap sizing and how
    # much of the heap a run happens to touch would otherwise swing peak
    # RSS from run to run; what varies is then the memory off the heap
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *java_opts,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", str(work), "--out", str(out / "results")]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    sys.stdout.write("\n".join(lines[:-1]) + "\n" if len(lines) > 1 else "")
    if proc.returncode != 0 or not lines:
        fail(f"benchmark exited {proc.returncode} without a result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
