#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload suite|daemon --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The first run builds the program and
the benchmark from source with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. Each run starts
one JVM, prints the JVM's log on stderr and, as the last line of
stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the `end_to_end` list of
BENCHMARK.json; with `--trace 1` they are the `per_layer` list, and the
spans go to `.bench_build/work/trace-<workload>-<seed>.json`. A record of
every run (result plus sample counts and the load sentinel) is kept in
`.bench_build/records/`.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's build and main sources,
    and the benchmark's own build and sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Builds with sbt unless the sources match the last build; returns
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala not found)")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE, env, BUILD_TIMEOUT_S,
                         stdout=log, stderr=subprocess.STDOUT)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {code}), log in {log_path}")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def run_child(cmd, cwd, env, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout
    and always waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def jvm_heap():
    """The heap the repository's test command gives Spark's JVM: half the
    machine's memory, 2 to 8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(re.search(r"MemTotal:\s+(\d+)", fh.read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    # a SIGTERM unwinds through run_child, which kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["suite", "daemon"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="store result fingerprints instead of checking them")
    args = ap.parse_args()

    cp = build()
    expected = expected_metrics(args.trace)
    work = os.path.join(BUILD, "work")
    run_dir = os.path.join(BUILD, "run")
    tmp = os.path.join(BUILD, "tmp")
    for d in (work, run_dir, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no /tmp/hsperfdata: the run writes only inside the checkout
    cmd += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{jvm_heap()}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(BUILD, 'derby')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--fingerprints", os.path.join(HERE, "fingerprints.tsv")]
    if args.record_fingerprints:
        cmd.append("--record-fingerprints")
    out_path = os.path.join(BUILD, "run", "stdout.txt")
    with open(out_path, "w") as out:
        code = run_child(cmd, run_dir, env, RUN_TIMEOUT_S, stdout=out)
    with open(out_path) as fh:
        lines = fh.read().splitlines()
    result = notes = None
    for ln in lines:
        if ln.startswith("PERFBENCH_RESULT "):
            result = json.loads(ln.split(" ", 1)[1])
        elif ln.startswith("PERFBENCH_NOTES "):
            notes = json.loads(ln.split(" ", 1)[1])
        else:
            print(ln, file=sys.stderr)
    if code != 0 or result is None:
        fail(f"{args.workload} run failed (exit {code})")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(expected))}")

    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    rec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
           "notes": notes, "result": result}
    name = f"{args.workload}-trace{args.trace}-seed{args.seed}-{int(time.time())}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
