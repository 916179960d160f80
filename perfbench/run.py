#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload fleet|monolith \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into the checkout; later runs
reuse that build while the sources are unchanged. The run itself is one
JVM (perfbench.Main). A traced fleet run also runs a slice of the query
suite, whose results are then checked by the repository's DuckDB oracle
check (tools/oracle_check.py). The last line of standard output
is the result: {"correct", "attempted", "failed", "metrics"}; the line
before it is the run's full record (host, JVM flags, per-call figures).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fleet", "monolith")
RUN_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 25
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sf_dir():
    """The synthetic tables of the suite slice: $PERFBENCH_SF_DIR, else the
    directory TESTDATA.md lists for scale factor 0.01."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            for line in fh:
                cells = [c.strip() for c in line.split("|")]
                if len(cells) > 2 and cells[1] == "0.01":
                    return cells[2].strip("`").rstrip("/")
    except OSError:
        pass
    return ""


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bdir):
    """Compile program + benchmark; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(bdir, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "compile", "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        out.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed; see {log}")
    lines = [l for l in p.stdout.splitlines()
             if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not lines:
        fail(f"build printed no classpath; see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def mem_total_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return -1


def run_jvm(cp, args, work, sf):
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), work, sf])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=ROOT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log}")
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"JVM exited with {rc}; see {log}")
    with open(result) as fh:
        return json.load(fh)


def oracle_failures(sf, suite):
    """Run tools/oracle_check.py over the slice's results; map each query
    it reports as FAIL to its reasons."""
    script = os.path.join(ROOT, "tools", "oracle_check.py")
    try:
        p = subprocess.run([sys.executable, script, sf, suite], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           text=True, timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"oracle check exceeded {ORACLE_TIMEOUT_S}s")
    bad = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[len("FAIL "):].partition(": ")
            bad.setdefault(name, []).append(why)
    if p.returncode != 0 and not bad:
        fail(f"oracle check exited with {p.returncode}:\n{p.stdout[-2000:]}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: the program's sources are not here")
    sf = sf_dir()
    if args.trace and args.workload == "fleet" and not os.path.isdir(sf):
        fail(f"the suite slice needs the synthetic tables (not found at '{sf}')")

    bdir = build_dir()
    cp = build(bdir)
    load_start = loadavg()
    steal0, ticks0 = cpu_ticks()
    work = os.path.join(bdir, "run")
    res = run_jvm(cp, args, work, sf)
    failed = res["failed"]
    failures = list(res["failures"])
    steal1, ticks1 = cpu_ticks()
    if "suite_queries" in res["detail"]:
        bad = oracle_failures(sf, os.path.join(work, "suite"))
        failed += len(bad)
        failures += [f"{name}: oracle mismatch: {'; '.join(why)}" for name, why in bad.items()]
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    spec = benchmark_spec()
    kind = "per_layer" if args.trace else "end_to_end"
    measured = res[kind]
    missing = [m["name"] for m in spec[kind] if m["name"] not in measured]
    if missing:
        fail(f"run did not measure {', '.join(missing)}")
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
               for m in spec[kind]}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "mem_total_kb": mem_total_kb(),
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "cpu_steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "jvm_flags": res["jvm_flags"], "end_to_end": res["end_to_end"],
        "setup_phases": res["setup_phases"], "detail": res["detail"],
        "failures": failures[:20],
    }
    print(json.dumps({"record": record}))
    # large inputs and outputs are not kept between runs
    for d in ("fleet", "monolith", "suite", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0,
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
