#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 graftbench/run.py --workload etl_driver --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine's
sources together with the benchmark driver (graftbench/build.sbt) and
caches the classpath under graftbench/target; later runs rebuild only
when a source file changed. The driver then runs in one JVM at
local[nproc]. Every metric is printed by name with its unit, and the
last stdout line is one JSON object: correct, attempted, failed, metrics
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
The full run record (conditions, failures, input mix, all metrics) is
written to graftbench/.work/results/.

Exit codes: 0 ok, 2 missing sources or toolchain, 3 build failed,
4 the run failed or timed out (no result line is printed then).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SRC = os.path.join(ROOT, "src", "main", "scala")
FIXTURE = os.path.join(BENCH, "fixture")
EXPECTED = os.path.join(BENCH, "expected.json")
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, ".work")
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(code, msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die(2, "no Spark installation (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".properties", ".sbt"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    """Compile engine + driver once per source state.

    Returns the classpath and whether this call compiled.
    """
    stamp_file = os.path.join(TARGET, "bench-stamp")
    cp_file = os.path.join(TARGET, "bench-classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read(), False
    if not shutil.which("sbt"):
        die(2, "sbt not found")
    # sbt's own temporary files stay inside the checkout too
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    benv["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
                        + f" -Djava.io.tmpdir={tmp}")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=benv, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and "classes" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        die(3, "build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip(), True


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    help="etl_driver, corpus_heavy, past_gate or "
                         "incremental_load")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # development and self-test options
    ap.add_argument("--pin", help="write the check pass's digests here")
    ap.add_argument("--perturb", default="",
                    help="alter the expected digest of this operation")
    a = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(SRC, "graft", "SparkEntry.scala")):
        die(2, f"engine sources not found under {SRC}")
    if not os.path.isdir(FIXTURE) or not os.path.isfile(EXPECTED):
        die(2, "fixture or expected digests missing")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    cp, built = build(env)

    work = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env["SPARK_LOCAL_DIRS"] = tmp
    nproc = os.cpu_count() or 1
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--fixture", FIXTURE, "--work", work,
              "--expected", EXPECTED, "--perturb", a.perturb])
    if a.pin:
        cmd += ["--pin", os.path.abspath(a.pin)]
    # a run that had to build first has the build's own allowance
    left = RUN_LIMIT_S - (0 if built else time.monotonic() - t_start)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(4, f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = proc.communicate(timeout=left)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        die(4, f"run exceeded {left:.0f} s")
    result = record = None
    for ln in out.splitlines():
        if ln.startswith("RESULT "):
            result = json.loads(ln[7:])
        elif ln.startswith("RECORD "):
            record = json.loads(ln[7:])
    if proc.returncode != 0 or result is None:
        sys.stderr.write(err[-4000:])
        die(4, f"run failed (exit {proc.returncode})")
    missing = set(declared_metrics(a.trace)) - set(result["metrics"])
    if missing:
        die(4, f"metrics not produced: {sorted(missing)}")
    result["metrics"] = {k: result["metrics"][k]
                         for k in declared_metrics(a.trace)}

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    rec_path = os.path.join(
        WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1)
    if record["contended"]:
        print(f"CONTENDED: load average {record['load_start']:.2f} at start "
              f"exceeds nproc {record['nproc']}")
    print(f"workload {a.workload} seed {a.seed} nproc {record['nproc']} "
          f"load {record['load_start']:.2f}->{record['load_end']:.2f} "
          f"spark {record['versions']['spark']} jdk {record['versions']['jdk']}")
    print(f"passes {record['passes']} (+{record['traced_passes']} traced), "
          f"{record['samples']} op samples, tail at "
          f"p{record['op_tail_percentile']:g}")
    shown = record["per_layer"] if a.trace else record["end_to_end"]
    for k, m in shown.items():
        print(f"  {k:48s} {m['value']:.6g} {m['unit']}")
    print(f"check: {result['failed']} of {result['attempted']} operations "
          f"failed" + ("" if result["correct"] else " (see record)"))
    for f in record["failures"][:10]:
        print(f"  FAILED {f['op']} [{f['phase']}] {f['class']}: "
              f"{f['message'][:200]}")
    print(f"record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
