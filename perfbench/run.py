#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload exporter|queries \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the harness (perfbench/scala) with the Scala compiler
that ships in $SPARK_HOME/jars (or beside spark-submit on PATH) into
.bench_build/.
Each run then starts one JVM, which generates its inputs from the seed,
warms up, runs the workload closed-loop for S seconds and checks every
output. Every end-to-end metric (trace 0) or per-layer metric (trace 1)
is printed with its unit; the last stdout line is the JSON summary.

Each run leaves its own artifact in .bench_runs/<run id>/ (artifact.json,
plus spans.json when traced) and deletes its java.io.tmpdir on exit.
Exit status: 0 when every output checked out, 1 on a wrong output or a
failed run, 2 when the program or toolchain is missing, 3 on timeout.

    python3 perfbench/run.py --selftest    # the harness's own checks
"""

import argparse
import datetime
import fcntl
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import stats  # noqa: E402

WORKLOADS = ("exporter", "queries")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUNS_DIR = os.path.join(ROOT, ".bench_runs")
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or fail("no java on PATH", 2)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the first Spark install whose
    bin/spark-submit is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark jars: set SPARK_HOME or put Spark's bin/ on PATH", 2)


def scala_sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(os.path.join(ROOT, "src")) for p in out):
        fail("no program sources under src/main/scala (run from the root of a graft checkout)", 2)
    return sorted(out)


def build():
    """Compile program + harness once per source content; returns
    (classpath entries, seconds spent compiling)."""
    jars = spark_jars()
    srcs = scala_sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "perfbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "perfbench.jar")
    cp = [jar, os.path.join(jars, "*")]
    if os.path.exists(os.path.join(out, "ok")):
        return cp, 0.0
    os.makedirs(BUILD_DIR, exist_ok=True)
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, "ok")):
            return cp, 0.0
        # builds of other source states are stale: keep only this one
        for d in os.listdir(BUILD_DIR):
            if d.startswith("perfbench-"):
                shutil.rmtree(os.path.join(BUILD_DIR, d), ignore_errors=True)
        os.makedirs(classes)
        # compile from the output dir: scalac's default classpath is ".",
        # and the checkout root would expose perfbench/scala as a package
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        r = subprocess.run([java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
                            "@" + argfile], cwd=out, timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            fail("compilation failed", 1)
        # one jar holding the classes and the program's resources
        with zipfile.ZipFile(jar, "w") as z:
            for base in (classes, os.path.join(ROOT, "src", "main", "resources")):
                for d, _, files in os.walk(base):
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), base))
        shutil.rmtree(classes)
        open(os.path.join(out, "ok"), "w").close()
    return cp, time.time() - t0


def git_stamp():
    def git(*a):
        return subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True, timeout=30)
    try:
        sha = git("rev-parse", "HEAD")
        if sha.returncode != 0:
            return "unknown"
        dirty = git("status", "--porcelain", "--", "src", "perfbench", "build.sbt", "project")
        return sha.stdout.strip() + ("-dirty" if dirty.stdout.strip() else "")
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, main_args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.pathsep.join(cp)] + main_args
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.send_signal(signal.SIGQUIT)  # thread dump into the log
            time.sleep(2)
            proc.kill()
            proc.wait()
            rc = None
        except BaseException:
            proc.kill()
            proc.wait()
            raise
    return rc, log_path


def log_tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def fmt(v):
    return repr(float(v)) if isinstance(v, float) else str(v)


def main():
    # a terminated run still stops its JVM and deletes its tmpdir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="PATH",
                    help="write the observed row counts and digests to PATH")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    start = time.time()
    cp, build_s = build()
    deadline = start + (BUILD_LIMIT_S if build_s > 0 else RUN_LIMIT_S)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S%f")
    name = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(RUNS_DIR, f"{name}-{stamp}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        if a.selftest:
            rc, log = run_jvm(cp, ["perfbench.SelfTest", "--work", os.path.join(run_dir, "tmp", "work")],
                              run_dir, deadline)
            sys.stdout.write(log_tail(log, 200))
            sys.exit(0 if rc == 0 else 1)
        raw_path = os.path.join(run_dir, "raw.json")
        args = ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", raw_path,
                "--work", os.path.join(run_dir, "tmp", "work")]
        if a.record:
            args.append("--record")
        rc, log = run_jvm(cp, args, run_dir, deadline)
        if rc is None:
            fail(f"run exceeded its time limit; log: {log}", 3)
        if rc != 0:
            sys.stderr.write(log_tail(log))
            fail(f"harness exited with {rc}; log: {log}", 1)
        with open(raw_path) as f:
            raw = json.load(f)
        os.remove(raw_path)  # the artifact carries all of it
    finally:
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    if a.record:
        rows = {o["name"]: {"count": o["count"], "hash": o["hash"]}
                for o in raw["ops"] if o["kind"] == "check"}
        with open(a.record, "w") as f:
            json.dump({"rows": rows}, f, indent=1, sort_keys=True)

    attempted, failed, share = stats.failed_share(raw["ops"])
    e2e, notes = stats.end_to_end(raw)
    layer = stats.per_layer(raw) if a.trace else {}
    for o in raw["ops"]:
        if not o.get("ok"):
            print(f"FAILED {o['kind']} {o.get('name', '')} pass={o.get('pass')} "
                  f"error={o.get('error')}", file=sys.stderr)
    artifact = {
        "run_id": os.path.basename(run_dir), "sha": git_stamp(), "seed": a.seed,
        "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
        "nproc": raw["nproc"], "spark_version": raw["spark_version"],
        "java_version": raw["java_version"], "build_s": build_s,
        "calibration": raw["calibration"], "setup": raw["setup"],
        "attempted": attempted, "failed": failed,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "notes": notes,
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in layer.items()},
        "layers_raw": raw["layers"], "ops": raw["ops"],
    }
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"run {artifact['run_id']} sha={artifact['sha']} nproc={raw['nproc']} "
          f"spark={raw['spark_version']} java={raw['java_version']}")
    shown = layer if a.trace else e2e
    for k, (v, u) in shown.items():
        extra = notes.get(k)
        print(f"{k} {fmt(v)} {u}" + (f" {json.dumps(extra)}" if extra else ""))
    listed = ([name for name, _, _ in stats.per_layer_spec()] if a.trace
              else ["pass_s", "setup_s"])
    metrics = {k: {"value": shown[k][0], "unit": shown[k][1]} for k in listed}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
