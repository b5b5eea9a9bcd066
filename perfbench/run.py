#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run it from the repository root. The first run compiles the engine's
sources together with the harness (sbt, offline) into .bench_build/ and
records a class-data sharing archive there; later runs start the JVM
directly. Each run works in its own directory under
.bench_work/ and removes it at the end, keeping only the result files of the
last run of each workload and trace mode. The last line of standard output
is the result JSON; the line before it carries the raw samples.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "sources.sha256")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
WORKLOADS = ("catalog_lookup", "crawl_merge", "admission_stream")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, HARNESS_SRC):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the recorded source digest matches."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, out=fh, timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    archive()
    with open(STAMP, "w") as fh:
        fh.write(digest)


def archive():
    """Class-data sharing: one short run of the heaviest workload records
    the classes it loads into an archive, which later JVMs map instead of
    loading and verifying each class again. On a 4-core container that made
    JVM start and cold set-up 3-9 s shorter per run."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(WORK, f"archive-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(BUILD, "archive.log")
    try:
        cmd = java_cmd(work)
        cmd = cmd[:1] + [f"-XX:ArchiveClassesAtExit={ARCHIVE}"] + cmd[1:] + [
            "perfbench.Main", "--workload", "admission_stream", "--seed", "0",
            "--seconds", "1", "--trace", "0", "--work", work,
            "--out", os.path.join(work, "result.json")]
        with open(log, "w") as fh:
            rc = run_group(cmd, cwd=work, env=dict(os.environ), out=fh, timeout=JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        with open(log) as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-40:] if "WARN" not in l))
        fail(f"class archive run failed (exit {rc}); log in {log}")


def run_group(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Waits until the process has ended either way."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def java_cmd(tmp):
    """A fixed 2 GiB heap (no heap-resizing collections inside timed work),
    and the class archive once it is built."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={tmp}"]
    if os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def jvm(args, work, out_json):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(tmp) + ["perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out_json]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        rc = run_group(cmd, cwd=work, env=dict(os.environ), out=fh, timeout=JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out_json):
        with open(log) as fh:
            lines = [l for l in fh.readlines() if "WARN" not in l]
        sys.stderr.write("".join(lines[-40:]))
        return None
    with open(out_json) as fh:
        return json.load(fh)


def summarize(raw, spec, trace):
    """The result line: end-to-end metrics untraced, per-layer metrics traced."""
    ok_ms = raw["op_ms"]
    e2e = {
        "op_p50_ms": stats.median(ok_ms),
        "items_per_s": raw["items"] / raw["busy_s"],
        "setup_s": raw["setup_s"],
        "stored_mb": raw["stored_mb"],
    }
    layers = dict(raw["layers"])
    t = stats.tail(ok_ms)
    layers["op.samples"] = len(ok_ms)
    layers["op.tail_pct"], layers["op.tail_ms"] = (t[0], t[1]) if t else (0.0, 0.0)
    section = "per_layer" if trace else "end_to_end"
    values = layers if trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[section]}
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": metrics,
    }, e2e, layers


def selftest():
    rc = subprocess.call([sys.executable, "-m", "unittest", "discover", "-s", HERE,
                          "-p", "test_*.py"], cwd=HERE)
    if rc != 0:
        fail("stats unit tests failed")
    build()
    work = os.path.join(WORK, f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as fh:
            rc = run_group(java_cmd(work) + ["perfbench.SelfTest", work], cwd=work,
                           env=dict(os.environ), out=fh, timeout=JVM_TIMEOUT_S)
        with open(log) as fh:
            lines = fh.readlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # the test's own lines; the rest is Spark's log
    sys.stdout.write("".join(l for l in lines if l.startswith(WORKLOADS)))
    if rc != 0:
        fail("input determinism self-test failed")
    print("selftest ok")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    # a SIGTERM unwinds like an interrupt: the JVM's process group is killed
    # and the work directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(ENGINE_SRC) and os.path.exists(spec_path)):
        fail("run from the repository root: engine sources or BENCHMARK.json not found", 2)
    if args.selftest:
        return selftest()
    if not args.workload:
        fail("--workload is required", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)
    build()
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        raw = jvm(args, work, os.path.join(work, "result.json"))
        keep = os.path.join(WORK, "last", f"{args.workload}-trace{args.trace}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("result.json", "spans.json", "jvm.log"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        fail("the workload run failed; see the log above")
    if not raw["op_ms"]:
        fail(f"no operation succeeded: {raw['errors']}")
    result, e2e, layers = summarize(raw, spec, args.trace == 1)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "wall_s": round(time.time() - t0, 3), "end_to_end": e2e, "layers": layers,
              "phase_s": raw["phase_s"], "op_ms": raw["op_ms"], "errors": raw["errors"]}
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
