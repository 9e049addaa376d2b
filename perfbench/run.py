#!/usr/bin/env python3
"""graft benchmark: build, run one workload, print the result.

Builds graft and the benchmark from the source tree around this directory
(once per source state), generates the benchmark's data (once per
checkout), runs one workload in its own JVM and prints the result as the
last line of standard output:

    python3 perfbench/run.py --workload point --seed 1 --seconds 20 --trace 0

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and writes the spans next to the report). Other modes:

    python3 perfbench/run.py --workload all --seed 1 --seconds 20
        every workload in turn (lib-fixed too), printing each metric by
        name, unit and sample count
    python3 perfbench/run.py --record-expected
        rewrite perfbench/expected_rows.tsv from the generated sf0.001 data
    python3 perfbench/run.py --selftest
        the benchmark's own unit tests (sbt test in perfbench/)

Everything it builds or writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BUILD, "data")
EXPECTED = os.path.join(HERE, "expected_rows.tsv")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
MAIN = "graft.perfbench.Main"
RUN_TIMEOUT_S = 170
# runnable by name, not listed in BENCHMARK.json (see perfbench/README.md)
EXTRA_WORKLOADS = ["lib-fixed"]
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_logged(cmd, cwd, log_path, timeout, env=None):
    """Run `cmd` in its own process group, output to `log_path`; kill the
    whole group on timeout and wait for it."""
    with open(log_path, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for o in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"):
        if o.split("=")[0] not in opts:
            opts += " " + o
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile graft + benchmark with sbt unless this source state is built."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building (sbt compile) ...")
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    blog = os.path.join(BUILD, "build.log")
    open(blog, "w").close()
    rc = run_logged([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                     "compile", "export Runtime/fullClasspath"],
                    HERE, blog, BUILD_TIMEOUT_S, env=sbt_env())
    lines = open(blog, errors="replace").read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (rc={rc}), log in {blog}")
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if not cps:
        die(f"build printed no classpath, log in {blog}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java_cmd(cp, scratch, heap="3g"):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap}", f"-Djava.io.tmpdir={scratch}/tmp", f"-Dderby.system.home={scratch}",
             f"-Dderby.stream.error.file={scratch}/derby.log", "-Dspark.ui.enabled=false",
             "-cp", cp, MAIN])


def ensure_data(cp):
    if os.path.exists(os.path.join(DATA, "sf0.1", "_COMPLETE")) and \
            os.path.exists(os.path.join(DATA, "sf0.001", "_COMPLETE")):
        return
    log("generating data ...")
    scratch = os.path.join(DATA, "_scratch")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    rc = run_logged(java_cmd(cp, scratch) + ["--gen-data", DATA], ROOT,
                    os.path.join(BUILD, "datagen.log"), BUILD_TIMEOUT_S)
    shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        die(f"data generation failed (rc={rc}), log in {BUILD}/datagen.log")


def run_jvm(cp, extra, tag, timeout=RUN_TIMEOUT_S):
    """One benchmark JVM in a fresh scratch directory; returns the rc
    (None when it was killed at the timeout)."""
    scratch = os.path.join(BUILD, "scratch", tag)
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    try:
        return run_logged(java_cmd(cp, scratch) + ["--data", DATA, "--scratch", scratch] + extra,
                          ROOT, os.path.join(logs, tag + ".log"), timeout)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def run_workload(cp, spec, workload, seed, seconds, trace):
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}"
    out = os.path.join(reports, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    rc = run_jvm(cp, ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                      "--trace", str(trace), "--expected", EXPECTED, "--out", out], tag)
    if rc != 0 or not os.path.exists(out):
        die(f"{workload} run failed (rc={rc}), log in {BUILD}/logs/{tag}.log", 1)
    with open(out) as f:
        report = json.load(f)
    names = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        got = report["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            if workload in EXTRA_WORKLOADS:
                continue
            die(f"{workload}: metric {m['name']} missing from report {out}", 1)
        if got["unit"] != m["unit"]:
            die(f"{workload}: metric {m['name']} has unit {got['unit']}, spec says {m['unit']}", 1)
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    return report, metrics


def show(report):
    """Every metric of a report by name, unit and sample count (stdout)."""
    w = report["workload"]
    print(f"# {w} seed={report['seed']} measured={report['seconds']:.1f}s "
          f"attempted={report['attempted']} failed={report['failed']} "
          f"contaminated={str(report['contaminated']).lower()}")
    for k, m in report["metrics"].items():
        print(f"{w:10s} {k:40s} {m['value']!s:>22} {m['unit']:8s} n={m['samples']}")
    for n in report["notes"][:10]:
        print(f"{w:10s} note: {n}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no graft sources at {ROOT}/src/main/scala/graft: run from a graft checkout")
    if not os.path.exists(SPEC):
        die(f"missing {SPEC}")
    spec = load_spec()
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]

    if a.selftest:
        sbt = shutil.which("sbt") or die("sbt not found on PATH")
        rc = subprocess.call([sbt, "--batch", "-Dsbt.log.noformat=true", "test"],
                             cwd=HERE, env=sbt_env())
        sys.exit(rc)

    cp = build()
    ensure_data(cp)

    if a.record_expected:
        rc = run_jvm(cp, ["--record-expected", EXPECTED], "record-expected", timeout=3600)
        if rc != 0:
            die(f"recording failed (rc={rc}), log in {BUILD}/logs/record-expected.log", 1)
        return

    names = [w["name"] for w in spec["workloads"]]
    if a.workload == "all":
        for w in names + EXTRA_WORKLOADS:
            report, _ = run_workload(cp, spec, w, a.seed, seconds, a.trace)
            show(report)
        return
    if a.workload not in names + EXTRA_WORKLOADS:
        die(f"unknown workload {a.workload!r}; one of {names + EXTRA_WORKLOADS} or 'all'")
    report, metrics = run_workload(cp, spec, a.workload, a.seed, seconds, a.trace)
    show(report)
    print(json.dumps({"correct": bool(report["correct"]), "attempted": int(report["attempted"]),
                      "failed": int(report["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
