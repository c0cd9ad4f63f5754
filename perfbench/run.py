#!/usr/bin/env python3
"""Benchmark entry point: build the engine and harness, run one workload.

    python3 perfbench/run.py --workload score_catchup --seed 7 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
engine (`build.sbt`, `src/`) and the harness (`perfbench/build.sbt`)
with sbt and caches the classpath under `perfbench/.work/`, keyed by a
digest of every source file; later runs start the JVM directly.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json, or with `--trace 1` the per-layer ones). Traced runs also
write a report and the span file to `perfbench/.work/reports/`.

`--record-fingerprints` rewrites `perfbench/fingerprints.json`, the query
mix results the checks compare against.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
MODEL = os.path.join(WORK, "model")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
RUN_LIMIT_S = 170  # a run, build excluded, must end within 180 s
BUILD_LIMIT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the repository root."""
    out = ["build.sbt", "project/build.properties",
           "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"[perfbench] engine sources not found: {need} "
                     "(run from the repository root of a full checkout)")
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest and os.path.isdir(MODEL):
            return cached["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("[perfbench] build failed")
    classpath = lines[-1]
    # the scorer is trained once per build, as `TrainMain` would; every
    # score run loads it the way `ScoreMain` does
    log("training the scorer")
    shutil.rmtree(MODEL, ignore_errors=True)
    work = os.path.join(WORK, "prepare")
    os.makedirs(work, exist_ok=True)
    try:
        res, code = run_jvm(classpath, ["--prepare", "1"], work,
                            time.time() + BUILD_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isdir(MODEL):
        sys.exit("[perfbench] training the scorer failed")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]},
            [w["name"] for w in b["workloads"]])


def run_jvm(classpath, args, work, deadline):
    """Run perfbench.Main in `work`; returns (parsed result or None, exit code)."""
    args = ["--work", work, "--model", MODEL, "--fingerprints", FINGERPRINTS,
            *args]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main", *args]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run timed out")
        return None, 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    for line in reversed(out.splitlines()):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):]), proc.returncode
    return None, proc.returncode


def main():
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    t_start = time.time()
    classpath = build()
    e2e_units, layer_units, workloads = declared()
    if not a.record_fingerprints and a.workload not in workloads:
        sys.exit(f"[perfbench] unknown workload {a.workload}; one of {workloads}")

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{int(t_start)}"
    args = ["--workload", str(a.workload), "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--spans", os.path.join(reports, f"spans-{tag}.jsonl")]
    if a.record_fingerprints:
        args += ["--record", FINGERPRINTS]
    # the JVM's own limit; the first run's build comes on top of it
    deadline = time.time() + RUN_LIMIT_S
    try:
        res, code = run_jvm(classpath, args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.record_fingerprints:
        sys.exit(code)
    if res is None:
        log(f"JVM exited with {code} and printed no result")
        sys.exit(1)

    for f in res["failures"]:
        log(f"FAILED: {f}")
    units = layer_units if a.trace else e2e_units
    got = res["layers"] if a.trace else res["e2e"]
    missing = sorted(k for k in units if got.get(k) is None)
    if missing:
        log(f"harness did not measure {missing}")
        sys.exit(1)
    for k, v in sorted(res["details"].items()):
        log(f"{k} = {v}")
    last = os.path.join(WORK, f"last-{a.workload}.json")
    if a.trace:
        write_report(os.path.join(reports, f"report-{tag}.json"), res, last)
    else:
        with open(last, "w") as f:
            json.dump(got, f)
    failed = len(res["failures"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, int(res["attempted"])),
        "failed": failed,
        "metrics": {k: {"value": got[k], "unit": u} for k, u in units.items()},
    }))


def write_report(path, res, last_untraced):
    """Self time per span name, the per-layer metrics, the workload's
    layer breakdown with the bases of its ratios, and the tracing overhead:
    each end-to-end metric of this traced run minus the same metric of the
    latest untraced run of the workload in this checkout."""
    overhead = {}
    if os.path.exists(last_untraced):
        with open(last_untraced) as f:
            untraced = json.load(f)
        for k, v in untraced.items():
            t = res["e2e"].get(k)
            if t is not None and v:
                overhead[k] = {"traced": t, "untraced": v, "diff": t - v,
                               "share": (t - v) / v}
    report = {
        "self_s": dict(sorted(res["self_s"].items(), key=lambda kv: -kv[1])),
        "layers": res["layers"],
        "details": res["details"],
        "tracing_overhead": overhead,
        "failures": res["failures"],
    }
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    log(f"report: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    main()
