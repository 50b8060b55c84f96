#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine's sources
together with the Scala harness in perfbench/ (sbt, offline) into
.bench_build/; later runs reuse that build while the sources are unchanged.
Each run starts one JVM with Spark in local[nproc] mode, generates the
workload's inputs from the seed, sets up, times a closed loop of one client
for --seconds, checks the outputs, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it carries the run's context (Spark conf,
cores, source fingerprint, seed), its traffic shares and the detail behind
each metric. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("report_queries", "index_serving", "curation_waves")
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

UNITS_E2E = {"setup_s": "s", "op_s_p50": "s", "op_s_tail": "s", "ops_per_s": "1/s",
             "docs_per_s": "1/s", "read_s_p50": "s", "write_s_p50": "s",
             "state_mb": "MB", "peak_heap_mb": "MB"}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def refuse_toggles():
    """Engine A/B toggles and conf overrides would change what is measured.
    SPARK_GRAFT_CPUS is ignored instead: no code path the benchmark runs
    reads it, and the benchmark fixes the core count itself."""
    bad = sorted(k for k in os.environ
                 if (k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS")
                 or k == "SPARK_DRIVER_JVM")
    if bad:
        fail(f"refusing to run with {', '.join(bad)} set", code=2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in os.walk(r):
            for f in sorted(fs):
                yield os.path.join(d, f)


def commit():
    """The git commit of the checkout, when it is a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def source_fingerprint():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def stop_group(p):
    """Stop the process group `p` leads and wait until `p` has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(p.pid, sig)
        except ProcessLookupError:
            break
        try:
            p.wait(timeout=10)
            break
        except subprocess.TimeoutExpired:
            continue
    p.wait()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout, or
    when this script is told to stop, stop the whole group first."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def on_signal(signum, _frame):
        stop_group(p)
        sys.exit(128 + signum)
    previous = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        p.wait(timeout=timeout)
        return p.returncode
    except subprocess.TimeoutExpired:
        stop_group(p)
        return None
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def build(fingerprint):
    """Compile engine + harness once per source state; returns the classpath."""
    out = os.path.join(BUILD, "perfbench")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fingerprint:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    os.makedirs(out, exist_ok=True)
    home = os.path.expanduser("~")
    repos = os.path.join(home, ".sbt", "repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Dsbt.ivy.home={os.path.join(BUILD, 'ivy2')}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                       cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    lines = [l.strip() for l in open(log) if l.strip()]
    cp = [l for l in lines if l.endswith(".jar") or ".jar:" in l]
    if not cp:
        fail(f"no classpath in {log}")
    cp = cp[-1].split("] ", 1)[-1] if cp[-1].startswith("[") else cp[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(fingerprint)
    return cp


def launch(cp, args, work):
    """One JVM run of perfbench.Main; returns the raw result."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        rc = run_group(cmd, RUN_TIMEOUT_S - (time.time() - START), cwd=ROOT, env=env,
                       stdout=f, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(out):
        tail = open(log).read()[-2000:]
        fail(f"harness failed (exit {rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def check_reports(work):
    """report_queries: {query: reason} for reports the oracle rejects."""
    import oracle
    with open(os.path.join(work, "report_check.json")) as f:
        paths = json.load(f)
    with open(os.path.join(work, "oracle_sql.json")) as f:
        sql = json.load(f)
    return oracle.check(paths["data_dir"], paths["report_dir"], sql)


START = time.time()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    refuse_toggles()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala/graft")
    fingerprint = source_fingerprint()
    cp = build(fingerprint)
    work = os.path.join(BUILD, "perfbench-runs", f"{args.workload}-{args.seed}-{args.trace}")
    res = launch(cp, args, work)
    cores = res["cores"]

    wrong = {}
    if args.workload == "report_queries":
        wrong = check_reports(work)
    failed_ops = [o for o in res["ops"] if not o["ok"] or o["name"] in wrong]
    failed = len(failed_ops) + len(res["check_failures"])
    res["failed"] = failed
    attempted = len(res["ops"])
    e2e, e2e_detail = metrics.end_to_end(res)
    out = {k: {"value": v, "unit": UNITS_E2E[k]} for k, v in e2e.items()}
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores, "source": fingerprint, "commit": commit(),
              "failed_share": failed / attempted if attempted else 0.0,
              "op_failures": res["op_failures"][:5], "check_failures": res["check_failures"][:5],
              "oracle_failures": wrong, "input_fingerprint": res["input_fingerprint"],
              "setup": res["setup"], "window_s": res["window_s"], **e2e_detail,
              "traffic": res["traffic"], "context": res["context"]}
    if args.trace:
        with open(os.path.join(work, "result.spans.jsonl")) as f:
            spans = [json.loads(l) for l in f if l.strip()]
        layers, layer_detail = metrics.per_layer(res, spans, cores)
        detail["layers"] = layer_detail
        out = {k: {"value": layers[k], "unit": u} for k, u in metrics.PER_LAYER.items()}
        detail["e2e"] = e2e
    # keep the run's files (result, spans, log); drop its generated data
    for name in os.listdir(work):
        if os.path.isdir(os.path.join(work, name)):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    bad = [k for k, v in out.items() if not math.isfinite(v["value"])]
    if bad:
        fail(f"no value for {', '.join(bad)}: {detail['op_failures']} {detail['check_failures']}")
    print(json.dumps({"perfbench": detail}, sort_keys=True, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
