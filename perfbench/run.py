#!/usr/bin/env python3
"""One benchmark run of graft, from the root of a checkout:

    python3 perfbench/run.py --workload <search|ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from source once per source state (sbt,
offline), generates the seeded inputs, runs the workload in one JVM
(`local[4]`), checks its outputs and prints, as the last stdout line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, the per-layer ones with --trace 1.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)

import gen  # noqa: E402

# How each workload's figures map onto the end-to-end metrics of
# BENCHMARK.json (names shared by all workloads, so every run reports
# every metric); the right-hand names are the workload's own.
E2E = {
    "search": {"ops_per_s": "search_qps", "op_p50_s": "batch_p50_s",
               "read_p50_s": "sql_p50_s", "quality": "recall_at_10"},
    "ingest": {"ops_per_s": "ingest_rows_per_s", "op_p50_s": "commit_p50_s",
               "read_p50_s": "batch_p50_s", "quality": "recall_at_10"},
}
# Spark 4 on JDK 17 needs these opens outside spark-submit (the same
# list as graft's build.sbt)
JAVA_OPTS = ["-Xmx4g"] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def child(cmd, cwd, timeout, env=None):
    """Run `cmd` in its own process group; on timeout, error or SIGTERM the
    whole group is killed and waited for. Returns (exit code, output)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    """Hash of every input of the build: graft's and the harness's."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources not found next to the benchmark")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    code, out = child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export perfbench/Runtime/fullClasspath"],
                      HERE, 840, env)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def inputs(workload, seed):
    """Generate the seeded inputs once per (workload, seed, generator)."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(WORK, "data", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def main():
    # SIGTERM unwinds like an exception, so child() still kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(E2E))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    data = inputs(a.workload, a.seed)
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java"] + JAVA_OPTS + ["-cp", cp, "perfbench.Main", a.workload, data,
                                  str(a.seed), str(a.seconds), str(a.trace), out]
    t0 = time.time()
    code, log = child(cmd, ROOT, 170)
    report_path = os.path.join(out, "report.json")
    if code != 0 or not os.path.exists(report_path):
        sys.stderr.write(log[-6000:])
        die(f"{a.workload} run failed (exit {code})")
    with open(report_path) as f:
        rep = json.load(f)

    attempted, failed = rep["attempted"], rep["failed"]
    failures = list(rep["failures"])
    if os.path.isdir(os.path.join(out, "oracle")):
        import oracle
        ok, bad, notes = oracle.check(out, data)
        attempted += ok + bad
        failed += bad
        failures += notes

    e2e = rep["e2e"]
    if a.trace == 0:
        names = E2E[a.workload]
        metrics = {}
        for m in spec["end_to_end"]:
            value = e2e.get(names.get(m["name"], m["name"]), {}).get("value")
            if value is None:
                die(f"{a.workload} did not measure {m['name']}")
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        # the workload's own names, units and tail sample counts
        for k, v in e2e.items():
            print(f"{a.workload} {k} = {v['value']} {v['unit']}")
    else:
        lay = rep["layers"]
        metrics = {m["name"]: {"value": lay.get(m["name"], {"value": 0.0})["value"],
                               "unit": m["unit"]} for m in spec["per_layer"]}
        for k, v in e2e.items():
            print(f"{a.workload} traced {k} = {v['value']} {v['unit']}")
    for k, n in rep["samples"].items():
        print(f"{a.workload} samples.{k} = {n}")
    print(f"{a.workload} details = " +
          " ".join(f"{k}={v:.2f}" for k, v in rep["details"].items()))
    share = failed / attempted if attempted else 1.0
    print(f"{a.workload} failed_share = {share:.6g} ({failed}/{attempted})")
    for f in failures[:10]:
        print(f"{a.workload} FAILED: {f}")
    print(f"{a.workload} wall_s = {time.time() - t0:.1f}")
    if a.trace:
        spans = os.path.join(out, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
