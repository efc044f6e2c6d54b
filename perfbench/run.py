#!/usr/bin/env python3
"""Run one benchmark run and print its result as the last stdout line.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into gitignored target/ directories) and
generates the tables with the engine's own generator (into perfbench/.work);
later runs reuse both while the sources they come from are unchanged.

With --trace 0 the result carries every end-to-end metric named in
BENCHMARK.json, with --trace 1 every per-layer metric. A full record of the
run (provenance, sample counts, every metric) is written under
perfbench/.work/records/. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("olap_mix", "mart_refresh")
SCALE = "0.1"
# the traced run times the generator afresh at this smaller scale
REGEN_SCALE = "0.02"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 module openings Spark needs outside spark-submit (the same list
# the engine's build.sbt passes to forked runs).
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


def tree_hash(paths):
    """sha256 over the contents and relative names of every file under paths."""
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(
                os.path.join(d, f)
                for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, capture, cwd=ROOT):
    """Run cmd in its own process group; kill the group on timeout and
    always wait for it, so no process outlives the benchmark."""
    proc = subprocess.Popen(
        cmd, cwd=cwd, stdout=subprocess.PIPE if capture else sys.stderr,
        stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"{cmd[0]} timed out after {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build():
    """Compile engine + harness; return the runtime classpath."""
    sources = [
        os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
        os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
        os.path.join(HERE, "src", "main"),
    ]
    sources = [s for s in sources if os.path.exists(s)]
    # sbt's own output under project/ must not invalidate the stamp
    stamp = tree_hash([s for s in sources if not s.endswith("project")] + [
        os.path.join(d, "build.properties") for d in sources
        if d.endswith("project")
        and os.path.exists(os.path.join(d, "build.properties"))])
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    log("building engine and harness with sbt")
    t0 = time.time()
    rc, out = run_child(
        ["sbt", "-batch", "-Dsbt.server.forcestart=false",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, capture=True, cwd=HERE)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out or "")
        raise RuntimeError(f"sbt build failed (exit {rc})")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp, stamp


def java_cmd(cp, main, args, heap):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap}", *opens,
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dgraft.scratch={os.path.join(WORK, 'scratch')}",
             "-cp", cp, main] + args)


def dataset(cp, heap, cores):
    """Generated tables, keyed by the generator's source: regenerated only
    when the generator changes."""
    src = os.path.join(ROOT, "src", "main", "scala", "graft", "tools",
                       "SfGen.scala")
    key = tree_hash([src])[:12]
    d = os.path.join(WORK, "data", f"sfgen-{key}-s{SCALE}")
    if not os.path.exists(os.path.join(d, "FINGERPRINT")):
        log(f"generating tables at scale {SCALE}")
        if os.path.exists(d):
            raise RuntimeError(f"{d} exists without a FINGERPRINT; remove it")
        rc, _ = run_child(java_cmd(cp, "perfbench.Gen", [d, SCALE, str(cores)],
                                   heap), JVM_TIMEOUT_S, capture=False)
        if rc != 0:
            raise RuntimeError(f"table generation failed (exit {rc})")
    with open(os.path.join(d, "FINGERPRINT")) as f:
        return d, f.read().strip()


def commit_id(stamp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"source:{stamp[:16]}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no engine sources here ({need} missing): run from a checkout")
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    heap = os.environ.get("SPARK_DRIVER_MEM", "4g")
    cores = min(4, os.cpu_count() or 1)
    cp, stamp = build()
    data, ds = dataset(cp, heap, cores)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(WORK, "run"), "--data", data,
            "--dataset", ds,
            "--fixtures", os.path.join(ROOT, "src", "test", "resources",
                                       "bookorders"),
            "--pins", os.path.join(HERE, "pins.txt"),
            "--cores", str(cores)]
    if a.trace:
        args += ["--trace-out", os.path.join(WORK, "records", tag + ".spans.json"),
                 "--regen-scale", REGEN_SCALE]
    rc, out = run_child(java_cmd(cp, "perfbench.Main", args, heap),
                        JVM_TIMEOUT_S, capture=True)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if rc != 0 or not lines:
        log(f"run failed (exit {rc})")
        return 1
    res = json.loads(lines[-1])
    got = res["metrics"]
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] not in got:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
    correct = res["correct"] and not (missing and not a.trace)
    if missing:
        log(f"metrics not produced: {missing}")
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "commit": commit_id(stamp), "dataset": ds,
              "heap": heap, **res}
    with open(os.path.join(WORK, "records", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    log("info " + json.dumps(res.get("info", {})))
    for p in res.get("problems", []):
        log("problem " + p)
    print(json.dumps({"correct": bool(correct), "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RuntimeError as e:
        log(str(e))
        sys.exit(1)
