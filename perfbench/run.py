#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_curate --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all      # every workload, default and held-out seed

The first run in a checkout builds the library and the benchmark program
with sbt (perfbench/build.sbt), then dumps a class-data-sharing archive
from one training JVM that sets up every workload and runs one step of
each. Both land in ``.bench_build`` (or ``$CARGO_TARGET_DIR``) and are
redone when a source or build file is newer; the run fails if either
fails, so every run starts its JVM the same way. Each run then starts one
JVM directly: one workload, ``local[N]`` with N shuffle partitions, N =
the usable cores.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``, each with its
unit from BENCHMARK.json. Any failure to build or run, or a metric set
that differs from BENCHMARK.json's, exits non-zero without printing a
result.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 500
TRAIN_TIMEOUT_S = 300

# Spark on JDK 17 outside spark-submit needs these (the same list the
# library's own build.sbt passes to forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def baseline():
    with open(os.path.join(HERE, "baseline.json")) as f:
        return json.load(f)


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d) if not os.path.isabs(d) else d)


def newest_source_mtime():
    """The newest mtime of anything the build reads."""
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def run_child(cmd, timeout, **kw):
    """Run a child process to completion; kill it (and wait) on timeout."""
    proc = subprocess.Popen(cmd, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out, err


def java_cmd(classpath, work, cds):
    """The JVM command line; ``cds`` are its class-data-sharing flags."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap: no resizing collections while steps are timed;
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", *opens, *cds,
             f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", classpath, "perfbench.Main"])


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def ensure_build():
    """Build when needed; return (classpath, class-data archive)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no graft sources at {ROOT} (build.sbt and src/main/scala): "
             "run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp = os.path.join(bdir, "classpath.txt")
    jsa = os.path.join(bdir, "perfbench.jsa")
    if os.path.isfile(stamp) and os.path.getmtime(stamp) >= newest_source_mtime():
        with open(stamp) as f:
            return f.read().strip(), jsa

    for f in (stamp, jsa):
        if os.path.exists(f):
            os.remove(f)
    log("building (sbt) ...")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc, out, err = run_child(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspathAsJars"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail(f"sbt build failed (exit {rc})")
    cp = lines[-1].strip()
    missing = [p for p in cp.split(os.pathsep) if not os.path.exists(p)]
    if missing:
        sys.stderr.write(out[-4000:])
        fail(f"sbt printed a classpath with missing entries: {missing[:3]}")
    log(f"built in {time.time() - t0:.1f} s")

    t0 = time.time()
    work = os.path.join(bdir, "work", f"train-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    names = ",".join(w["name"] for w in bench()["workloads"])
    try:
        rc, _, err = run_child(
            java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={jsa}"]) +
            ["--workload", "train", "--train", names, "--seed", "1",
             "--cores", str(cores()), "--work", work],
            TRAIN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"class-data archive: training took over {TRAIN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(jsa):
        sys.stderr.write(err[-4000:])
        fail(f"class-data archive not written (training exit {rc})")
    log(f"class-data archive written in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(cp + "\n")
    return cp, jsa


def run_one(workload, seed, seconds, trace, expect=None):
    """Run one workload in its own JVM; return (result dict, human lines)."""
    cp, jsa = ensure_build()
    work = os.path.join(build_dir(), "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", workload, "--seed", str(seed), "--seconds",
            str(seconds), "--trace", str(trace), "--cores", str(cores()),
            "--work", work]
    if expect:
        args += ["--expect", expect]
    try:
        rc, out, err = run_child(
            # -Xshare:on: a run fails rather than start without the archive
            java_cmd(cp, work, [f"-XX:SharedArchiveFile={jsa}", "-Xshare:on"])
            + args, RUN_TIMEOUT_S, cwd=ROOT,
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        fail(f"{workload}: no result within {RUN_TIMEOUT_S} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stderr.write(err)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines:
        fail(f"{workload}: benchmark JVM exited {rc} without a result", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"{workload}: last line is not a JSON result: {lines[-1][:200]}", 1)
    # units come from BENCHMARK.json, which must name exactly these metrics
    units = {m["name"]: m["unit"]
             for m in bench()["per_layer" if trace else "end_to_end"]}
    if set(result["metrics"]) != set(units):
        fail(f"{workload}: metrics differ from BENCHMARK.json: "
             f"{sorted(set(result['metrics']) ^ set(units))}", 1)
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    return result, lines[:-1]


def expected_digest(workload, seed):
    b = baseline()
    if workload == "etl_curate" and seed == b["default_seed"]:
        return b["curation_pass_digest"]
    return None


def run_all(seconds):
    """Every workload on the default and the held-out seed, untraced."""
    b = baseline()
    seeds = [b["default_seed"], b["held_out_seed"]]
    rows, ok = [], True
    workloads = [w["name"] for w in bench()["workloads"]]
    for w in workloads:
        for s in seeds:
            res, _ = run_one(w, s, seconds, 0, expected_digest(w, s))
            ok &= res["correct"]
            rows.append((w, s, res))
    print(f"{'workload':<14} {'seed':>5} {'failed_ops_frac':>15} " +
          " ".join(f"{k:>28}" for k in rows[0][2]["metrics"]))
    for w, s, res in rows:
        frac = res["failed"] / res["attempted"]
        print(f"{w:<14} {s:>5} {frac:>15.3f} " + " ".join(
            f"{m['value']:>20.6g} {m['unit']:<7}" for m in res["metrics"].values()))
    summary = {w: {str(s): dict(res["metrics"], failed_ops_frac={
        "value": res["failed"] / res["attempted"], "unit": "ratio"})
        for ww, s, res in rows if ww == w} for w in workloads}
    print(json.dumps({"correct": ok, "workloads": summary}))
    return 0 if ok else 1


def main():
    # a terminated run still kills and waits for its JVM (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[
        w["name"] for w in bench()["workloads"]] + ["all"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    ensure_build()
    b = baseline()
    seconds = a.seconds if a.seconds is not None else bench()["run_seconds"]
    if a.workload == "all":
        return run_all(seconds)
    seed = a.seed if a.seed is not None else b["default_seed"]
    res, human = run_one(a.workload, seed, seconds, a.trace,
                         expected_digest(a.workload, seed))
    for ln in human:
        print(ln)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
