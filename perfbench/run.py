#!/usr/bin/env python3
"""Product-path benchmark: one workload run in fresh JVMs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and
the program from source with sbt (`perfbench/build.sbt`); later runs
reuse the build while the sources are unchanged. Everything the run
writes stays under `.bench_build/perfbench/` in the checkout.

Steps: generate the inputs from the seed (gen.py), start the JVM
(`perfbench.Main`), then check its outputs against expectations
computed independently with DuckDB (check.py), outside every timed
region. An untraced `engine-specs` run starts a second JVM that only
sets up and runs the cold cycle: `setup_s` and `cold_s` are the medians
over the run's JVMs, `rss_peak_mb` their maximum. The last stdout line
is the result: `{"correct", "attempted", "failed", "metrics"}` with the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).
The line before it carries the box diagnostics and the per-workload
names of the end-to-end figures.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("engine-specs", "stream-drain", "catalog-hot")
E2E = (("setup_s", "s"), ("cold_s", "s"), ("unit_s", "s"), ("rss_peak_mb", "MB"))
# the end-to-end figures under their per-workload names
NAMED = {
    "engine-specs": {"cold_s": "cycle_cold_s", "unit_s": "cycle_s"},
    "stream-drain": {"cold_s": "backfill_s", "unit_s": "tick_latency_s"},
    "catalog-hot": {"cold_s": "catalog_s", "unit_s": "query_median_s"},
}
# fresh JVMs per untraced run: the first runs the whole workload, the
# others only set up and run the cold unit. Each extra JVM costs a
# set-up plus a cold unit (~25 s), so only the workload whose single cold
# sample spread most gets one; all runs together must fit the time limit.
JVMS = {"engine-specs": 2, "stream-drain": 1, "catalog-hot": 1}
# every JVM of a run together
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def layer_unit(name):
    if name.endswith("_s"):
        return "s"
    if "bytes" in name.rsplit(".", 1)[-1]:
        return "bytes"
    if name.endswith("_frac"):
        return "frac"
    if name.endswith("jobs_per_spec"):
        return "jobs/spec"
    return "count"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def source_files(root):
    """Every file the build reads: the program's and the harness's."""
    out = []
    for top in ("build.sbt", "project", "src", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        p = os.path.join(root, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x != "target")
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def build(root, work):
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("no program sources here (build.sbt, src/main/scala); "
             "run from the root of a checkout")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(root, "perfbench", "target", "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        # own process group: the sbt launcher script starts a JVM, and a
        # timeout must stop both
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed; see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def java_cmd(cp, run_dir, extra):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *extra, *opens, "-cp", cp, "perfbench.Main"]


def launch(cp, a, inputs, meta, jvm_dir, cold_only, deadline):
    """One fresh JVM over `inputs`, writing under `jvm_dir`; returns its
    result.json."""
    os.makedirs(os.path.join(jvm_dir, "tmp"))
    if a.workload == "stream-drain":
        os.makedirs(os.path.join(jvm_dir, "events"))
        for f in meta["backlog"]:
            shutil.copy(os.path.join(inputs, "backlog", f), os.path.join(jvm_dir, "events", f))
    launch_ms = int(time.time() * 1000)
    cmd = java_cmd(cp, jvm_dir, []) + [
        "--workload", a.workload, "--inputs", inputs, "--run", jvm_dir,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--launch-ms", str(launch_ms), "--seed", str(a.seed),
        "--cold-only", "1" if cold_only else "0"]
    log_path = os.path.join(jvm_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=jvm_dir)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"the run's JVMs took over {JVM_TIMEOUT_S}s; see {log_path}", 4)
        finally:
            # also on SIGTERM (see main): no JVM outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(jvm_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"JVM exited with {code}; see {log_path}", 4)
    with open(result_path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so `launch` stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cp = build(root, work)

    import gen
    import check

    load_start = loadavg()
    run_dir = os.path.join(work, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    meta = gen.generate(a.workload, a.seed, inputs)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    jvms = 1 if a.trace else JVMS[a.workload]
    results = []
    mismatches, notes = 0, []
    for j in range(jvms):
        jvm_dir = run_dir if j == 0 else os.path.join(run_dir, f"cold{j}")
        res = launch(cp, a, inputs, meta, jvm_dir, cold_only=j > 0, deadline=deadline)
        # each JVM's outputs are checked on their own
        m, n = check.run(a.workload, inputs, jvm_dir, meta, res)
        mismatches += m
        notes += n
        results.append(res)
    res = results[0]
    attempted = sum(int(r["attempted"]) for r in results)
    failed = min(attempted, sum(int(r["failed"]) for r in results) + mismatches)
    for n in notes[:20]:
        print(f"check: {n}", file=sys.stderr)

    each = {k: [r["end_to_end"][k] for r in results] for k in ("setup_s", "cold_s", "rss_peak_mb")}
    e2e = dict(res["end_to_end"], setup_s=statistics.median(each["setup_s"]),
               cold_s=statistics.median(each["cold_s"]), rss_peak_mb=max(each["rss_peak_mb"]))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
        metrics["fail_frac"]["value"] = failed / attempted
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    named = {NAMED[a.workload].get(k, k): {"value": e2e[k], "unit": u} for k, u in E2E}
    named["fail_frac"] = {"value": failed / attempted, "unit": "frac"}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "box": dict(res["box"], loadavg_run_start=load_start, loadavg_run_end=loadavg(),
                    nproc=os.cpu_count()),
        "end_to_end_by_workload_name": named, "units_s": res["units_s"],
        "per_jvm": each,
        "checks": {"mismatches": mismatches, "notes": notes[:5]},
        "errors": [e for r in results for e in r["errors"]][:5]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
