#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py [--quick]

Run from the root of a checkout (builds like run.py does).

  locale  the JVM reporter, run under a comma-decimal default locale
          (de-DE), still writes JSON that parses to the right numbers
  counts  (skipped with --quick) two traced runs of each workload with
          the same seed report identical exact counts: engine jobs, alert
          and inflight saves, stream input rows, catalog jobs per query
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402

EXACT = ("engine.jobs", "engine.tickA.jobs", "engine.tickB.jobs", "store.alert_saves",
         "store.inflight_saves", "stream.input_rows", "stream.backfill.input_rows")


def test_locale(cp, work):
    tmp = os.path.join(work, "selftest")
    os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
    cmd = run.java_cmd(cp, tmp, ["-Duser.language=de", "-Duser.country=DE"])
    out = subprocess.run(cmd + ["--workload", "report-selftest"], capture_output=True,
                         text=True, check=True, timeout=120).stdout.strip().splitlines()[-1]
    got = json.loads(out)
    assert got["default_locale_1_5"] == "1,5", f"de-DE not in effect: {got}"
    assert abs(got["pi"] - 3.141593) < 1e-9 and got["n"] == 1234567, got
    assert got["small"] == 0.000123 and got["neg"] == -2.5 and got["list"] == [1.5, 2.25], got
    print("locale: ok (reporter output parses under de-DE)")


def traced(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"], res
    return {k: v["value"] for k, v in res["metrics"].items()}


def test_counts():
    for workload in run.WORKLOADS:
        a, b = traced(workload, 7), traced(workload, 7)
        keys = [k for k in a if k in EXACT or (k.startswith("catalog.") and k.endswith(".jobs"))]
        diff = {k: (a[k], b[k]) for k in keys if a[k] != b[k]}
        assert not diff, f"{workload}: exact counts differ between runs: {diff}"
        print(f"counts: ok ({workload}: {', '.join(f'{k}={a[k]}' for k in keys if a[k])})")


def main():
    root = os.getcwd()
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    test_locale(run.build(root, work), work)
    if "--quick" not in sys.argv:
        test_counts()


if __name__ == "__main__":
    main()
