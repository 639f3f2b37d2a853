#!/usr/bin/env python3
"""The marketdb benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload merge_replay --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the program and
the benchmark (see build.py). A run starts one JVM with one local Spark
session, sets the workload up, drives it for `--seconds`, checks every
answer, and prints its named metric lines and, as the last line, one
JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`).

`--workload all` runs every workload untraced and then traced and also
prints the tracing overhead; its last line maps workloads to results.
"""

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("merge_replay", "tick_ingest")
# one JVM run (set-up, timed phase, checks) must end well inside 180 s
RUN_TIMEOUT_S = 165
HEAP = "1g"
# the module openings Spark needs on JDK 17 outside spark-submit
# (the same list as the program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_result(res, spec, trace):
    """Raise ValueError unless `res` has the output format of the spec."""
    if not isinstance(res, dict) or set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys must be correct, attempted, failed, metrics")
    if not isinstance(res["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(res[k], int) or isinstance(res[k], bool) or res[k] < 0:
            raise ValueError(k + " must be a whole number")
    if res["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    want = spec["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    if not isinstance(got, dict) or set(got) != {m["name"] for m in want}:
        raise ValueError("metrics must be exactly: " + ", ".join(m["name"] for m in want))
    for m in want:
        v = got[m["name"]]
        if set(v) != {"value", "unit"} or v["unit"] != m["unit"]:
            raise ValueError("metric %s must have value and unit %s" % (m["name"], m["unit"]))
        x = v["value"]
        if not isinstance(x, (int, float)) or isinstance(x, bool) or not math.isfinite(x):
            raise ValueError("metric %s is not a finite number" % m["name"])


def jvm_command(classpath, work, main, args):
    """The java command line of one run; `work` holds its temporary files."""
    # no hsperfdata file: the run writes only inside the checkout
    # a fixed heap size, so peak RSS does not depend on when the heap grew
    # C1 only: compiled code is final within the warm-up, so a run's
    # medians do not depend on how far the optimising compiler got; C1
    # alone would get a 48 MB code cache, which Spark fills within a run
    return (["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=240m",
             "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss8m"]
            + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-cp", classpath, main] + args)


def run_jvm(classpath, workload, seed, seconds, trace):
    """One JVM run of one workload. Returns the result object and the
    end-to-end result, which a traced run measures too (with tracing on)."""
    base = os.path.join(build.OUT, "work", "%s-s%d-t%d-p%d" % (workload, seed, trace, os.getpid()))
    work, result = base + ".d", base + ".result.json"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm_command(classpath, work, "perfbench.Main",
                      ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                       "--trace", str(trace), "--work", work, "--result", result,
                       "--trace-out", os.path.join(build.OUT, "trace-%s-s%d.json" % (workload, seed))])
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("%s did not finish within %d s" % (workload, RUN_TIMEOUT_S))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        if rc != 0:
            raise RuntimeError("%s: JVM exited with %d" % (workload, rc))
        with open(result) as f, open(result + ".e2e") as g:
            return json.load(f), json.load(g)
    finally:
        for p in (result, result + ".e2e"):
            if os.path.exists(p):
                os.remove(p)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        classpath = build.build()
        spec = load_spec()
    except (build.BuildError, OSError, ValueError) as e:
        sys.exit("perfbench: %s" % e)
    try:
        if a.workload != "all":
            res, _ = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace)
            check_result(res, spec, a.trace)
            print(json.dumps(res))
            return
        results = {}
        for w in WORKLOADS:
            plain, _ = run_jvm(classpath, w, a.seed, a.seconds, 0)
            check_result(plain, spec, 0)
            print(json.dumps(plain))
            layers, traced = run_jvm(classpath, w, a.seed, a.seconds, 1)
            check_result(layers, spec, 1)
            for m in spec["end_to_end"]:
                n = m["name"]
                x, y = plain["metrics"][n]["value"], traced["metrics"][n]["value"]
                print("[%s] tracing overhead %s: %.4g -> %.4g %s (%+.1f%%)"
                      % (w, n, x, y, m["unit"], 100.0 * (y - x) / x))
            results[w] = {"untraced": plain, "traced": layers}
        print(json.dumps(results))
    except (RuntimeError, ValueError, OSError) as e:
        sys.exit("perfbench: %s" % e)


if __name__ == "__main__":
    main()
