#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over seeded inputs.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --all [--seed <n>] [--seconds <s>] [--trace <0|1>]

Builds graft and the harness from source on first use (perfbench/build.py),
then runs one JVM with Spark in local[N] mode, N = the cores available. The
last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics (the end-to-end metrics of BENCHMARK.json, or
its per-layer metrics with --trace 1). Work files live under .bench_build/
and are removed at exit; a traced run leaves its spans in
.bench_build/traces/. See perfbench/BENCHMARK.md.
"""
import argparse
import json
import os
import pathlib
import re
import shutil
import subprocess
import sys

BENCH_DIR = pathlib.Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path.insert(0, str(BENCH_DIR))
import build  # noqa: E402

# Per-run JVM deadline, below the 180 s one run may take.
JVM_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def recall_floor(bench):
    """The curation recall floor is stated in curate_dedup's `why`."""
    for w in bench["workloads"]:
        m = re.search(r"recall floor (\d+(?:\.\d+)?)", w["why"])
        if w["name"] == "curate_dedup" and m:
            return float(m.group(1))
    raise SystemExit("BENCHMARK.json states no curate_dedup recall floor")


def run_one(workload, seed, seconds, trace, cp, bench):
    work = ROOT / ".bench_build" / "work" / ("%s-%d" % (workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + str(work / "tmp"),
           "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + str(BENCH_DIR / "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--work", str(work),
            "--recall-floor", str(recall_floor(bench)),
            "--trace-out", str(ROOT / ".bench_build" / "traces" /
                               ("%s-seed%d.jsonl" % (workload, seed)))]
    env = dict(os.environ, LC_ALL="C.UTF-8")
    proc = subprocess.Popen(cmd, cwd=str(ROOT), env=env, stdout=subprocess.PIPE,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("%s: timed out after %d s" % (workload, JVM_TIMEOUT_S))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        raise SystemExit("%s: JVM exited with %d" % (workload, proc.returncode))
    result = json.loads(lines[-1])
    want = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(want):
        raise SystemExit("%s: metrics %s do not match BENCHMARK.json %s"
                         % (workload, sorted(result["metrics"]), sorted(want)))
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        cp = build.ensure_built()
        bench = spec()
    except (build.CompileError, OSError, ValueError) as e:
        print("perfbench: cannot run: %s" % e, file=sys.stderr)
        return 2
    names = [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    if a.all:
        for name in names:
            logs, result = run_one(name, a.seed, seconds, a.trace, cp, bench)
            print("== %s (correct=%s, failed %d of %d)"
                  % (name, result["correct"], result["failed"], result["attempted"]))
            print("\n".join(logs))
        return 0
    if a.workload not in names:
        print("perfbench: unknown workload %r (have %s)" % (a.workload, names),
              file=sys.stderr)
        return 2
    logs, result = run_one(a.workload, a.seed, seconds, a.trace, cp, bench)
    print("\n".join(logs))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
