"""graft's benchmark: the CLI's wall time on JSON-to-relational
workloads, with a per-module split taken from outside the program.

usage: python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                                [--scale X]

Builds graft and the harness from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the harness in
one JVM and prints, as the last line of stdout, one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1, each with its unit from
BENCHMARK.json.  Everything it writes stays under .perfbench/ in the
checkout.  See perfbench/DESIGN.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# an invocation must end within 180 s, not counting a first build; the
# harness gets what the generator leaves of 175 s after the build (about
# 2x the slowest invocation measured on a 4-core box), so run.py still
# reports its failure in time
DEADLINE_S = 175


def argv_for(workload, m):
    """The CLI argv; {OUT}, {CORPUS}, {FP}, {BANDS} are filled by the harness."""
    if workload == "ndjson_forest":
        return m["inputs"] + ["{OUT}", "--ndjson", "--parquet", "--sql-scripts"]
    return m["inputs"] + ["{OUT}", "--ndjson", "--pipeline", "--pipeline-text", "text",
                          "--pipeline-id", "id", "--pipeline-corpus", "{CORPUS}",
                          "--pipeline-fp", "{FP}", "--pipeline-bands", "{BANDS}",
                          "--pipeline-eval", m["eval"], "--pipeline-within-batch",
                          "--pipeline-scrub", "--pipeline-redact"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (self-test only)")
    a = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit("unknown workload %r" % a.workload)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}

    try:
        cp = build.build()
    except (OSError, RuntimeError, subprocess.SubprocessError) as e:
        sys.exit("build failed: %s" % e)
    t_built = time.monotonic()
    work = os.path.join(ROOT, ".perfbench", "work", a.workload)
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.monotonic()
    m = gen.generate(a.workload, a.seed, a.scale, os.path.join(work, "input"))
    print("[perfbench] generated %d docs, %d bytes in %.2f s (not a metric)"
          % (m["docs"], m["input_bytes"], time.monotonic() - t0), file=sys.stderr)

    result_path = os.path.join(work, "result.json")
    job = {"workload": a.workload, "seconds": a.seconds, "trace": bool(a.trace),
           "cores": len(os.sched_getaffinity(0)), "setups": 1 if a.trace else 2,
           "warmups": 2 if a.trace else 1, "work": work, "docs": m["docs"], "input_bytes": m["input_bytes"],
           "argv": argv_for(a.workload, m), "corpus_jsonl": m.get("corpus_jsonl"),
           "verify": [sys.executable, os.path.join(BENCH, "verify.py"),
                      os.path.join(work, "input", "manifest.json")],
           "result": result_path}
    job_path = os.path.join(work, "job.json")
    with open(job_path, "w") as f:
        json.dump(job, f)

    # no hsperfdata file: the JVM would write it to the OS temp directory,
    # outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "graft.perfbench.Harness", job_path])
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_built)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit("harness failed (%s); log: %s" % (code, log_path))

    with open(result_path) as f:
        res = json.load(f)
    missing = sorted(set(units) - set(res["metrics"]))
    if missing:
        sys.exit("harness reported no %s" % ", ".join(missing))
    res["metrics"] = {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()}
    print("[perfbench] invocation took %.1f s" % (time.monotonic() - t_start), file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
