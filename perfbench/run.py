#!/usr/bin/env python3
"""graft benchmark: runs one workload end to end and prints its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {etl_refresh,dedup_curate}
                           --seed N --seconds S --trace {0,1}

Builds graft and the harness on first use (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py),
runs the harness JVM for S seconds of rounds (or for the workload's
fixed rounds, when they take longer), checks the outputs
(perfbench/checks.py) and prints, as the last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
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

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_refresh", "dedup_curate")
HEAP = "3g"

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}

# every per-layer metric; a layer a workload does not exercise reads 0
PER_LAYER = {
    "setup.session_s": "s", "setup.load_s": "s",
    "catalyst.plan_ms": "ms", "codegen.compile_ms": "ms", "codegen.warm_compile_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.peak_mem_bytes": "B",
    "shuffle.read_bytes": "B", "shuffle.write_bytes": "B", "shuffle.spill_bytes": "B",
    "jvm.heap_peak_mb": "MB", "jvm.gc_s": "s", "trace.overhead_s": "s",
    "etl.refresh_s": "s", "etl.upsert_s": "s", "etl.read_s": "s",
    "api.extract_s": "s",
    "operators.clean.rows_in": "count", "operators.clean.rows_out": "count",
    "operators.clean.rejected.name": "count", "operators.clean.rejected.country": "count",
    "operators.clean.rejected.web_pages": "count",
    "sources.writers.json_s": "s", "sources.writers.csv_s": "s",
    "sources.writers.json_bytes": "B", "sources.writers.csv_bytes": "B",
    "streaming.batch.trigger_ms": "ms", "streaming.batch.add_batch_ms": "ms",
    "streaming.batch.wal_commit_ms": "ms", "streaming.batch.query_planning_ms": "ms",
    "sources.snapshot.files_added": "count", "sources.snapshot.write_amp": "ratio",
    "sources.snapshot.files_scanned": "count", "sources.snapshot.files_live": "count",
    "sources.snapshot.bytes_per_row": "B/row",
    "operators.dedup.exact_s": "s", "operators.dedup.signatures_s": "s",
    "operators.dedup.candidates_s": "s", "operators.dedup.verify_s": "s",
    "operators.dedup.components_s": "s",
    "operators.dedup.candidate_pairs": "count", "operators.dedup.verified_pairs": "count",
    "operators.dedup.verified_per_candidate": "ratio",
    "curate.docs_per_s": "docs/s",
}

# the options graft's own build gives its JVMs (build.sbt javaOptions)
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def jvm_cmd(cp, tmp):
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def end_to_end(res, t_spawn_ns):
    """setup_s from the process start; cold_s the first round; warm_s
    the median of the workload's measured rounds, which follow its
    warm-up rounds."""
    rounds = res["rounds"]
    first = 1 + res["warmup_rounds"]
    return {
        "setup_s": (res["first_op_epoch_ns"] - t_spawn_ns) / 1e9,
        "cold_s": rounds[0]["wall_s"],
        "warm_s": statistics.median(r["wall_s"] for r in rounds[first:first + res["measured_rounds"]]),
    }


def per_layer(res, workload):
    vals = {k: 0.0 for k in PER_LAYER}
    vals.update({k: v for k, v in res["layers"].items() if k in PER_LAYER})
    if workload == "dedup_curate":
        warm = [r["wall_s"] for r in res["rounds"][1:] if not r["traced"]]
        vals["curate.docs_per_s"] = res["observed"]["input"] / statistics.median(warm)
    return vals


def check(workload, res, inputs):
    obs = res["observed"]
    sub = "etl" if workload == "etl_refresh" else "dedup"
    with open(os.path.join(inputs, sub, "expect.json")) as f:
        expect = json.load(f)
    if workload == "etl_refresh":
        return checks.check_etl(obs, expect)
    return checks.check_dedup(obs, expect)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    started = time.monotonic()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "build.sbt")) or not os.path.isdir(os.path.join(root, "src")):
        sys.stderr.write("run from the root of a graft checkout (build.sbt and src/ not found)\n")
        return 2
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    try:
        cp, built = build.build(root, out)
    except (RuntimeError, OSError) as e:
        sys.stderr.write("build failed: %s\n" % e)
        return 3
    # the run must end within 180 s, or 900 s when it had to build;
    # the harness is stopped early enough to leave time for the checks
    deadline = started + (900 if built else 180) - 20

    work = os.path.join(out, "run-%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs, tmp = os.path.join(work, "inputs"), os.path.join(work, "tmp")
    os.makedirs(inputs)
    os.makedirs(tmp)
    try:
        t_gen = time.monotonic()
        gen.generate(a.workload, a.seed, inputs)
        gen_s = time.monotonic() - t_gen
        cmd = jvm_cmd(cp, tmp) + [
            "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--inputs", inputs,
            "--cpus", str(len(os.sched_getaffinity(0)))]
        with open(os.path.join(work, "jvm.log"), "w") as log:
            t_spawn = time.time_ns()
            # Spark binds to the loopback, whatever the host name resolves to
            env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                    stdin=subprocess.DEVNULL, start_new_session=True)

            def stop(signum, frame):
                # the JVM has its own session: take it down with us
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.exit(128 + signum)
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "timeout"
        result = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write("harness failed: %s\n" % rc)
            return 1
        with open(result) as f:
            res = json.load(f)
        t_check = time.monotonic()
        problems = check(a.workload, res, inputs)
        sys.stderr.write("timing: generate %.1fs, session %.1fs, load %.1fs, loop %.1fs over %d "
                         "rounds, observe %.1fs, check %.1fs, total %.1fs; rounds (wall s/compile ms):"
                         " %s\n" % (
                             gen_s, res["session_s"], res["load_s"], res["loop_s"],
                             len(res["rounds"]), res["observe_s"],
                             time.monotonic() - t_check, time.monotonic() - started,
                             " ".join("%.2f/%.0f" % (r["wall_s"], r["compile_ms"])
                                      for r in res["rounds"])))
        for p in problems[:40]:
            sys.stderr.write("CHECK FAILED: %s\n" % p)
        for msg in res["failures"]:
            sys.stderr.write("FAILED OP: %s\n" % msg)
        if a.trace:
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in per_layer(res, a.workload).items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in end_to_end(res, t_spawn).items()}
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
