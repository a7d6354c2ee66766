"""The benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness
(perfbench/build.py), generates the workload's inputs from the seed into a
directory of their own (perfbench/gen.py), runs the harness JVM on
local[nproc], checks every output against the DuckDB oracle
(perfbench/oracle.py) and prints each metric by name and unit. The last line
of standard output is one JSON object: with --trace 0 it holds the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.
Everything it writes stays under .bench_build/perfbench/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analysis  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {
    # many small jobs: actions, commits, localCheckpoint and driver loops
    "lifecycle_jobs": ["p209_cdx_coalesce"],
    "stream_dedup_openloop": [],
}
HARNESS_TIMEOUT_S = 165
# -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
JVM_OPTS = ["-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + [
    opt for m in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                  "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar"]
    for opt in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return json.load(f)


def run_harness(cp, workload, seed, seconds, trace, cpus, input_dir, out_dir):
    args = ["--workload", workload, "--input", input_dir, "--out", out_dir,
            "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus)]
    if workload == "stream_dedup_openloop":
        args += ["--rate", str(gen.STREAM_RATE), "--horizon-s", str(gen.STREAM_HORIZON_S)]
    else:
        args += ["--queries", ",".join(WORKLOADS[workload])]
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                                  "-cp", cp, "perfbench.Harness"] + args)
    with open(os.path.join(out_dir, "harness.log"), "w") as logf:
        # SPARK_LOCAL_DIRS would move Spark's scratch space out of out_dir
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                              timeout=HARNESS_TIMEOUT_S)
    if proc.returncode != 0:
        raise RuntimeError(f"harness exited {proc.returncode}; see {out_dir}/harness.log")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    bench = spec()
    cp = build.build()
    cpus = len(os.sched_getaffinity(0))

    input_dir = os.path.join(build.BUILD_DIR, "inputs", a.workload,
                             f"seed-{a.seed}-s{a.seconds}-{gen.version()}")
    t = time.time()
    if gen.generate(input_dir, a.workload, a.seed, a.seconds):
        log(f"generated inputs in {time.time() - t:.2f} s (not timed): {input_dir}")
    out_dir = os.path.join(build.BUILD_DIR, "runs",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    t = time.time()
    result = run_harness(cp, a.workload, a.seed, a.seconds, a.trace, cpus, input_dir, out_dir)
    log(f"harness ran {time.time() - t:.1f} s; set-up {result['setup_s']:.1f} s, "
        f"warm-up passes {result['setup_passes_s']}")
    t = time.time()

    queries = WORKLOADS[a.workload]
    failures = dict(result["failures"])
    if a.workload == "stream_dedup_openloop":
        runs = result["runs"] + ([result["baseline_1core"]] if "baseline_1core" in result else [])
        problems = oracle.check_stream(input_dir, out_dir, runs, gen.STREAM_HORIZON_S)
        e2e = analysis.end_to_end_stream(result)
        run = result["runs"][0]
        p50, n_samples, uncovered = analysis.latency_p50(run)
        attempted, failed = n_samples + uncovered, uncovered + len(problems)
        first, second = analysis.latency_halves(run)
        log(f"open loop: {gen.STREAM_RATE} files/s x {gen.STREAM_DOCS_PER_FILE} docs, "
            f"near-duplicate share {gen.NEAR_DUP_SHARE}, horizon {gen.STREAM_HORIZON_S} s; "
            f"generator late by at most {analysis.generator_late_ms(run)} ms; median latency "
            f"{first:.3f} s over the first half of the files, {second:.3f} s over the second")
        log(f"file latency p50 {p50} s over {n_samples} files; highest percentile with "
            f">= 10 samples beyond it: {analysis.tail_percentile(n_samples)}")
    else:
        problems = oracle.check_batch(root, input_dir, out_dir, queries, failures)
        e2e = analysis.end_to_end_batch(result, set(failures) | set(problems))
        attempted, failed = analysis.failure_counts(queries, failures, problems)
    log(f"oracle check took {time.time() - t:.1f} s")
    for name, msg in list(failures.items()) + list(problems.items()):
        log(f"FAILED {name}: {msg}")

    log(f"cpus {cpus}")
    print(f"cpus {cpus}")
    # timings a user sees that are not steady enough from run to run for a bound
    print(f"suite_s {e2e['suite_s']} s (unbounded)")
    if a.workload == "stream_dedup_openloop":
        print(f"latency_p50_s {p50} s (unbounded; {n_samples} files)")
    print(f"fail_frac {failed / max(attempted, 1):.4f} ratio ({failed} of {attempted})")
    if a.trace:
        spans = json.load(open(os.path.join(out_dir, "spans.json")))["spans"]
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = analysis.layer_metrics(result, spans, names)
        log(f"span check: per-query spans add up to {values['span_sum_s']:.3f} s, the untraced "
            f"suite took {e2e['suite_s']:.3f} s, tracing overhead {values['trace_overhead_s']:.3f} s")
        if "baseline_1core" in result:
            log(f"local[1] baseline recorded in {out_dir}/result.json")
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        values = {n: e2e[n] for n in names}
    for n in names:
        print(f"{n} {values[n]} {units[n]}")
    # keep result.json, spans.json and the log; drop outputs, checkpoints, temp
    for entry in os.scandir(out_dir):
        if entry.is_dir():
            shutil.rmtree(entry.path, ignore_errors=True)
    complete = all(v is not None for v in values.values())
    print(json.dumps({
        "correct": failed == 0 and complete,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in names
                    if values[n] is not None},
    }))


if __name__ == "__main__":
    main()
