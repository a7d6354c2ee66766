"""Turns the harness's raw measurements into the benchmark's metrics.

Pure functions over plain data, so they can be tested without Spark.
"""
import math
import statistics

PERCENTILES = (50, 75, 90, 95, 99, 99.9)
TAIL_MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n):
    """The highest of PERCENTILES with at least ten samples beyond it, or
    None when even the median has fewer."""
    ok = [p for p in PERCENTILES if n * (100 - p) / 100.0 >= TAIL_MIN_BEYOND - 1e-9]
    return max(ok) if ok else None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in kids if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def descendants(spans, root_id):
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


def files_to_batches(rows_per_file, batches):
    """Index into `batches` (ordered by batch id) of the first micro-batch
    whose cumulative input rows cover each file, or None if none does.
    Files are delivered, and read, in order."""
    out, cum, b = [], 0, 0
    need = 0
    for rows in rows_per_file:
        need += rows
        while b < len(batches) and cum < need:
            cum += batches[b]["num_input_rows"]
            b += 1
        out.append(b - 1 if cum >= need else None)
    return out


def batch_end_ms(batch):
    return batch["start_ms"] + batch["duration_ms"].get("triggerExecution", 0)


def file_latencies(run):
    """Seconds from each file's due time to the end of its covering batch;
    None for a file no batch covered."""
    batches = sorted(run["batches"], key=lambda b: b["batch_id"])
    idx = files_to_batches(run["rows_per_file"], batches)
    return [None if i is None else (batch_end_ms(batches[i]) - due) / 1000.0
            for i, due in zip(idx, run["due_ms"])]


def pass_times(passes, failed):
    """Seconds of each untraced measured pass: the summed build and action
    times of its queries. Failed queries are left out of every pass, never
    reported as a time."""
    return [sum(t["build_s"] + t["action_s"] for q, t in p["queries"].items() if q not in failed)
            for p in passes if not p["traced"]]


def failure_counts(queries, harness_failures, oracle_failures):
    """(attempted, failed): each query counts once, failed if it threw at
    any point or its output did not match the oracle."""
    bad = set(harness_failures) | set(oracle_failures)
    return len(queries), len([q for q in queries if q in bad])


def end_to_end_batch(result, failed):
    return {
        "setup_s": result["setup_s"],
        "suite_s": statistics.median(pass_times(result["passes"], failed)),
        "heap_live_mb": result["heap_live_mb"],
    }


def stream_suite_s(run):
    """Seconds from the first file's due time to the end of the batch that
    covers the last file: the stream's time for the whole input."""
    batches = sorted(run["batches"], key=lambda b: b["batch_id"])
    last = files_to_batches(run["rows_per_file"], batches)[-1]
    return None if last is None else (batch_end_ms(batches[last]) - run["due_ms"][0]) / 1000.0


def latency_p50(run):
    """(median file latency, or None when the percentile rule does not
    allow it (fewer than 20 samples), number of samples, number of files
    no batch covered)."""
    lat = file_latencies(run)
    got = [x for x in lat if x is not None]
    p50 = percentile(got, 50) if tail_percentile(len(got)) is not None else None
    return p50, len(got), len(lat) - len(got)


def end_to_end_stream(result):
    run = [r for r in result["runs"] if not r["traced"]][0]
    return {
        "setup_s": result["setup_s"],
        "suite_s": stream_suite_s(run),
        "heap_live_mb": result["heap_live_mb"],
    }


def latency_halves(run):
    """Median latency of the first half of the files and of the second:
    below saturation the latency does not grow over the run."""
    lat = [x for x in file_latencies(run) if x is not None]
    half = len(lat) // 2
    return statistics.median(lat[:half]), statistics.median(lat[half:])


def generator_late_ms(run):
    return max(m - d for m, d in zip(run["moved_ms"], run["due_ms"]))


STREAM_PARTS = {"stream.add_batch_s_p50": "addBatch", "stream.planning_s_p50": "queryPlanning",
                "stream.wal_commit_s_p50": "walCommit", "stream.latest_offset_s_p50": "latestOffset"}


def stream_layers(run):
    bs = [b for b in run["batches"] if b["num_input_rows"] > 0] or run["batches"]
    last = max(run["batches"], key=lambda b: b["batch_id"])
    out = {"stream.batch_s_p50": percentile(
        [b["duration_ms"].get("triggerExecution", 0) / 1000.0 for b in bs], 50)}
    for name, part in STREAM_PARTS.items():
        out[name] = percentile([b["duration_ms"].get(part, 0) / 1000.0 for b in bs], 50)
    out["stream.state_commit_s_p50"] = percentile([b["state_commit_ms"] / 1000.0 for b in bs], 50)
    out["stream.state_rows"] = last["state_rows"]
    out["stream.state_mb"] = last["state_bytes"] / 1048576.0
    out["stream.n_batches"] = len(run["batches"])
    out["stream.rows_per_batch_p50"] = percentile([b["num_input_rows"] for b in bs], 50)
    out["stream.generator_late_ms_max"] = generator_late_ms(run)
    return out


SPAN_KINDS = ("pass", "run", "query", "build", "action", "job", "stage", "micro-batch")
STAGE_SUMS = {"task_cpu_s": "task_cpu_s", "task_gc_s": "task_gc_s",
              "shuffle_write_mb": "shuffle_write_mb", "shuffle_read_mb": "shuffle_read_mb",
              "spill_mb": "spill_mb", "n_tasks": "tasks"}


def unit_layers(spans, unit, selfs):
    """Layer numbers for one traced pass (or stream run) span `unit`."""
    below = descendants(spans, unit["id"])
    jobs = [s for s in below if s["kind"] == "job"]
    stages = [s for s in below if s["kind"] == "stage"]
    queries = [s for s in below if s["kind"] == "query"]
    counters = [s for s in below if s["kind"] == "counters"]
    out = {"n_jobs": len(jobs), "n_stages": len(stages),
           "build_s": sum(s["end"] - s["start"] for s in below if s["kind"] == "build") / 1000.0}
    for name, attr in STAGE_SUMS.items():
        out[name] = sum(s["attrs"].get(attr, 0.0) for s in stages)
    for k in ("n_exchanges", "n_bhj", "n_scans"):
        out[k] = sum(c["attrs"].get(k, 0.0) for c in counters)
    out["cache_blocks_mb"] = max([c["attrs"].get("cache_blocks_mb", 0.0) for c in counters] or [0.0])
    # in-job time: the union of job intervals inside each query (or run)
    owners = queries or [unit]
    in_job = gap = 0.0
    per_query = {}
    for q in owners:
        qjobs = [s for s in descendants(spans, q["id"]) if s["kind"] == "job"]
        inside = union_length([(max(j["start"], q["start"]), min(j["end"], q["end"]))
                               for j in qjobs if j["end"] > j["start"]]) / 1000.0
        wall = (q["end"] - q["start"]) / 1000.0
        in_job += inside
        gap += wall - inside
        per_query[q["name"]] = {"wall_s": wall, "n_jobs": len(qjobs), "driver_gap_s": wall - inside}
    out["in_job_s"] = in_job
    out["driver_gap_s"] = gap
    out["span_sum_s"] = sum(v["wall_s"] for v in per_query.values())
    for kind in SPAN_KINDS:
        out[f"self.{kind}_s"] = sum(selfs[s["id"]] for s in [unit] + below
                                    if s["kind"] == kind) / 1000.0
    return out, per_query


def median_dicts(ds):
    keys = sorted({k for d in ds for k in d})
    return {k: statistics.median([d.get(k, 0.0) for d in ds]) for k in keys}


def layer_metrics(result, spans, names):
    """Every per-layer metric in `names`; 0 where the workload does not
    exercise that layer or query."""
    selfs = self_times(spans)
    units = [s for s in spans if s["kind"] in ("pass", "run") and
             not s["name"].startswith(("setup", "baseline")) and "untraced" not in s["name"]]
    per_unit, per_query = [], []
    for u in units:
        a, b = unit_layers(spans, u, selfs)
        per_unit.append(a)
        per_query.append(b)
    out = median_dicts(per_unit) if per_unit else {}
    failed = set(result.get("failures", {}))
    for q in {q for d in per_query for q in d}:
        for k in ("wall_s", "n_jobs", "driver_gap_s"):
            out[f"q.{q}.{k}"] = None if q in failed else statistics.median(
                [d[q][k] for d in per_query if q in d])
    for k, v in result.get("kernels", {}).items():
        out[f"kernel.{k}.rows_per_s"] = v
    traced = [r for r in result.get("runs", []) if r["traced"]]
    if traced:
        out.update(stream_layers(traced[0]))
        untraced = [r for r in result["runs"] if not r["traced"]]
        out["stream.latency_p50_s"] = latency_p50(untraced[0])[0]
    out["trace_overhead_s"] = trace_overhead(result)
    out["peak_rss_mb"] = result.get("peak_rss_mb", 0.0)
    return {n: None if out.get(n, 0.0) is None else float(out.get(n, 0.0)) for n in names}


def trace_overhead(result):
    """Traced minus untraced wall time of the same work in the same run."""
    if "passes" in result:
        measured = [p for p in result["passes"] if p["label"].startswith("pass")]
        t = [p["wall_s"] for p in measured if p["traced"]]
        u = [p["wall_s"] for p in measured if not p["traced"]]
    else:
        t = [stream_suite_s(r) for r in result.get("runs", []) if r["traced"]]
        u = [stream_suite_s(r) for r in result.get("runs", []) if not r["traced"]]
    return statistics.median(t) - statistics.median(u) if t and u else 0.0
