"""Statistics, span accounting and metric assembly for the benchmark.

Pure functions over the JVM's raw result (``result.json``, written by
``perfbench.Main``); run.py does the I/O. Kept free of side effects so
the tests can pin each rule on known inputs.
"""
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))

with open(os.path.join(HERE, "workloads.json")) as f:
    WORKLOADS = json.load(f)

SF = WORKLOADS["sf"]
ALL_QUERIES = [q for w in WORKLOADS["workloads"].values() for q in w["queries"]]
CORPUS_LAYERS = ["read", "decode", "quality", "dedup", "bpe_train", "encode", "pack"]
CHAIN_QUERY = "q_corpus_build_warc"   # the query whose chain CORPUS_LAYERS costs

# End-to-end metrics as printed with --trace 0 (all are never 0 on a
# completed run). The run's "e2e" record also carries rss_peak_mb,
# op_p50_s, op_p90_s, ops_failed and the stream batch metrics: the peak
# resident set follows G1's heap sizing more than the program's live
# data (it spread about 30% run to run), op_p50_s falls between two
# clusters of query latencies on algebra and spreads about 20% run to
# run, p90 needs ten samples beyond it, ops_failed is 0 on a correct run,
# and the batch metrics exist only where a stream runs.
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "heap_live_mb": "MB",
}

SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "peak_exec_mem_mb": "MB", "job_busy_s": "s", "driver_gap_s": "s",
}
STREAMING_UNITS = {
    "batches": "count", "input_rows": "count", "add_batch_ms": "ms",
    "wal_commit_ms": "ms", "commit_offsets_ms": "ms", "query_planning_ms": "ms",
    "get_batch_ms": "ms", "latest_offset_ms": "ms", "state_rows": "count",
    "state_commit_ms": "ms", "state_mem_mb": "MB", "floor_share": "ratio",
}
# progress.durationMs key behind each streaming.*_ms metric
DURATION_KEYS = {
    "add_batch_ms": "addBatch", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets", "query_planning_ms": "queryPlanning",
    "get_batch_ms": "getBatch", "latest_offset_ms": "latestOffset",
}
OP_UNITS = {"wall_s": "s", "jobs": "count", "exec_cpu_s": "s", "driver_gap_s": "s"}
CORPUS_UNITS = {"self_s": "s", "rows_out": "count", "exec_cpu_s": "s"}


def per_layer_units():
    """Every per-layer metric name with its unit, in printing order."""
    units = {}
    units.update({f"spark.{k}": u for k, u in SPARK_UNITS.items()})
    units.update({"harness.build_s": "s", "harness.sink_s": "s", "harness.stage_s": "s"})
    for q in ALL_QUERIES:
        units.update({f"op.{q}.{k}": u for k, u in OP_UNITS.items()})
    for layer in CORPUS_LAYERS:
        units.update({f"corpus.{layer}.{k}": u for k, u in CORPUS_UNITS.items()})
    units.update({f"streaming.{k}": u for k, u in STREAMING_UNITS.items()})
    units.update({"host.steal_s": "s", "host.load1": "load"})
    return units


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else None


def mean(xs):
    """Per-pass end-to-end figures are means over a run's timed passes, not
    medians: the JVM is still JIT-compiling through them (each pass is
    faster than the one before), so the middle pass depends on when the
    compilations land, while the sum over all of them does not."""
    return statistics.fmean(xs) if xs else None


def nearest_rank(xs, q):
    """(value, samples strictly beyond it) of the nearest-rank q-quantile."""
    s = sorted(xs)
    k = max(1, math.ceil(q * len(s)))
    return s[k - 1], len(s) - k


def supported_percentile(xs, q, min_beyond=10):
    """The q-quantile, or None unless at least ``min_beyond`` samples lie beyond it."""
    if not xs:
        return None
    v, beyond = nearest_rank(xs, q)
    return v if beyond >= min_beyond else None


# -------------------------------------------------------------------- spans

def union_length(intervals):
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
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
    """Span id -> self time (ms): its duration minus the part of its own
    interval covered by the union of its children (clipped to it)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_length([(max(c["start_ms"], a), min(c["end_ms"], b))
                                for c in kids.get(s["id"], [])])
        out[s["id"]] = (b - a) - covered
    return out


def layer_table(spans):
    """Per span name: count, total seconds and self seconds."""
    st = self_times(spans)
    rows = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"layer": s["name"], "spans": 0, "total_s": 0.0, "self_s": 0.0})
        r["spans"] += 1
        r["total_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
        r["self_s"] += st[s["id"]] / 1e3
    return sorted(rows.values(), key=lambda r: -r["self_s"])


# ------------------------------------------------------------------ metrics

def timed_passes(result, traced):
    return [p for p in result["passes"] if p["traced"] == traced]


def ops_of(passes):
    return [o for p in passes for o in p["ops"]]


def batches_of(passes):
    return [b for p in passes for b in p["batches"] if "triggerExecution" in b["durations_ms"]]


def end_to_end(result):
    """(metrics printed with --trace 0, the full e2e record)."""
    passes = timed_passes(result, False)
    ops = ops_of(passes)
    walls = [o["wall_s"] for o in ops]
    metrics = {
        "setup_s": result["setup"]["setup_s"],
        "pass_s": mean([p["wall_s"] for p in passes]),
        "cpu_s": mean([p["cpu_s"] for p in passes]),
        "heap_live_mb": max(p["heap_live_mb"] for p in passes),
    }
    batches = batches_of(passes)
    trig = [b["durations_ms"]["triggerExecution"] for b in batches]
    rec = dict(metrics)
    rec.update({
        "rss_peak_mb": result["rss_peak_mb"],
        "op_p50_s": median(walls),
        "op_p90_s": supported_percentile(walls, 0.9),
        "n_ops": len(walls), "n_passes": len(passes),
        "ops_total": len(ops), "ops_failed": sum(1 for o in ops if not o["ok"]),
    })
    if batches:
        rec.update({
            "batch_p50_ms": median(trig),
            "batch_p90_ms": supported_percentile(trig, 0.9),
            "stream_rows_per_s": (sum(b["input_rows"] for b in batches) / (sum(trig) / 1e3)
                                  if trig and sum(trig) > 0 else None),
            "n_batches": len(batches),
        })
    return metrics, rec


def op_windows(result):
    """Traced op id -> its engine counters plus ``job_busy_s`` (the union of
    its spark.job spans, clipped to the op) and ``driver_gap_s`` (the op's
    wall time outside that union)."""
    op_spans, jobs = {}, {}
    for s in result["spans"]:
        if s["name"] == "op":
            op_spans[s["op"]] = s
        elif s["name"] == "spark.job":
            jobs.setdefault(s["op"], []).append(s)
    out = {}
    for p in timed_passes(result, True):
        for o in p["ops"]:
            a, b = op_spans[o["op"]]["start_ms"], op_spans[o["op"]]["end_ms"]
            busy = union_length([(max(j["start_ms"], a), min(j["end_ms"], b))
                                 for j in jobs.get(o["op"], [])]) / 1e3
            out[o["op"]] = dict(o["spark"], job_busy_s=busy, driver_gap_s=o["wall_s"] - busy)
    return out


def _spark_sum(windows):
    out = {k: sum(w[k] for w in windows) for k in SPARK_UNITS}
    out["peak_exec_mem_mb"] = max((w["peak_exec_mem_mb"] for w in windows), default=0.0)
    return out


def _stream_pass(batches):
    trig = sum(b["durations_ms"]["triggerExecution"] for b in batches)
    add = sum(b["durations_ms"].get("addBatch", 0) for b in batches)
    last = {}
    for b in batches:
        last[b["query"]] = b
    out = {
        "batches": len(batches),
        "input_rows": sum(b["input_rows"] for b in batches),
        "state_rows": sum(b["state_rows"] for b in last.values()),
        "state_commit_ms": sum(b["state_commit_ms"] for b in batches),
        "state_mem_mb": sum(b["state_mem_b"] for b in last.values()) / 2**20,
        "floor_share": 1.0 - add / trig if trig > 0 else 0.0,
    }
    for name, key in DURATION_KEYS.items():
        out[name] = sum(b["durations_ms"].get(key, 0) for b in batches)
    return out


def per_layer(result):
    """(metrics printed with --trace 1, trace checks). Per-pass values are
    medians over the run's traced passes; layers the workload does not
    run read 0."""
    units = per_layer_units()
    m = {k: 0.0 for k in units}
    passes = timed_passes(result, True)
    windows = op_windows(result)
    per_pass = [_spark_sum([windows[o["op"]] for o in p["ops"]]) for p in passes]
    for k in SPARK_UNITS:
        m[f"spark.{k}"] = median([pp[k] for pp in per_pass])
    m["harness.build_s"] = median([sum(o["build_s"] for o in p["ops"]) for p in passes])
    m["harness.sink_s"] = median([sum(o["sink_s"] for o in p["ops"]) for p in passes])
    m["harness.stage_s"] = result["setup"]["stage_s"]
    ops = ops_of(passes)
    for q in result["queries"]:
        mine = [o for o in ops if o["q"] == q]
        m[f"op.{q}.wall_s"] = median([o["wall_s"] for o in mine])
        for k in ("jobs", "exec_cpu_s", "driver_gap_s"):
            m[f"op.{q}.{k}"] = median([windows[o["op"]][k] for o in mine])
    prev = None
    for layer in CORPUS_LAYERS:
        runs = [c for c in result["chain"] if c["layer"] == layer]
        if not runs:
            continue
        wall = median([c["wall_s"] for c in runs])
        cpu = median([c["spark"]["exec_cpu_s"] for c in runs])
        m[f"corpus.{layer}.self_s"] = wall - (prev[0] if prev else 0.0)
        m[f"corpus.{layer}.rows_out"] = runs[0]["rows_out"]
        m[f"corpus.{layer}.exec_cpu_s"] = cpu - (prev[1] if prev else 0.0)
        prev = (wall, cpu)
    sp = [_stream_pass(batches_of([p])) for p in passes]
    for k in STREAMING_UNITS:
        m[f"streaming.{k}"] = median([s[k] for s in sp])
    m["host.steal_s"] = result["host"]["steal_s"]
    m["host.load1"] = result["host"]["load1_start"]
    return m, trace_checks(result, m)


def op_tree_errors(result):
    """Per traced op: |sum of the self times of its spans - its wall| / wall.
    Self times attribute each instant of an op once only while jobs and
    batches nest inside their parents without overlapping their siblings;
    jobs that run concurrently, or outlive their op, make the sum exceed
    the op's wall time."""
    st = self_times(result["spans"])
    per_op = {}
    for s in result["spans"]:
        if s["op"] >= 0:
            per_op[s["op"]] = per_op.get(s["op"], 0.0) + st[s["id"]] / 1e3
    return [abs(per_op.get(o["op"], 0.0) - o["wall_s"]) / o["wall_s"]
            for o in ops_of(timed_passes(result, True)) if o["wall_s"] > 0]


def trace_checks(result, m):
    """The traced run's accounting: do the layer tables add up? Each
    10% criterion carries a boolean verdict. (build_s + sink_s equals an
    op's wall_s by construction, the three share their clock readings,
    so it is not checked.)"""
    traced, untraced = timed_passes(result, True), timed_passes(result, False)
    t_pass = median([p["wall_s"] for p in traced])
    u_pass = median([p["wall_s"] for p in untraced])
    op_errs = op_tree_errors(result)
    cover = [p["ops_wall_s"] / p["wall_s"] for p in traced if p["wall_s"] > 0]
    checks = {
        "traced_pass_s": t_pass, "untraced_pass_s": u_pass,
        "tracing_overhead": (t_pass / u_pass - 1.0) if t_pass and u_pass else None,
        "op_span_sum_worst_rel_err": max(op_errs, default=None),
        "op_span_sum_within_10pct": all(e <= 0.1 for e in op_errs),
        "ops_share_of_pass_min": min(cover, default=None),
        "ops_share_of_pass_within_10pct": all(c >= 0.9 for c in cover),
    }
    if result["chain"]:
        warc = median([c["wall_s"] for c in result["chain"] if c["layer"] == CHAIN_QUERY])
        total = sum(m[f"corpus.{layer}.self_s"] for layer in CORPUS_LAYERS)
        err = abs(total - warc) / warc if warc else None
        checks["corpus_self_sum_s"] = total
        checks[f"{CHAIN_QUERY}_untraced_wall_s"] = warc
        checks["corpus_self_sum_rel_err"] = err
        checks["corpus_self_sum_within_10pct"] = err is not None and err <= 0.1
    shares = []
    for b in batches_of(traced):
        d = b["durations_ms"]
        trig = d["triggerExecution"]
        if trig > 0:
            shares.append(sum(v for k, v in d.items() if k != "triggerExecution") / trig)
    if shares:
        checks["batch_parts_share_min"] = min(shares)
        checks["batch_parts_share_max"] = max(shares)
        checks["batches_checked"] = len(shares)
        checks["batch_parts_within_10pct"] = sum(1 for s in shares if abs(s - 1.0) <= 0.1)
        checks["batch_parts_all_within_10pct"] = checks["batch_parts_within_10pct"] == len(shares)
    return checks


def counter_repeat(result):
    """Per timed pass (jobs, stages, tasks) and whether they repeat exactly."""
    seq = [(p["spark"]["jobs"], p["spark"]["stages"], p["spark"]["tasks"])
           for p in timed_passes(result, False)]
    return {"per_pass": seq, "repeat_exactly": len(set(seq)) <= 1}


def metric_block(values, units):
    return {k: {"value": values[k], "unit": units[k]} for k in units}
