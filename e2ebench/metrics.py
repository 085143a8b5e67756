"""Turns one harness record into the benchmark's metrics.

Everything here is plain Python over the record the JVM harness writes
(samples, values, spans, Spark jobs), so the arithmetic can be checked
without starting Spark (see test_e2ebench.py).
"""

import math
import statistics

# Operator classes a job's call site is attributed to (nightly_loop and
# hybrid_serve); any other call site lands in "other".
OPERATORS = ["LexIndex", "Dedup", "AnnIndex", "Sampling", "Sharding",
             "Generations", "Tombstones", "StreamingNightlyIngest"]

END_TO_END = ["setup_s", "latency_p50_ms", "latency_tail_ms",
              "throughput_per_s"]

UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
         "throughput_per_s": "1/s"}

# The tail percentile each workload wants; the reported one is capped so
# that at least ten samples lie beyond it.
TAIL_WANTED = {"stream_enrich": 0.90, "hybrid_serve": 0.90}


def quantile(values, q):
    """Nearest-rank quantile: the smallest sample with at least a share
    `q` of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    rank = max(1, math.ceil(q * len(xs) - 1e-9))
    return xs[min(rank, len(xs)) - 1]


def median(values):
    return statistics.median(values)


def tail(values, wanted, beyond=10):
    """(q, value) for the highest percentile up to `wanted` that has at
    least `beyond` samples above it; (None, None) when there are too few
    samples for any."""
    n = len(values)
    if n <= beyond:
        return None, None
    q = min(wanted, (n - beyond) / n)
    return q, quantile(values, q)


def open_loop_latencies(pairs):
    """Latency of each open-loop post, from the time it was due to be
    sent (not from when the generator got to send it) to its output's
    publish stamp. `pairs` holds (due_ms, out_ms)."""
    return [out - due for due, out in pairs]


def union_ms(intervals):
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
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover. `spans` rows are
    (id, parent, name, req, start_ms, end_ms); returns {id: ms}."""
    children = {}
    for sid, parent, _n, _r, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _p, _n, _r, s, e in spans:
        kids = [(max(cs, s), min(ce, e)) for cs, ce in children.get(sid, [])
                if ce > s and cs < e]
        out[sid] = (e - s) - union_ms(kids)
    return out


def _p50(xs):
    return median(xs) if xs else 0.0


def _job_rows(rec):
    keys = ["id", "op", "batch", "site", "submit", "end", "first_task",
            "stages", "tasks", "run_ms", "shuffle", "input", "output",
            "spill"]
    return [dict(zip(keys, j)) for j in rec["values"].get("jobs", [])]


def per_op_spark(groups, intervals=None):
    """Spark work per operation. `groups` maps an operation key to its
    jobs; `intervals` maps it to the operation's (start, end), for the
    driver gap: wall time the operation spent with no job running."""
    out = {k: 0.0 for k in ["jobs", "stages", "tasks", "shuffle", "input",
                            "output", "spill", "run_ms", "gap_ms"]}
    if not groups:
        return out
    n = len(groups)
    for js in groups.values():
        out["jobs"] += len(js)
        for k in ["stages", "tasks", "shuffle", "input", "output", "spill",
                  "run_ms"]:
            out[k] += sum(j[k] for j in js)
    for k in list(out):
        out[k] /= n
    if intervals:
        gaps = []
        for key, (s, e) in intervals.items():
            busy = union_ms([(max(j["submit"], s), min(j["end"], e))
                             for j in groups.get(key, [])
                             if j["end"] > s and j["submit"] < e])
            gaps.append((e - s) - busy)
        out["gap_ms"] = median(gaps) if gaps else 0.0
    return out


def end_to_end(workload, rec):
    """The untraced metrics, plus notes (sample counts, the tail
    percentile used) for the provenance line."""
    v, smp = rec["values"], rec["samples"]
    if workload == "stream_enrich":
        lat = open_loop_latencies(v.get("steady_pairs", []))
    else:
        lat = smp.get("latency_ms", [])
    if not lat:
        raise SystemExit(f"{workload}: no latency samples")
    if workload == "nightly_loop":
        q, t = None, v["compact_ms"]
    else:
        q, t = tail(lat, TAIL_WANTED[workload])
        if t is None:
            raise SystemExit(f"{workload}: {len(lat)} latency samples; a "
                             "tail percentile needs at least 11, run longer")
    if "throughput_per_s" not in v:
        raise SystemExit(f"{workload}: no throughput was measured")
    metrics = {"setup_s": v["setup_s"], "latency_p50_ms": median(lat),
               "latency_tail_ms": t,
               "throughput_per_s": v["throughput_per_s"]}
    notes = {"latency_samples": len(lat),
             "tail_percentile": None if q is None else round(100 * q, 2)}
    return metrics, notes


def per_layer(workload, rec):
    """The traced metrics. Every name of PER_LAYER_UNITS is present for
    every workload (a layer a workload does not exercise reads 0);
    hybrid_serve adds SERVE_UNITS."""
    v, smp, spans = rec["values"], rec["samples"], rec["spans"]
    jobs = _job_rows(rec)
    m = {}
    by_name = {}
    for sp in spans:
        by_name.setdefault(sp[2], []).append(sp)
    # micro-batches of the timed phases that read input
    prog = [p for p in v.get("progress", [])
            if p["phase"] in ("steady", "burst") and p["rows"] > 0]

    # ---- the workload's operations and their Spark jobs ----------------
    if workload == "stream_enrich":
        batches = {str(p["batch"]) for p in prog}
        groups = {}
        for j in jobs:
            if j["batch"] in batches:
                groups.setdefault(j["batch"], []).append(j)
        intervals = None
        lat = open_loop_latencies(v.get("steady_pairs", []))
    else:
        op_span = "night" if workload == "nightly_loop" else "request"
        ops = {sp[3]: (sp[4], sp[5]) for sp in by_name.get(op_span, [])
               if not sp[3].startswith("warm")}
        groups = {}
        for j in jobs:
            if j["op"] in ops:
                groups.setdefault(j["op"], []).append(j)
        intervals = ops
        lat = [e - s for s, e in ops.values()]
    spark = per_op_spark(groups, intervals)
    if workload == "stream_enrich" and prog:
        # a micro-batch's driver gap: its trigger time not covered by jobs
        spark["gap_ms"] = median([
            p["duration_ms"].get("triggerExecution", 0) - union_ms(
                [(j["submit"], j["end"]) for j in groups.get(str(p["batch"]), [])])
            for p in prog])
    m["traced.latency_p50_ms"] = _p50(lat)
    m["spark.jobs_per_op"] = spark["jobs"]
    m["spark.stages_per_op"] = spark["stages"]
    m["spark.tasks_per_op"] = spark["tasks"]
    m["spark.shuffle_bytes_per_op"] = spark["shuffle"]
    m["spark.input_bytes_per_op"] = spark["input"]
    m["spark.output_bytes_per_op"] = spark["output"]
    m["spark.spill_bytes_per_op"] = spark["spill"]
    m["spark.executor_run_ms_per_op"] = spark["run_ms"]
    m["spark.driver_gap_ms_per_op"] = spark["gap_ms"]
    op_jobs = [j for js in groups.values() for j in js]
    m["spark.queue_ms_p50"] = _p50([j["first_task"] - j["submit"]
                                    for j in op_jobs if j["first_task"] >= 0])

    # ---- streaming, sources, pipeline, sinks (stream_enrich) -----------
    def dur(key):
        return _p50([p["duration_ms"].get(key, 0) for p in prog])
    m["streaming.batches"] = float(len(prog))
    m["streaming.rows_per_batch_p50"] = _p50([p["rows"] for p in prog])
    m["streaming.trigger_ms_p50"] = dur("triggerExecution")
    m["streaming.add_batch_ms_p50"] = dur("addBatch")
    m["streaming.query_planning_ms_p50"] = dur("queryPlanning")
    m["streaming.latest_offset_ms_p50"] = dur("latestOffset")
    m["streaming.wal_commit_ms_p50"] = dur("walCommit")
    m["streaming.commit_offsets_ms_p50"] = dur("commitOffsets")
    m["streaming.dedup_update_ms_p50"] = _p50(
        [p["state_update_ms"] for p in prog])
    m["streaming.dedup_commit_ms_p50"] = _p50(
        [p["state_commit_ms"] for p in prog])
    m["streaming.dedup_state_rows"] = float(
        max([p["state_rows"] for p in prog], default=0))
    m["streaming.dedup_state_bytes"] = float(
        max([p["state_bytes"] for p in prog], default=0))
    m["sources.num_pending_max"] = float(
        max([p["num_pending"] for p in prog
             if p["phase"] == "steady"], default=0))
    m["sources.fetch_us"] = _p50(smp.get("sources.fetch_us", []))
    m["generator.publish_us_p50"] = _p50(smp.get("generator.publish_us", []))
    m["generator.late_ms_max"] = float(max(v.get("generator.late_ms", []),
                                           default=0))
    m["pipeline.poison"] = float(sum(p["poison"]
                                     for p in v.get("progress", [])))
    valid = v.get("valid_posts", 0)
    m["pipeline.gate_pass_ratio"] = (v.get("expected_outputs", 0) / valid
                                     if valid else 0.0)
    m["pipeline.sentiment_ns_per_row"] = float(
        v.get("pipeline.sentiment_ns_per_row", 0))
    m["pipeline.topic_ns_per_row"] = float(
        v.get("pipeline.topic_ns_per_row", 0))
    m["sinks.published"] = float(v.get("sinks.published", 0))
    m["sinks.duplicates"] = float(v.get("sinks.duplicates", 0))
    m["sinks.publish_timeouts"] = float(v.get("sinks.publish_timeouts", 0))

    # ---- operators (nightly_loop appends and compaction, serve probes) -
    timed = set(groups) | {"compact"}
    op_jobs = [j for j in jobs if j["op"] in timed]
    for o in OPERATORS + ["other"]:
        js = [j for j in op_jobs
              if j["site"] == o or (o == "other" and j["site"] not in OPERATORS)]
        m[f"operators.{o}.jobs"] = float(len(js))
        m[f"operators.{o}.job_ms"] = sum(j["end"] - j["submit"] for j in js)
    # the night's frames: batch -> quality gate and near-dup probe
    # (survivors) -> token-budget sample (kept)
    batch = sum(smp.get("night.batch_docs", []))
    surv = sum(smp.get("night.survivor_docs", []))
    kept = sum(smp.get("night.kept_docs", []))
    m["operators.Dedup.survivor_ratio"] = surv / batch if batch else 0.0
    m["operators.Sampling.admit_ratio"] = kept / surv if surv else 0.0
    compact = {sp[3]: (sp[4], sp[5]) for sp in by_name.get("compactAll", [])}
    cspark = per_op_spark({k: [j for j in jobs if j["op"] == k]
                           for k in compact}, compact)
    m["spark.jobs_per_compaction"] = cspark["jobs"]
    m["spark.shuffle_bytes_per_compaction"] = cspark["shuffle"]
    m["spark.driver_gap_ms_per_compaction"] = cspark["gap_ms"]

    # ---- serve legs (hybrid_serve only) ---------------------------------
    if workload == "hybrid_serve":
        def span_p50(name):
            return _p50([sp[5] - sp[4] for sp in by_name.get(name, [])
                         if sp[3].startswith("req-")])
        m["serve.lex_ms_p50"] = span_p50("serve.lex")
        m["serve.ann_ms_p50"] = span_p50("serve.ann")
        m["serve.fuse_ms_p50"] = span_p50("serve.fuse")
        reqs = [sp for sp in by_name.get("request", [])
                if sp[3].startswith("req-")]
        selfs = self_times(spans)
        m["serve.request_self_ms_p50"] = _p50([selfs[sp[0]] for sp in reqs])
        m["serve.catalyst_ms_p50"] = _p50(smp.get("serve.catalyst_ms", []))
        m["serve.execution_ms_p50"] = max(
            0.0, m["traced.latency_p50_ms"] - m["serve.catalyst_ms_p50"])

    # ---- set-up and memory ----------------------------------------------
    m["setup.session_s"] = float(v.get("session_s", 0))
    m["setup.warmup_s"] = float(v.get("warmup_s", 0))
    m["jvm.peak_heap_mb"] = float(v.get("peak_heap_mb", 0))
    return m


PER_LAYER_UNITS = {
    "traced.latency_p50_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.shuffle_bytes_per_op": "bytes",
    "spark.input_bytes_per_op": "bytes", "spark.output_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes", "spark.executor_run_ms_per_op": "ms",
    "spark.driver_gap_ms_per_op": "ms", "spark.queue_ms_p50": "ms",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.dedup_update_ms_p50": "ms",
    "streaming.dedup_commit_ms_p50": "ms",
    "streaming.dedup_state_rows": "count",
    "streaming.dedup_state_bytes": "bytes",
    "sources.num_pending_max": "count", "sources.fetch_us": "us",
    "generator.publish_us_p50": "us", "generator.late_ms_max": "ms",
    "pipeline.poison": "count", "pipeline.gate_pass_ratio": "ratio",
    "pipeline.sentiment_ns_per_row": "ns", "pipeline.topic_ns_per_row": "ns",
    "sinks.published": "count", "sinks.duplicates": "count",
    "sinks.publish_timeouts": "count",
    **{f"operators.{o}.jobs": "count" for o in OPERATORS + ["other"]},
    **{f"operators.{o}.job_ms": "ms" for o in OPERATORS + ["other"]},
    "operators.Dedup.survivor_ratio": "ratio",
    "operators.Sampling.admit_ratio": "ratio",
    "spark.jobs_per_compaction": "count",
    "spark.shuffle_bytes_per_compaction": "bytes",
    "spark.driver_gap_ms_per_compaction": "ms",
    "setup.session_s": "s", "setup.warmup_s": "s", "jvm.peak_heap_mb": "MB",
}

# Printed by hybrid_serve only, on top of the set above.
SERVE_UNITS = {
    "serve.lex_ms_p50": "ms", "serve.ann_ms_p50": "ms",
    "serve.fuse_ms_p50": "ms", "serve.request_self_ms_p50": "ms",
    "serve.catalyst_ms_p50": "ms", "serve.execution_ms_p50": "ms",
}
