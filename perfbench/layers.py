"""Per-layer metrics from the trace of one traced run.

The harness records spans around its own calls into the program (the
drain, every store call, every analytics line) and Spark's listeners record
jobs, SQL executions, task metrics, plan shapes and streaming progress.
Everything here is normalised per repetition of the workload (one drain
for ingest_backlog, one review cycle for ingest_review, one pass of the
query list for analytics_mix), so runs of different lengths compare.
"""
import statistics

# name -> unit, in the order BENCHMARK.json lists them.
METRICS = {
    "queue.triggers": "count", "queue.latest_offset_s": "s",
    "queue.trigger_overhead_s": "s", "queue.messages_in": "count",
    "dispatch.add_batch_s": "s", "dispatch.waves": "count",
    "dispatch.jobs_per_wave": "count", "dispatch.single_job_commits": "count",
    "dispatch.spark_actions": "count", "dispatch.driver_s": "s",
    "ingest.csv_files": "count", "ingest.csv_bytes": "bytes", "ingest.csv_rows": "count",
    "ingest.csv_scan_actions": "count", "ingest.csv_scan_rows": "count",
    "pipeline.counters_s": "s", "pipeline.rows_staged": "count", "pipeline.issues": "count",
    "pipeline.issue_items": "count", "pipeline.contacts": "count",
    "io.commit_s": "s", "io.commit_stage_s": "s", "io.commit_swap_s": "s", "io.commits": "count",
    "io.jobs_write_s": "s", "io.jobs_writes": "count", "io.load_calls": "count",
    "io.exists_calls": "count", "io.write_files": "count", "io.store_files": "count",
    "io.store_bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.plan_exchanges": "count", "spark.plan_scans": "count", "spark.plan_bhj": "count",
    "spark.plan_smj": "count",
    "analytics.lm_s": "s", "analytics.lex_s": "s", "analytics.ann_s": "s",
    "analytics.dedup_s": "s", "analytics.events_s": "s", "analytics.reference_s": "s",
    "analytics.lines": "count",
    "trace.attributed_share": "ratio", "trace.elapsed_s": "s",
    "trace.untraced_elapsed_s": "s", "trace.overhead_share": "ratio",
}


def union_len(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, windows):
    """Parts of `intervals` inside any of `windows`."""
    out = []
    for s, e in intervals:
        for ws, we in windows:
            lo, hi = max(s, ws), min(e, we)
            if hi > lo:
                out.append((lo, hi))
    return out


def done(xs):
    return [(x["start"], x["end"]) for x in xs if x["end"] is not None]


def compute(res, untraced_elapsed):
    """Per-layer metrics of traced result `res`. `untraced_elapsed` is the
    median elapsed_s of untraced runs of the same workload and build, the
    base of the tracing overhead."""
    t = res["trace"]
    reps = max(1, res["reps"])
    c = t["counters"]
    spans = t["spans"]
    m = {k: 0.0 for k in METRICS}

    def per_rep(v):
        return v / reps

    drains = [(s["start"], s["end"]) for s in spans if s["layer"] == "run"]
    io = [s for s in spans if s["layer"] == "io"]
    commits = [s for s in io if s["name"] == "commit"]
    job_iv = clip(done(t["jobs"]), drains)
    # A streaming micro-batch is itself one SQL execution that spans the
    # whole addBatch; only the executions nested inside it are actions.
    roots = {x["root"] for x in t["sql"] if x["root"] != x["id"]}
    actions = [x for x in t["sql"] if x["id"] not in roots and x["end"] is not None]
    sql_iv = clip(done(actions), drains)

    prog = t["progress"]
    dur = [p["durations"] for p in prog]
    add_batch = sum(d.get("addBatch", 0) for d in dur) / 1e3
    trigger_overhead = sum(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur) / 1e3
    m["queue.triggers"] = per_rep(len(prog))
    m["queue.latest_offset_s"] = per_rep(sum(d.get("latestOffset", 0) for d in dur) / 1e3)
    m["queue.trigger_overhead_s"] = per_rep(trigger_overhead)
    m["queue.messages_in"] = per_rep(sum(p["input_rows"] for p in prog))

    io_iv = [(s["start"], s["end"]) for s in io]
    waves = [s for s in commits if s["info"].get("jobs", 0) > 1]
    m["dispatch.add_batch_s"] = per_rep(add_batch)
    m["dispatch.waves"] = per_rep(len(waves))
    m["dispatch.jobs_per_wave"] = (
        sum(s["info"]["jobs"] for s in waves) / len(waves) if waves else 0.0)
    m["dispatch.single_job_commits"] = per_rep(len(commits) - len(waves))
    outside_io = [x for x in actions if not x["counters"]
                  and any(ws <= x["start"] <= we for ws, we in drains)
                  and not any(s <= x["start"] <= e for s, e in io_iv)]
    m["dispatch.spark_actions"] = per_rep(len(outside_io))
    m["dispatch.driver_s"] = per_rep(max(0.0, add_batch - union_len(job_iv) / 1e3))

    if res["workload"] != "analytics_mix":
        m["ingest.csv_files"] = res["jobs_per_rep"]
        m["ingest.csv_bytes"] = res["input_bytes_per_rep"]
        m["ingest.csv_rows"] = res["rows_per_rep"]
    m["ingest.csv_scan_actions"] = per_rep(c.get("ingest.csv_scan_actions", 0))
    m["ingest.csv_scan_rows"] = per_rep(c.get("ingest.csv_scan_rows", 0))

    m["pipeline.counters_s"] = per_rep(c.get("pipeline.counters_s", 0))
    for k in ("rows_staged", "issues", "issue_items", "contacts"):
        m["pipeline." + k] = res.get("store_counts", {}).get(k, 0)

    commit_iv = [(s["start"], s["end"]) for s in commits]
    commit_s = sum(e - s for s, e in commit_iv) / 1e3
    stage_s = union_len(clip(job_iv, commit_iv)) / 1e3
    jobs_writes = [s for s in io if s["name"] == "jobs_write"]
    m["io.commit_s"] = per_rep(commit_s)
    m["io.commit_stage_s"] = per_rep(stage_s)
    m["io.commit_swap_s"] = per_rep(max(0.0, commit_s - stage_s))
    m["io.commits"] = per_rep(len(commits))
    m["io.jobs_write_s"] = per_rep(sum(s["end"] - s["start"] for s in jobs_writes) / 1e3)
    m["io.jobs_writes"] = per_rep(len(jobs_writes))
    m["io.load_calls"] = per_rep(c.get("io.load_calls", 0))
    m["io.exists_calls"] = per_rep(c.get("io.exists_calls", 0))
    m["io.write_files"] = per_rep(c.get("io.write_files", 0))
    m["io.store_files"] = statistics.median(res["store_files"])
    m["io.store_bytes"] = statistics.median(res["store_bytes"])

    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "plan_exchanges", "plan_scans", "plan_bhj", "plan_smj"):
        m["spark." + k] = per_rep(c.get("spark." + k, 0))

    lines = [s for s in spans if s["layer"] == "analytics"]
    for fam in ("lm", "lex", "ann", "dedup", "events", "reference"):
        m[f"analytics.{fam}_s"] = per_rep(
            sum(s["end"] - s["start"] for s in lines if s["name"] == fam) / 1e3)
    m["analytics.lines"] = per_rep(len(lines))

    # Share of the measured time the spans attribute to a named layer: the
    # queue's trigger overhead plus every interval covered by a store call,
    # a Spark SQL execution or an analytics line.
    if drains:
        total = sum(e - s for s, e in drains) / 1e3
        covered = union_len(clip(io_iv, drains) + sql_iv) / 1e3
        m["trace.attributed_share"] = min(1.0, (covered + trigger_overhead) / total)
    else:
        total = sum(s["end"] - s["start"] for s in lines) / 1e3
        m["trace.attributed_share"] = (
            total / sum(res["samples"]["elapsed_s"]) if res["samples"]["elapsed_s"] else 0.0)
    traced_e = statistics.median(res["samples"]["elapsed_s"])
    m["trace.elapsed_s"] = traced_e
    m["trace.untraced_elapsed_s"] = untraced_elapsed
    m["trace.overhead_share"] = traced_e / untraced_elapsed - 1.0
    return m
