"""Spans and per-layer metrics of a traced run.

The JVM side records harness spans (workload, pass, operation, and each
operation's construct / plan / action phases) and, from a SparkListener
keyed by one job group per operation, every job and stage. This module joins
them into one span tree and computes each layer's figures from it.

A span's self time is its duration minus the part of its interval that its
children cover (overlapping children are counted once).
"""
import statistics


def union_length(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, each clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """Duration of `span` not covered by any of `children`."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def percentile(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, -(-q * len(xs) // 100) - 1))
    return xs[int(k)]


def build_tree(rec):
    """All spans of a run record: the harness spans plus one span per traced
    job (child of the phase it started in) and per stage (child of the job
    that ran it). Returns (spans, children-by-parent-id)."""
    spans = [dict(s) for s in rec["spans"]]
    phases_by_op = {}
    for s in spans:
        if s["kind"] == "phase":
            phases_by_op.setdefault(s["op"], []).append(s)
    next_id = max([s["id"] for s in spans] + [0]) + 1
    job_span = {}
    for j in rec["jobs"]:
        end = j["end"] if j["end"] >= 0 else j["start"]
        parent = j["op"]
        for p in phases_by_op.get(j["op"], []):
            if p["start"] <= j["start"] <= p["end"]:
                parent = p["id"]
        s = {"id": next_id, "op": j["op"], "parent": parent, "kind": "job",
             "name": f"job{j['id']}", "start": j["start"], "end": end,
             "job": j["id"]}
        next_id += 1
        spans.append(s)
        job_span[j["id"]] = (s, j)
    for st in rec["stages"]:
        owners = [(s, j) for s, j in job_span.values()
                  if st["id"] in j["stage_ids"] and j["start"] <= st["start"]]
        if not owners:
            continue
        js, _ = max(owners, key=lambda sj: sj[1]["start"])
        s = {"id": next_id, "op": js["op"], "parent": js["id"],
             "kind": "stage", "name": f"stage{st['id']}.{st['attempt']}",
             "start": st["start"], "end": st["end"], "stage": st}
        next_id += 1
        spans.append(s)
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return spans, children


def metric(out, name, value, unit):
    out[name] = {"value": value, "unit": unit}


def layer_metrics(rec, kernels, warm_names, sweep_names):
    """Per-layer metrics of a traced run record, averaged per traced pass
    where the layer works every pass. `kernels`, `warm_names` and
    `sweep_names` list every metric that must appear even when a workload
    does not reach that layer (it then reads 0)."""
    spans, children = build_tree(rec)
    traced = [p["index"] for p in rec["passes"] if p["traced"]]
    ops = {o["id"]: o for o in rec["ops"]}
    n = max(1, len(traced))

    def in_passes(s):
        o = ops.get(s["op"])
        return o is not None and o["pass"] in traced

    def op_kind(s):
        o = ops.get(s["op"])
        return o["kind"] if o else None

    def ops_of(kind, name=None):
        return [o for o in rec["ops"] if o["pass"] in traced
                and o["kind"] == kind and (name is None or o["name"] == name)]

    out = {}
    phases = [s for s in spans if s["kind"] == "phase" and in_passes(s)]
    jobs = [s for s in spans if s["kind"] == "job" and in_passes(s)]
    stages = [s for s in spans if s["kind"] == "stage" and in_passes(s)]

    construct = [p for p in phases if p["name"] == "construct"]
    metric(out, "entry.construct_s",
            sum(p["end"] - p["start"] for p in construct) / 1e3 / n, "s")
    metric(out, "entry.construct_self_s",
            sum(self_time(p, children.get(p["id"], [])) for p in construct)
            / 1e3 / n, "s")
    metric(out, "entry.construct_jobs",
            sum(len(children.get(p["id"], [])) for p in construct) / n,
            "count")
    metric(out, "planner.plan_s",
            sum(p["end"] - p["start"] for p in phases if p["name"] == "plan")
            / 1e3 / n, "s")

    stage_list = [s["stage"] for s in stages]
    # A job's stage that did not run under that job was skipped: its output
    # already existed (shuffle reuse).
    job_stages = {j["id"]: j["stage_ids"] for j in rec["jobs"]}
    skipped = sum(len(job_stages[s["job"]]) - len(children.get(s["id"], []))
                  for s in jobs)
    metric(out, "scheduler.jobs", len(jobs) / n, "count")
    metric(out, "scheduler.stages", len(stages) / n, "count")
    metric(out, "scheduler.stages_skipped", skipped / n, "count")
    metric(out, "scheduler.tasks", sum(st["tasks"] for st in stage_list) / n,
            "count")
    metric(out, "scheduler.stage_wall_p50_ms",
            statistics.median([s["end"] - s["start"] for s in stages])
            if stages else 0.0, "ms")
    idle = 0.0
    for p in phases:
        if p["name"] != "action":
            continue
        inner = [st for j in children.get(p["id"], [])
                 for st in children.get(j["id"], [])]
        idle += self_time(p, inner)
    metric(out, "scheduler.idle_s", idle / 1e3 / n, "s")

    pass_s = [p["s"] for p in rec["passes"] if p["traced"]]
    run_s = sum(st["run_ms"] for st in stage_list) / 1e3 / n
    metric(out, "operators.task_run_s", run_s, "s")
    metric(out, "operators.task_cpu_s",
            sum(st["cpu_ns"] for st in stage_list) / 1e9 / n, "s")
    metric(out, "operators.gc_s",
            sum(st["gc_ms"] for st in stage_list) / 1e3 / n, "s")
    metric(out, "operators.core_util",
            run_s / (rec["cores"] * statistics.median(pass_s))
            if pass_s else 0.0, "ratio")
    mb = 1024.0 * 1024.0
    for key, name in [("input_b", "input_mb"),
                      ("shuffle_read_b", "shuffle_read_mb"),
                      ("shuffle_write_b", "shuffle_write_mb"),
                      ("spill_b", "spill_mb")]:
        metric(out, f"operators.{name}",
                sum(st[key] for st in stage_list) / mb / n, "MB")
    skews = [st["task_max_ms"] / max(st["task_med_ms"], 1)
             for st in stage_list if st["tasks"] >= 2]
    metric(out, "operators.skew_p90",
            percentile(skews, 90) if skews else 0.0, "ratio")

    got = dict((k["name"], k["ns_per_row"]) for k in rec["kernels"])
    for k in kernels:
        metric(out, f"functions.{k}.ns_per_row", got.get(k, 0.0), "ns/row")

    warm = {o["name"]: o["ms"] for o in rec["ops"] if o["kind"] == "warm"}
    for w in warm_names:
        metric(out, f"artifacts.warm.{w}_s",
                warm.get(f"artifact:warm:{w}", 0.0) / 1e3, "s")
    for w in sweep_names:
        metric(out, f"artifacts.sweep.{w}_s",
                sum(o["ms"] for o in ops_of("sweep", f"artifact:{w}"))
                / 1e3 / n, "s")
    # The warm tier is built once per process, the sweeps once per pass.
    metric(out, "artifacts.stages",
            sum(1 for s in spans if s["kind"] == "stage"
                and op_kind(s) == "warm")
            + sum(1 for s in stages if op_kind(s) == "sweep") / n, "count")
    metric(out, "artifacts.shuffle_write_mb",
            sum(s["stage"]["shuffle_write_b"] for s in spans
                if s["kind"] == "stage" and op_kind(s) == "warm") / mb
            + sum(s["stage"]["shuffle_write_b"] for s in stages
                  if op_kind(s) == "sweep") / mb / n, "MB")

    def op_s(kind, name=None):
        return sum(o["ms"] for o in ops_of(kind, name)) / 1e3 / n

    for stage in ("population", "crime", "immigration"):
        metric(out, f"etlflow.{stage}_s", op_s("transform", stage), "s")
    metric(out, "sources.extract_s", op_s("extract"), "s")
    metric(out, "sources.load_s", op_s("load"), "s")
    metric(out, "sources.reload_s", op_s("reload"), "s")
    metric(out, "sources.cdc_s", op_s("cdc"), "s")
    metric(out, "sources.compact_s", op_s("compact"), "s")
    etl = [e for e in rec.get("etl", []) if e["pass"] in traced]

    def etl_mean(key):
        return sum(e[key] for e in etl) / len(etl) if etl else 0.0

    metric(out, "sources.files_written", etl_mean("files_written"), "count")
    metric(out, "sources.bytes_written", etl_mean("bytes_written"), "bytes")
    metric(out, "sources.rows_kept_ratio", etl_mean("rows_kept_ratio"),
            "ratio")
    metric(out, "sources.rows_per_s", etl_mean("rows_per_s"), "rows/s")
    metric(out, "sources.bytes_per_row", etl_mean("bytes_per_row"), "bytes")
    readback = [o["ms"] for o in ops_of("readback")]
    metric(out, "sources.readback_p50_ms",
            statistics.median(readback) if readback else 0.0, "ms")

    metric(out, "process.cold_setup_s", rec["setup_s"][0], "s")
    metric(out, "process.ready_s", rec["ready_s"], "s")
    metric(out, "process.first_pass_s",
            sum(p["s"] for p in rec["passes"] if p["index"] == 1), "s")
    metric(out, "process.rss_peak_mb", rec["rss_peak_mb"], "MB")
    untraced = [p["s"] for p in rec["passes"]
                if not p["traced"] and p["index"] > 1]
    metric(out, "trace.overhead_ratio",
            statistics.median(pass_s) / statistics.median(untraced)
            if pass_s and untraced else 0.0, "ratio")
    return out
