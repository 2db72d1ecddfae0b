"""Per-layer metrics and the traced-run report.

Spans come from the traced JVM's spans.jsonl (name, layer, parent, start,
end, and the Spark task metrics attributed to the span). A span's self time
is its duration minus the part of it its children cover.
"""
import json
import os
import shutil
from collections import defaultdict

# metric -> the end-to-end metric and workload it should move
MOVES = {
    "sources.probe_ms": "deliver_p50_ms, feed_live",
    "sources.reads_per_doc": "deliver_p50_ms, feed_live",
    "streaming.batch_ms": "deliver_p50_ms, feed_live",
    "streaming.batch_p99_ms": "deliver_p99_ms, feed_live",
    "streaming.plan_ms": "deliver_p50_ms, feed_live",
    "streaming.commit_ms": "deliver_p50_ms, feed_live",
    "streaming.sink_ms": "deliver_p50_ms, feed_live",
    "streaming.state_merge_ms": "deliver_p99_ms, feed_live",
    "streaming.state_rows": "deliver_p99_ms, feed_live",
    "streaming.backlog_max_docs": "deliver_p99_ms, feed_live",
    "streaming.docs_per_batch": "context only",
    "cdc.decode_s": "job_s, cdc_batch (and streaming.batch_ms, feed_live)",
    "cdc.keyed_s": "job_s, cdc_batch",
    "cdc.remap_s": "job_s, cdc_batch",
    "cdc.fanout_s": "job_s, cdc_batch",
    "cdc.filter_s": "job_s, cdc_batch",
    "cdc.state_s": "job_s, cdc_batch",
    "cdc.docs": "none (conservation sentinel)",
    "cdc.changes": "none (conservation sentinel)",
    "cdc.malformed": "none (conservation sentinel)",
    "cdc.routed": "none (conservation sentinel)",
    "cdc.delivered": "none (conservation sentinel)",
    "memo.builds": "job_s, cdc_batch",
    "memo.build_s": "job_s, cdc_batch",
    "memo.cached_mb": "memory side of the trade",
    "memo.reads_per_build": "job_s, cdc_batch",
    "ops.similarity_s": "job_s of a batch job running these operators",
    "ops.dedup_s": "job_s of a batch job running these operators",
    "ops.other_s": "job_s of a batch job running these operators",
    "spark.jobs": "job_s, cdc_batch; deliver_p50_ms, feed_live",
    "spark.stages": "job_s, cdc_batch; deliver_p50_ms, feed_live",
    "spark.tasks": "job_s, cdc_batch",
    "spark.idle_share": "job_s, cdc_batch",
    "spark.task_s": "job_s, cdc_batch",
    "spark.gc_s": "job_s, cdc_batch",
    "spark.shuffle_mb": "job_s, cdc_batch",
    "spark.spill_mb": "job_s, cdc_batch",
    "spark.skew": "job_s, cdc_batch",
    "sink.write_s": "job_s",
    "trace.overhead_share": "none (cost of tracing itself)",
}
MEMO_PREFIXES = ["cdc", "dedup"]

# Layers that do no work on a workload, and why their metrics read 0 there.
IDLE = {
    "feed_live": {
        "memo": "the live feed builds no memo frames",
        "ops": "no training-data operators run on the feed",
        "cdc": "decode, remap and fan-out run inside each micro-batch's SQL "
               "executions and are priced by streaming.batch_ms; only the "
               "conservation counters are reported",
    },
    "cdc_batch": {
        "sources": "batch jobs read parquet, not the JDBC feed",
        "streaming": "no micro-batches in a batch job",
        "ops": "no operator of this family in the probe key set",
    },
}


def load_spans(work):
    path = os.path.join(work, "spans.jsonl")
    return [json.loads(l) for l in open(path) if l.strip()]


def self_times(spans):
    """span id -> self time in ms."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        ivs = sorted((max(lo, k["start_ms"]), min(hi, k["end_ms"])) for k in kids[s["id"]])
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


def spark_metrics(sp, cores, wall_s):
    task_s = sp.get("task_ms", 0.0) / 1000.0
    return {
        "spark.jobs": sp.get("jobs", 0.0),
        "spark.stages": sp.get("stages", 0.0),
        "spark.tasks": sp.get("tasks", 0.0),
        "spark.idle_share": 1.0 - task_s / (cores * wall_s) if wall_s > 0 else 0.0,
        "spark.task_s": task_s,
        "spark.gc_s": sp.get("gc_ms", 0.0) / 1000.0,
        "spark.shuffle_mb": sp.get("shuffle_mb", 0.0),
        "spark.spill_mb": sp.get("spill_mb", 0.0),
        "spark.skew": sp.get("skew", 1.0),
    }


def batch_layers(name, cfg, job, base):
    spans = load_spans(job["work"])
    own = self_times(spans)
    t = job["trace"]
    m = spark_metrics(t["spark"], t["cores"], job["job_s"])
    builds = [s for s in spans if s["layer"] == "memo"]
    m["memo.builds"] = len(builds)
    m["memo.build_s"] = sum(own[s["id"]] for s in builds) / 1000.0
    for p in MEMO_PREFIXES + ["other"]:
        m[f"memo.build_s.{p}"] = 0.0
    for s in builds:
        p = s["name"][len("build:"):].split(".")[0]
        m[f"memo.build_s.{p if p in MEMO_PREFIXES else 'other'}"] += own[s["id"]] / 1000.0
    m["memo.cached_mb"] = t["peak_cached_mb"]
    m["memo.reads_per_build"] = t["cached_reads"] / max(1, len(builds))

    def build_self(prefix):
        return sum(own[s["id"]] for s in builds if s["name"].startswith("build:" + prefix)) / 1000.0

    # job queries are layer "query"; operators priced after the job, "ops"
    query_self = {s["name"][len("query:"):]: own[s["id"]] / 1000.0
                  for s in spans if s["layer"] == "query"}
    ops_self = {s["name"][len("query:"):]: own[s["id"]] / 1000.0
                for s in spans if s["layer"] == "ops"}
    groups = cfg["groups"]

    def group_s(g, selfs):
        return sum(v for k, v in selfs.items() if k in groups.get(g, []))
    m["ops.similarity_s"] = group_s("similarity", ops_self)
    m["ops.dedup_s"] = group_s("dedup", ops_self)
    grouped = set(groups.get("similarity", [])) | set(groups.get("dedup", []))
    m["ops.other_s"] = sum(v for k, v in ops_self.items() if k not in grouped)
    c = t["cdc"]
    if c:
        m.update({
            "cdc.decode_s": build_self("cdc.decoded"),
            "cdc.keyed_s": build_self("cdc.routedKeyed"),
            "cdc.remap_s": c["remap_s"], "cdc.fanout_s": c["fanout_s"],
            "cdc.filter_s": group_s("filter", query_self),
            "cdc.state_s": group_s("state", query_self),
            "cdc.docs": c["docs"], "cdc.changes": c["changes"],
            "cdc.malformed": c["malformed"], "cdc.routed": c["routed"],
            "cdc.delivered": c["delivered"],
        })
    m["sink.write_s"] = t["sink_write_s"]
    m["trace.overhead_share"] = overhead(job["job_s"], base, "job_s")
    # the timed job's own layers: builds under the job span, query self
    # time, and the sink probe's price for the job's writes
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s["name"]
    m["_layer_s"] = {
        "memo": sum(own[s["id"]] for s in builds if root(s) == "job") / 1000.0,
        "cdc" if c else "ops": sum(query_self.values()),
        "sink": m["sink.write_s"]}
    m["_overhead"] = ("job_s", job["job_s"], base, "s")
    return m


def overhead(traced, base, key):
    """Traced figure over the median of the untraced runs, minus one; 0 when
    this checkout has no untraced run of the workload yet."""
    vals = sorted(b[key] for b in base)
    if not vals:
        return 0.0
    return traced / vals[len(vals) // 2] - 1.0


def feed_layers(run, base):
    t = run["trace"]
    m = spark_metrics(t["spark"], t["cores"], t["wall_s"])
    m.update({
        "sources.probe_ms": t["probe_ms"],
        "sources.reads_per_doc": t["reads_per_doc"],
        "streaming.batch_ms": t["batch_ms"],
        "streaming.batch_p99_ms": t["batch_p99_ms"],
        "streaming.plan_ms": t["plan_ms"],
        "streaming.commit_ms": t["commit_ms"],
        "streaming.sink_ms": t["sink_ms"],
        "streaming.state_merge_ms": t["state_merge_ms"],
        "streaming.state_rows": t["state_rows"],
        "streaming.backlog_max_docs": t["backlog_max_docs"],
        "streaming.docs_per_batch": t["docs_per_batch"],
        "memo.cached_mb": t["peak_cached_mb"],
        "sink.write_s": t["sink_write_s"],
        "trace.overhead_share": overhead(run["deliver_p50_ms"], base, "deliver_p50_ms"),
    })
    m.update({f"cdc.{k}": v for k, v in t["cdc"].items()})
    spans = load_spans(run["work"])
    own = self_times(spans)
    by_layer = defaultdict(float)
    for s in spans:
        if not s["name"].startswith("trigger:"):
            by_layer[s["layer"]] += own[s["id"]] / 1000.0
    m["_layer_s"] = dict(by_layer)
    m["_overhead"] = ("deliver_p50_ms", run["deliver_p50_ms"], base, "ms")
    return m


def write_report(workload, m, names, work, out_dir):
    """Span file plus a markdown table of every per-layer metric in `names`,
    the dominant layer and the tracing overhead; the table is also printed."""
    os.makedirs(out_dir, exist_ok=True)
    shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(out_dir, "spans.jsonl"))
    layer_s = m["_layer_s"]
    dominant = max(layer_s, key=layer_s.get) if layer_s else "none"
    idle = IDLE[workload]
    lines = [f"# Traced run: {workload}", ""]
    key, traced, base, unit = m["_overhead"]
    if base:
        med = sorted(b[key] for b in base)[len(base) // 2]
        lines.append(f"Tracing overhead: {key} {traced:.3f} {unit} traced vs {med:.3f} {unit}, "
                     f"the median of this checkout's {len(base)} untraced runs "
                     f"({m['trace.overhead_share']:+.1%}).")
    else:
        lines.append("Tracing overhead: not priced; this checkout has no untraced run "
                     "of the workload yet (trace.overhead_share reads 0).")
    lines.append("Self time by layer (s): " + ", ".join(
        f"{k} {v:.3f}" for k, v in sorted(layer_s.items(), key=lambda kv: -kv[1])))
    lines.append(f"Dominant layer: **{dominant}**.")
    if workload == "feed_live":
        lines.append(f"sources.reads_per_doc = {m['sources.reads_per_doc']:.3f} (3.0 when each "
                     "of foreachBatch's three actions re-reads and re-decodes the "
                     "un-persisted batch).")
    lines += ["", "| metric | value | moves | note |", "|---|---|---|---|"]
    for name in names:
        v = m.get(name, 0.0)
        note = "" if v else idle.get(name.split(".")[0], "no work of this kind on this run")
        moves = MOVES.get(name, MOVES.get(name.rsplit(".", 1)[0], ""))
        lines.append(f"| {name} | {v:.6g} | {moves} | {note} |")
    text = "\n".join(lines) + "\n"
    with open(os.path.join(out_dir, "report.md"), "w") as f:
        f.write(text)
    print(text)
    print(f"trace report: {os.path.relpath(out_dir)}/report.md, spans: "
          f"{os.path.relpath(out_dir)}/spans.jsonl")
