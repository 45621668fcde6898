"""Per-layer attribution of a traced run.

A Spark job belongs to a layer (a `graft.<module>` package, or
`pipeline` for `graft.Pipeline`) by this rule, applied in order:

1. the job's SQL execution (its `spark.sql.execution.id` property) gives
   the call site when the job has one;
2. the layer is the innermost `graft.` frame of that call site, skipping
   `graft.core` and the benchmark's own `graft.pipebench`;
3. a job with no execution, or whose execution's call site has no such
   frame, takes it from its own result-stage call site instead (an RDD
   job run inside `foreachBatch` inherits the micro-batch's execution id,
   whose call site is all Spark);
4. a job with no such frame at all belongs to the layer of the benchmark
   span (a public call or a consumer read) it started in.

Self time of a span is its length minus the union of its jobs' intervals
(the driver gap); a layer's busy time is the union of its jobs' intervals.
"""

LAYERS = ["pipeline", "sources", "operators", "sinks", "gold", "meta",
          "dedup", "text", "streaming"]
SKIPPED = {"core", "pipebench"}
PER_LAYER = ["jobs", "tasks", "busy_s", "exec_cpu_s", "gc_s", "input_bytes",
             "shuffle_write_bytes", "spill_bytes", "output_bytes", "exchanges",
             "sort_merge_joins"]
EXTRAS = ["pipeline.driver_gap_s", "gold.driver_gap_s",
          "pipeline.jobs_growth_per_call", "core.state_bytes", "core.state_files",
          "sinks.output_files", "meta.ledger_files", "sources.gate_pass_ratio",
          "dedup.keep_ratio", "text.quality_pass_ratio", "operators.rows_kept_ratio",
          "pipeline.trace_overhead_ratio"]


def metric_names():
    return ["%s.%s" % (l, m) for l in LAYERS for m in PER_LAYER] + EXTRAS


def module_of(frame):
    """`graft.sinks.Writers$.load(Writers.scala:65)` -> `sinks`;
    `graft.Pipeline$.run(...)` -> `pipeline`."""
    parts = frame.split("(", 1)[0].split(".")
    if len(parts) < 3 or parts[0] != "graft":
        return None
    if len(parts) >= 4 and parts[1][:1].islower():
        return parts[1]
    return parts[1].split("$", 1)[0].lower()


def layer_of_frames(frames):
    for f in frames:
        m = module_of(f)
        if m is not None and m not in SKIPPED:
            return m
    return None


def union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def span_of(job, spans):
    for sp in spans:
        if sp["start_ms"] <= job["start_ms"] <= sp["end_ms"]:
            return sp
    return None


def job_end(job, span):
    """A job still running when the trace was written ends with its span."""
    return job["end_ms"] if job["end_ms"] >= 0 else span["end_ms"]


def attribute(trace, spans):
    """[(job, layer, span)] for every recorded job that started in a span."""
    execs = {e["id"]: e for e in trace.get("execs", [])}
    out = []
    for job in trace.get("jobs", []):
        sp = span_of(job, spans)
        if sp is None:
            continue
        ex = execs.get(job["exec_id"])
        layer = ((ex is not None and layer_of_frames(ex["frames"])) or
                 layer_of_frames(job["frames"]) or sp["layer"])
        out.append((job, layer, sp))
    return out


def slope(xs, ys):
    if len(xs) < 2:
        return 0.0
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def layer_metrics(trace, spans, calls):
    """Per-layer metrics averaged over the traced steady calls named in
    `calls` (their call and read spans). Returns {name: value}."""
    idx = {c["index"] for c in calls}
    spans = [s for s in spans if s["traced"] and s["call"] in idx]
    n = max(len(idx), 1)
    jobs = attribute(trace, spans)
    execs = {e["id"]: e for e in trace.get("execs", [])}
    m = {name: 0.0 for name in metric_names()}
    intervals = {l: [] for l in LAYERS}
    exec_layer = {}
    for job, layer, sp in jobs:
        if layer not in intervals:
            continue
        intervals[layer].append((job["start_ms"], job_end(job, sp)))
        m[layer + ".jobs"] += 1
        m[layer + ".tasks"] += job["tasks"]
        m[layer + ".exec_cpu_s"] += job["cpu_ns"] / 1e9
        m[layer + ".gc_s"] += job["gc_ms"] / 1e3
        for k in ("input_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes"):
            m["%s.%s" % (layer, k)] += job[k]
        if job["exec_id"] in execs:
            exec_layer.setdefault(job["exec_id"], layer)
    for eid, layer in exec_layer.items():
        m[layer + ".exchanges"] += execs[eid]["exchanges"]
        m[layer + ".sort_merge_joins"] += execs[eid]["sort_merge_joins"]
    for l in LAYERS:
        m[l + ".busy_s"] = union_ms(intervals[l]) / 1e3
    for name in list(m):
        m[name] /= n

    tree = span_tree(trace, spans, None)

    def gap(kind, layer):
        sel = [s["self_ms"] / 1e3 for s in tree if s["name"] == kind and s["layer"] == layer]
        return sum(sel) / len(sel) if sel else 0.0

    m["pipeline.driver_gap_s"] = gap("call", "pipeline")
    m["gold.driver_gap_s"] = gap("read", "gold")
    return m


def span_tree(trace, spans, run_id):
    """The traced spans with their jobs as child spans named by layer, and
    each span's self time; every span carries `run_id`."""
    jobs = attribute(trace, spans)
    tree = []
    for sp in spans:
        kids = [{"run_id": run_id, "name": layer, "job": j["id"], "start_ms": j["start_ms"],
                 "end_ms": job_end(j, sp)} for j, layer, s in jobs if s is sp]
        tree.append(dict(sp, run_id=run_id, children=kids, self_ms=(
            sp["end_ms"] - sp["start_ms"] - union_ms([(k["start_ms"], k["end_ms"]) for k in kids]))))
    return tree
