#!/usr/bin/env python3
"""Pipeline benchmark: the CLI entry points a user runs (`Pipeline.run`,
`Pipeline.curate`, `Pipeline.crawl`), measured end to end and, in a
separate traced run, per module.

    python3 pipebench/run.py --workload etl_drops --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the program and the benchmark's
JVM driver into `.bench_build` (skipped when the sources are unchanged),
generates the workload's inputs from the seed under `.bench_work`, measures
one fresh JVM at `local[nproc]`, checks every output against the
generator's oracle, and prints the metrics; the last stdout line is one
JSON object {correct, attempted, failed, metrics}. It exits 1 when an
output check fails and 2 when it cannot build or run. `--workload all`
runs every workload in BENCHMARK.json in turn.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

HEAP = "3g"
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# warmup: calls after the cold one that are not measured. call_s: what a
# steady call and its read take on the 4-vCPU reference host. A run makes
# round(seconds / call_s) steady calls, at least one (two when traced),
# so --seconds sets how much a run measures while the number of calls,
# and so their positions in the session, stays the same from one commit
# to the next. The timed workloads take no warm-up call: the run budget
# holds only the cold call and the warm calls that follow it (see README).
WORKLOADS = {
    "etl_drops": {"warmup": 0, "call_s": 5.0},
    "crawl_drains": {"warmup": 0, "call_s": 20.0},
    "curate_corpus": {"warmup": 1, "call_s": 4.0},
}
E2E = [("setup_s", "s"), ("cold_call_s", "s"), ("call_s.p50", "s"),
       ("records_per_s", "records/s"), ("read_s.p50", "s"),
       ("retained_heap_mb", "MB"), ("stored_bytes_ratio", "ratio")]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def build(root):
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), ".bench_build"],
                       cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BenchError("build failed (exit %d)" % r.returncode)


def java(root, work, args, traced, timeout):
    cmd = ["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if traced:
        cmd.append("-Dspark.callstack.depth=200")
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    jars = read_text(os.path.join(root, ".bench_build", "spark-jars")).strip()
    cmd += ["-cp", os.path.join(root, ".bench_build", "classes") + os.pathsep +
            os.path.join(jars, "*"), "graft.pipebench.Driver"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "ab") as logf:
        p = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=logf)
        try:
            out, _ = p.communicate(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("JVM timed out")
    if p.returncode != 0:
        raise BenchError("JVM exited %d; see %s" % (p.returncode, os.path.join(work, "jvm.log")))
    return out.decode("utf-8", "replace")


def generate(workload, seed, inputs, n_calls):
    if workload == "etl_drops":
        return gen.gen_etl(seed, inputs, n_calls)
    if workload == "crawl_drains":
        return gen.gen_crawl(seed, inputs, n_calls)
    return gen.gen_curate(seed, inputs)


def per_call_inputs(workload, exp, i):
    """(records, bytes) the i-th call consumes."""
    if workload == "etl_drops":
        b = exp["batches"][i]
        return b["records"], b["bytes"]
    if workload == "crawl_drains":
        d = exp["drops"][i]
        return d["records"], d["bytes"]
    return exp["records"], exp["bytes"]


def check_calls(workload, exp, result):
    """{call index: [mismatch messages]} for every call."""
    calls = result["calls"]
    bad = {c["index"]: [] for c in calls}
    for c in calls:
        i, d = c["index"], c["detail"]
        if not c["ok"] or d.get("status") != "success":
            bad[i].append("status %s: %s" % (d.get("status"), d.get("error")))
        if isinstance(c["read"], dict) and "error" in c["read"]:
            bad[i].append("read failed: %s" % c["read"]["error"])
    if workload == "etl_drops":
        for c in calls:
            i = c["index"]
            want = exp["batches"][i]["rows_loaded"]
            if c["detail"].get("rows_loaded") != want:
                bad[i].append("rows_loaded %s != %d" % (c["detail"].get("rows_loaded"), want))
            if not isinstance(c["read"], list):
                continue
            gold = gen.etl_expected_gold(exp["batches"], i)
            got = {r[0]: r[1:] for r in c["read"]}
            if sorted(got) != sorted(gold):
                bad[i].append("gold days differ")
                continue
            for day, (cnt, qty, cents) in gold.items():
                oc, q, rev = got[day]
                if oc != cnt or q != qty or round(rev * 100) != cents:
                    bad[i].append("gold %s: %s != %s" % (day, [oc, q, rev], [cnt, qty, cents]))
    elif workload == "curate_corpus":
        keys = ["input_docs", "after_quality", "after_exact_dedup", "after_neardup",
                "after_sample", "chunks"]
        first = [calls[0]["detail"].get(k) for k in keys]
        for c in calls:
            d, i = c["detail"], c["index"]
            for k in ("input_docs", "after_exact_dedup"):
                if d.get(k) != exp[k]:
                    bad[i].append("%s %s != %d" % (k, d.get(k), exp[k]))
            if [d.get(k) for k in keys] != first:
                bad[i].append("report differs from the first run's")
            if c["read"].get("chunks") != d.get("chunks"):
                bad[i].append("read %s chunks, report says %s" % (c["read"].get("chunks"),
                                                                  d.get("chunks")))
    elif workload == "crawl_drains":
        drains = result["finish"]["drains"]
        for c in calls:
            i = c["index"]
            if i >= len(drains):
                bad[i].append("no drain ledger row")
                continue
            r, e = drains[i], exp["drops"][i]
            got = {"n_batch": r["n_batch"],
                   "blocked": r["n_batch"] - r["n_after_domain"],
                   "disallowed": r["n_after_domain"] - r["n_after_robots"],
                   "unchanged": r["n_after_url"] - r["n_new_url"]}
            for k, v in got.items():
                if v != e[k]:
                    bad[i].append("drain %d %s %d != %d" % (i, k, v, e[k]))
        leaks = gen.frontier_violations(result["finish"]["frontier"], exp)
        if leaks:
            bad[calls[-1]["index"]].append("frontier holds gated URLs: %s" % leaks[:5])
    return bad


def end_to_end(workload, exp, result, warmup):
    calls = result["calls"]
    steady = [c for c in calls if c["index"] > warmup]
    walls = [c["wall_s"] for c in steady]
    records = sum(per_call_inputs(workload, exp, c["index"])[0] for c in steady)
    if workload == "curate_corpus":
        in_bytes = per_call_inputs(workload, exp, 0)[1]
        stored = statistics.median(c["after"]["stored_bytes"] / in_bytes for c in steady)
    else:
        in_bytes = sum(per_call_inputs(workload, exp, c["index"])[1] for c in calls)
        stored = result["finish"]["stored_bytes"] / in_bytes
    return {
        "setup_s": result["setup_s"],
        "cold_call_s": calls[0]["wall_s"],
        "call_s.p50": statistics.median(walls),
        "records_per_s": records / sum(walls),
        # reads scan everything loaded so far, so only the read after the
        # first steady call (the same volume in every run) counts
        "read_s.p50": steady[0]["read_s"],
        "retained_heap_mb": result["retained_heap_mb"],
        "stored_bytes_ratio": stored,
    }


def per_layer(workload, result, warmup):
    calls = result["calls"]
    steady = [c for c in calls if c["index"] > warmup]
    traced = [c for c in steady if c["traced"]]
    m = layers.layer_metrics(result["trace"], result["spans"], traced)
    # every call of the run, the cold one too, traced or not
    m["pipeline.jobs_growth_per_call"] = layers.slope([c["index"] for c in calls],
                                                      [c["jobs"] for c in calls])
    untraced = [c["wall_s"] for c in steady if not c["traced"]]
    if traced and untraced:
        m["pipeline.trace_overhead_ratio"] = (
            statistics.median(c["wall_s"] for c in traced) / statistics.median(untraced))

    def added(key):
        if workload == "etl_drops":  # cumulative counts under one output dir
            return (steady[-1]["after"][key] - calls[warmup]["after"][key]) / len(steady)
        return statistics.median(c["after"].get(key, 0) for c in steady)
    m["sinks.output_files"] = added("output_files")
    m["meta.ledger_files"] = added("ledger_files")
    if workload == "etl_drops":
        m["operators.rows_kept_ratio"] = (
            sum(c["detail"]["output_rows"] for c in steady) /
            max(sum(c["detail"]["input_rows"] for c in steady), 1))
    elif workload == "curate_corpus":
        d = steady[-1]["detail"]
        m["text.quality_pass_ratio"] = d["after_quality"] / max(d["input_docs"], 1)
        m["dedup.keep_ratio"] = d["after_neardup"] / max(d["after_quality"], 1)
    elif workload == "crawl_drains":
        rows = [result["finish"]["drains"][c["index"]] for c in steady]
        m["sources.gate_pass_ratio"] = (sum(r["n_after_robots"] for r in rows) /
                                        max(sum(r["n_batch"] for r in rows), 1))
        m["dedup.keep_ratio"] = (sum(r["n_survivors"] for r in rows) /
                                 max(sum(r["n_after_robots"] for r in rows), 1))
        m["core.state_bytes"] = statistics.median(c["after"]["state_bytes"] for c in steady)
        m["core.state_files"] = statistics.median(c["after"]["state_files"] for c in steady)
    return m


def unit_of(name):
    for suffix, unit in (("_s", "s"), ("_bytes", "bytes"), ("_ratio", "ratio"),
                         ("_per_call", "jobs/call")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names(root, workload):
    """The per-layer metrics BENCHMARK.json lists when it lists the
    workload; every metric `layers.py` computes otherwise."""
    bench = load_bench(root)
    if workload in [w["name"] for w in bench["workloads"]]:
        return [m["name"] for m in bench["per_layer"]]
    return layers.metric_names()


def load_bench(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def read_text(path):
    with open(path) as f:
        return f.read()


def source_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "none"


def run_workload(root, workload, seed, seconds, trace):
    """One run; the work directory is kept only when the run fails."""
    t_start = time.time()
    cfg = WORKLOADS[workload]
    warmup = cfg["warmup"]
    # a traced run mixes traced and untraced steady calls, so it needs
    # two of them for `pipeline.trace_overhead_ratio`
    n_calls = 1 + warmup + max(2 if trace else 1, round(seconds / cfg["call_s"]))
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".bench_work", "%s-s%d-t%d-%d" % (workload, seed, trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    exp = generate(workload, seed, os.path.join(work, "in"), n_calls)
    result_file = os.path.join(work, "result.json")
    java(root, work, ["--workload", workload, "--inputs", os.path.join(work, "in"),
                      "--work", work, "--result", result_file, "--cpus", str(cpus),
                      "--warmup", str(warmup), "--calls", str(n_calls),
                      "--trace", "1" if trace else "0"], trace,
         DEADLINE_S - (time.time() - t_start))
    result = json.loads(read_text(result_file))
    bad = check_calls(workload, exp, result)
    failed = sum(1 for v in bad.values() if v)
    for i, msgs in sorted(bad.items()):
        for msg in msgs:
            log("check failed: %s call %d: %s" % (workload, i, msg))
    env = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
           "cpus": cpus, "master": "local[%d]" % cpus, "shuffle_partitions": cpus,
           "heap": HEAP, "heap_max_mb": result["heap_max_mb"], "jdk": result["java_version"],
           "spark": result["spark_version"],
           "commit": source_commit(root),
           "source_stamp": read_text(os.path.join(root, ".bench_build", "stamp")).strip(),
           "calls": len(result["calls"]), "warmup_calls": warmup}
    print("env " + json.dumps(env))
    attempted = len(result["calls"])
    print("%-36s %16.6g %s" % ("failed_ratio", failed / attempted, "ratio"))
    if trace:
        values = per_layer(workload, result, warmup)
        run_id = os.path.basename(work)
        with open(os.path.join(root, ".bench_work", "trace-%s.json" % workload), "w") as f:
            json.dump(layers.span_tree(result["trace"], [s for s in result["spans"] if s["traced"]],
                                       run_id), f)
        metrics = {k: {"value": values[k], "unit": unit_of(k)} for k in per_layer_names(root, workload)}
    else:
        e2e = end_to_end(workload, exp, result, warmup)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    for k, v in metrics.items():
        print("%-36s %16.6g %s" % (k, v["value"], v["unit"]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    if failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    return failed == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="|".join(list(WORKLOADS) + ["all"]))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload == "all":
        names = [w["name"] for w in load_bench(root)["workloads"]]
    elif a.workload in WORKLOADS:
        names = [a.workload]
    else:
        ap.error("unknown workload %s" % a.workload)
    try:
        build(root)
        ok = all([run_workload(root, w, a.seed, a.seconds, a.trace == 1) for w in names])
    except BenchError as e:
        log("pipebench: %s" % e)
        return 2
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
