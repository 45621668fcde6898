"""The benchmark's own tests: generator determinism, the oracles on tiny
seeds, the layer-attribution rule on synthetic listener events, and the
steadiness check. Pure Python, no JVM:

    python3 -m unittest discover -s pipebench/tests
"""

import csv
import hashlib
import json
import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(read(p, "rb"))
    return h.hexdigest()


def generate(kind, seed, root):
    if kind == "etl":
        return gen.gen_etl(seed, root, 2, files=3, rows=30)
    if kind == "crawl":
        return gen.gen_crawl(seed, root, 3, pages=40)
    return gen.gen_curate(seed, root, docs=200, shards=2)


def read(path, mode="r"):
    with open(path, mode) as f:
        return f.read()


def warc_records(path):
    """(uri, http status, body) of every record in a WARC file."""
    data = read(path, "rb")
    out, pos = [], 0
    while pos < len(data):
        head_end = data.index(b"\r\n\r\n", pos)
        head = data[pos:head_end].decode()
        n = int(re.search(r"Content-Length: (\d+)", head).group(1))
        uri = re.search(r"WARC-Target-URI: (\S+)", head).group(1)
        payload = data[head_end + 4:head_end + 4 + n]
        http_head, _, body = payload.partition(b"\r\n\r\n")
        out.append((uri, int(http_head.split(b" ")[1]), body.decode()))
        pos = head_end + 4 + n + 4
    return out


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for kind in ("etl", "crawl", "curate"):
            with tempfile.TemporaryDirectory() as t:
                a, b, c = (os.path.join(t, x) for x in "abc")
                ea, eb = generate(kind, 7, a), generate(kind, 7, b)
                generate(kind, 8, c)
                self.assertEqual(tree_digest(a), tree_digest(b), kind)
                self.assertNotEqual(tree_digest(a), tree_digest(c), kind)
                strip = lambda e: json.dumps(e, sort_keys=True).replace(a, "").replace(b, "")  # noqa: E731
                self.assertEqual(strip(ea), strip(eb), kind)


class EtlOracle(unittest.TestCase):
    def test_expected_rows_and_gold_follow_from_the_files(self):
        with tempfile.TemporaryDirectory() as t:
            exp = generate("etl", 3, t)
            gold = {}
            for bi, b in enumerate(exp["batches"]):
                kept = 0
                for f in sorted(os.listdir(b["dir"])):
                    p = os.path.join(b["dir"], f)
                    if f.endswith(".csv"):
                        rows = [{k: (v if v != "" else None) for k, v in r.items()}
                                for r in csv.DictReader(read(p).splitlines())]
                    else:
                        rows = [json.loads(line) for line in read(p).splitlines()]
                    seen = set()
                    for r in rows:
                        key = tuple(r.values())
                        if None in key or key in seen:
                            continue
                        seen.add(key)
                        kept += 1
                        day = str(r["Order Date"])[:10]
                        cents = round(float(r[" Unit Price "]) * 100)
                        g = gold.setdefault(day, [0, 0, 0])
                        q = int(r["QUANTITY"])
                        g[0], g[1], g[2] = g[0] + 1, g[1] + q, g[2] + q * cents
                self.assertEqual(kept, b["rows_loaded"])
                self.assertEqual(gen.etl_expected_gold(exp["batches"], bi), gold)
            self.assertIn("Coupon Code", read(os.path.join(exp["batches"][1]["dir"],
                                                           "part-00.csv")).splitlines()[0])

    def synthetic_result(self, exp):
        calls = []
        for i, b in enumerate(exp["batches"]):
            gold = gen.etl_expected_gold(exp["batches"], i)
            calls.append({"index": i, "ok": True, "wall_s": 1.0, "read_s": 0.1,
                          "detail": {"status": "success", "rows_loaded": b["rows_loaded"]},
                          "read": [[d, c, q, r / 100.0] for d, (c, q, r) in gold.items()]})
        return {"calls": calls}

    def test_check_passes_matching_outputs_and_flags_a_cent(self):
        with tempfile.TemporaryDirectory() as t:
            exp = generate("etl", 3, t)
            result = self.synthetic_result(exp)
            self.assertFalse(any(run.check_calls("etl_drops", exp, result).values()))
            result["calls"][1]["read"][0][3] += 0.01
            bad = run.check_calls("etl_drops", exp, result)
            self.assertFalse(bad[0])
            self.assertTrue(bad[1])


class CrawlOracle(unittest.TestCase):
    def test_planted_counts_follow_from_the_shards(self):
        with tempfile.TemporaryDirectory() as t:
            exp = generate("crawl", 4, os.path.join(t, "c"))
            ingested = {}
            for d, want in enumerate(exp["drops"]):
                recs = warc_records(os.path.join(exp["stage"], "shard-%05d.warc" % d))
                got = {"n_batch": 0, "blocked": 0, "disallowed": 0, "unchanged": 0}
                for uri, status, body in recs:
                    if status != 200 or uri.endswith("/robots.txt"):
                        continue
                    got["n_batch"] += 1
                    if gen.frontier_violations([uri], exp):
                        host = uri.split("/")[2]
                        got["blocked" if host.endswith(gen.BLOCKED_DOMAIN) else "disallowed"] += 1
                    elif ingested.get(uri) == body:
                        got["unchanged"] += 1
                    else:
                        ingested[uri] = body
                self.assertEqual(got, {k: want[k] for k in got}, "drop %d" % d)
                self.assertEqual(len(recs), want["records"])
            self.assertGreater(sum(e["unchanged"] for e in exp["drops"]), 0)

    def test_frontier_gate_check(self):
        exp = {"blocked_domain": "tracker.net", "disallowed": {"a.org": "/private"}}
        self.assertEqual(gen.frontier_violations(
            ["http://ads.tracker.net/x", "http://a.org/private/1", "http://a.org/ok",
             "http://b.org/private/1"], exp),
            ["http://ads.tracker.net/x", "http://a.org/private/1"])


class CurateOracle(unittest.TestCase):
    def test_planted_counts_follow_from_the_corpus(self):
        with tempfile.TemporaryDirectory() as t:
            exp = generate("curate", 5, os.path.join(t, "c"))
            texts = []
            for f in sorted(os.listdir(exp["dir"])):
                for _, _, body in warc_records(os.path.join(exp["dir"], f)):
                    texts.append(re.search(r"<p>(.*)</p>", body).group(1))
            good = [x for x in texts if x not in gen.JUNK]
            self.assertEqual(len(texts), exp["input_docs"])
            self.assertEqual(len(good), exp["after_quality"])
            self.assertEqual(len(set(good)), exp["after_exact_dedup"])
            self.assertLess(exp["after_exact_dedup"], exp["after_quality"])

    def test_check_flags_a_report_that_changes_between_runs(self):
        exp = {"input_docs": 10, "after_exact_dedup": 8}
        detail = {"status": "success", "input_docs": 10, "after_quality": 9,
                  "after_exact_dedup": 8, "after_neardup": 7, "after_sample": 7, "chunks": 7}
        calls = [{"index": i, "ok": True, "detail": dict(detail), "read": {"chunks": 7}}
                 for i in range(3)]
        calls[2]["detail"]["after_neardup"] = 6
        bad = run.check_calls("curate_corpus", exp, {"calls": calls})
        self.assertEqual([bool(bad[i]) for i in range(3)], [False, False, True])


def span(name, layer, call, start, end):
    return {"name": name, "layer": layer, "call": call, "start_ms": start,
            "end_ms": end, "traced": True}


def job(jid, start, end, exec_id, frames, **kw):
    j = {"id": jid, "start_ms": start, "end_ms": end, "exec_id": exec_id,
         "frames": frames, "tasks": 4, "cpu_ns": 10 ** 9, "gc_ms": 10,
         "input_bytes": 100, "shuffle_write_bytes": 0, "spill_bytes": 0,
         "output_bytes": 0}
    j.update(kw)
    return j


class Attribution(unittest.TestCase):
    def test_module_of_frames(self):
        self.assertEqual(layers.module_of("graft.sinks.Writers$.load(Writers.scala:65)"), "sinks")
        self.assertEqual(layers.module_of("graft.Pipeline$.$anonfun$crawl$5(Pipeline.scala:9)"),
                         "pipeline")
        self.assertEqual(layers.module_of("graft.meta.JobLedger.append(JobLedger.scala:1)"), "meta")
        self.assertIsNone(layers.module_of("org.apache.spark.sql.Dataset.count(Dataset.scala:1)"))

    def trace(self):
        spans = [span("call", "pipeline", 2, 1000, 2000), span("read", "gold", 2, 2000, 2500)]
        execs = [
            {"id": 7, "frames": ["graft.operators.Stages$.validate(Stages.scala:184)",
                                 "graft.Pipeline$.run(Pipeline.scala:68)"],
             "exchanges": 2, "sort_merge_joins": 1},
            {"id": 8, "frames": ["graft.pipebench.Driver$EtlDrops.read(Driver.scala:120)"],
             "exchanges": 1, "sort_merge_joins": 0},
            {"id": 9, "frames": [], "exchanges": 0, "sort_merge_joins": 0},
        ]
        jobs = [
            # an AQE stage job: no graft frame of its own, only its execution's
            job(1, 1100, 1300, 7, []),
            job(2, 1200, 1400, 7, []),
            # no execution: its own call site, skipping graft.core
            job(3, 1500, 1600, -1, ["graft.core.Durable$.materialize(Durable.scala:3)",
                                    "graft.sinks.Writers$.load(Writers.scala:65)"]),
            # an RDD job inside foreachBatch: its execution (the micro-batch)
            # has no graft frame, so its own call site decides
            job(6, 1700, 1800, 9, ["graft.dedup.UrlSeenSet$.load(UrlSeenSet.scala:40)",
                                   "graft.Pipeline$.$anonfun$crawl$12(Pipeline.scala:790)"]),
            # only benchmark frames: the enclosing span's layer
            job(4, 2100, 2300, 8, ["graft.pipebench.Driver$EtlDrops.read(Driver.scala:120)"]),
            # outside every span (set-up, checks): not counted
            job(5, 3000, 3100, -1, ["graft.sources.Readers$.batch(Readers.scala:1)"]),
        ]
        return {"jobs": jobs, "execs": execs}, spans

    def test_rule(self):
        trace, spans = self.trace()
        got = {j["id"]: l for j, l, _ in layers.attribute(trace, spans)}
        self.assertEqual(got, {1: "operators", 2: "operators", 3: "sinks", 6: "dedup",
                               4: "gold"})

    def test_layer_metrics(self):
        trace, spans = self.trace()
        m = layers.layer_metrics(trace, spans, [{"index": 2}])
        self.assertEqual(m["operators.jobs"], 2)
        self.assertAlmostEqual(m["operators.busy_s"], 0.3)       # union of 1100-1300, 1200-1400
        self.assertEqual(m["operators.exchanges"], 2)            # execution 7 counted once
        self.assertEqual(m["operators.sort_merge_joins"], 1)
        self.assertEqual(m["sinks.tasks"], 4)
        self.assertEqual(m["gold.exchanges"], 1)
        self.assertEqual(m["dedup.jobs"], 1)
        self.assertAlmostEqual(m["pipeline.driver_gap_s"], 1.0 - 0.5)
        self.assertAlmostEqual(m["gold.driver_gap_s"], 0.5 - 0.2)
        self.assertEqual(len(layers.metric_names()), 111)

    def test_span_tree_self_time(self):
        trace, spans = self.trace()
        tree = layers.span_tree(trace, spans, "r1")
        self.assertEqual([len(s["children"]) for s in tree], [4, 1])
        self.assertEqual(tree[0]["self_ms"], 1000 - 500)
        self.assertEqual({c["name"] for c in tree[0]["children"]},
                         {"operators", "sinks", "dedup"})
        self.assertTrue(all(c["run_id"] == "r1" for s in tree for c in s["children"]))

    def test_union_and_slope(self):
        self.assertEqual(layers.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertAlmostEqual(layers.slope([1, 2, 3], [10, 12, 14]), 2.0)


class BenchmarkFile(unittest.TestCase):
    def test_benchmark_json_names_what_the_runner_prints(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..",
                            "BENCHMARK.json")
        b = json.loads(read(path))
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(all(w["name"] in run.WORKLOADS and len(w["why"]) <= 200
                            for w in b["workloads"]))
        self.assertEqual([m["name"] for m in b["end_to_end"]], [n for n, _ in run.E2E])
        self.assertEqual([m["unit"] for m in b["end_to_end"]], [u for _, u in run.E2E])
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))
        self.assertEqual(max(b["end_to_end"], key=lambda m: m["bound"])["bound"],
                         next(m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s"))
        names = [m["name"] for m in b["per_layer"]]
        self.assertTrue(set(names) <= set(layers.metric_names()))
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(m["unit"] == run.unit_of(m["name"]) for m in b["per_layer"]))
        # no listed workload drives `text`; every other computed metric is listed
        self.assertEqual(sorted(set(layers.metric_names()) - set(names)),
                         sorted(n for n in layers.metric_names() if n.startswith("text.")))


class Steadiness(unittest.TestCase):
    def test_spread_is_quartile_distance_over_median(self):
        self.assertAlmostEqual(steady.spread(list(range(1, 11))), 1.0)
        self.assertEqual(steady.spread([5.0] * 10), 0.0)

    def test_verdict(self):
        values = {"setup_s": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10],
                  "call_s.p50": [1.0, 1.01, 0.99, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0, 1.0],
                  "read_s.p50": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]}
        v = steady.verdict(values, {"setup_s": 0.25, "call_s.p50": 0.1, "read_s.p50": 0.2})
        self.assertFalse(v["setup_s"]["within"])
        self.assertTrue(v["call_s.p50"]["within"] and v["call_s.p50"]["steady"])
        self.assertFalse(v["read_s.p50"]["within"])

    def test_disagree_is_two_sided(self):
        self.assertTrue(steady.disagree([1.0] * 3, [1.3] * 3, 0.2))
        self.assertTrue(steady.disagree([1.0] * 3, [0.7] * 3, 0.2))
        self.assertFalse(steady.disagree([1.0] * 3, [1.1] * 3, 0.2))
        self.assertFalse(steady.disagree([1.0] * 3, [0.9] * 3, 0.2))


if __name__ == "__main__":
    unittest.main()
