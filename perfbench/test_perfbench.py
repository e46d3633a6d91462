"""Tests of the benchmark itself: generators, checkers and metric names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import re
import tempfile
import unittest

import checks
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def digest(lines):
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_trip_log_is_deterministic(self):
        a, ma = gen.trip_log(7, 3000)
        b, mb = gen.trip_log(7, 3000)
        c, _ = gen.trip_log(8, 3000)
        self.assertEqual(digest(a), digest(b))
        self.assertEqual(ma, mb)
        self.assertNotEqual(digest(a), digest(c))

    def test_trip_log_shape(self):
        lines, malformed = gen.trip_log(3, 5000)
        self.assertEqual(len(lines), 5000)
        parsed = [checks.parse_trip_line(line) for line in lines]
        self.assertEqual({i for i, p in enumerate(parsed) if p is None}, set(malformed))
        types = {p[2] for p in parsed if p}
        self.assertEqual(types, {"TripStart", "TripData", "TripEvent", "TripEnd"})
        # Arrival order is event time plus at most 3 s of delay.
        latest = {}
        for p in parsed:
            if p and p[2] == "TripData":
                self.assertGreater(p[1], latest.get(p[0], -10) - 4)
                latest[p[0]] = max(latest.get(p[0], -10), p[1])

    def test_corpus_is_deterministic(self):
        params = dict(gen.CORPUS_PARAMS, docs=300)
        a = gen.corpus(5, params)
        b = gen.corpus(5, params)
        c = gen.corpus(6, params)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        docs, families = a
        self.assertEqual([d[0] for d in docs], list(range(300)))
        clones = sum(1 for d in docs if d[2])
        self.assertEqual(clones, int(300 * params["clone_share"]))
        self.assertEqual(sorted(i for f in families for i in f), list(range(300)))


class TripCheckTest(unittest.TestCase):
    def setUp(self):
        self.lines, self.malformed = gen.trip_log(11, 4000)
        _, self.expected = checks.trip_rows(self.lines, 250)
        self.bad = len(self.malformed)

    def test_engine_rows_pass(self):
        r = checks.check_trips(self.lines, 250, dict(self.expected), self.bad, self.bad)
        self.assertEqual(r["failed"], 0)

    def test_planted_wrong_row_is_caught(self):
        sink = dict(self.expected)
        trip = sorted(sink)[3]
        n, start, end, stopped, km = sink[trip]
        sink[trip] = (n, start, end, stopped, km + 0.5)
        r = checks.check_trips(self.lines, 250, sink, self.bad, self.bad)
        self.assertEqual((r["wrong"], r["failed"]), (1, 1))

    def test_retention_split_is_told_apart_from_a_wrong_row(self):
        per = checks.trip_batches(self.lines, 250)
        trip = next(t for t in sorted(self.expected) if len(per[t]) >= 3)
        sink = dict(self.expected)
        sink[trip] = checks.batched_fold(per[trip], sorted(per[trip])[1])
        r = checks.check_trips(self.lines, 250, sink, self.bad, self.bad)
        self.assertEqual((r["split"], r["wrong"], r["failed"]), (1, 0, 0))
        n, start, end, stopped, km = sink[trip]
        sink[trip] = (n + 1, start, end, stopped, km)
        r = checks.check_trips(self.lines, 250, sink, self.bad, self.bad)
        self.assertEqual((r["split"], r["wrong"], r["failed"]), (0, 1, 1))

    def test_missing_extra_and_malformed_are_caught(self):
        sink = dict(self.expected)
        del sink[sorted(sink)[0]]
        sink[10 ** 9] = (1, 0, 0, 0, 0.0)
        r = checks.check_trips(self.lines, 250, sink, self.bad, self.bad + 1)
        self.assertEqual((r["missing"], r["extra"], r["malformed_mismatch"]), (1, 1, 1))
        self.assertEqual(r["failed"], 3)

    def test_cross_batch_disorder_differs_from_sorted_reference(self):
        sorted_ref, batched_ref = checks.trip_rows(self.lines, 250)
        differ = [t for t in sorted_ref if not checks.same_trip(sorted_ref[t], batched_ref[t])]
        self.assertGreater(len(differ), 0)
        # With the whole log in one batch the two references agree.
        whole_sorted, whole_batched = checks.trip_rows(self.lines, len(self.lines))
        self.assertEqual(whole_sorted, whole_batched)


class QueryCheckTest(unittest.TestCase):
    TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]

    def test_planted_wrong_rows_are_caught(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            tables, out = os.path.join(d, "tables"), os.path.join(d, "out")
            os.makedirs(tables)
            con = duckdb.connect()
            for t in self.TABLES:
                con.execute(f"COPY (SELECT range AS k, range * 2 AS v FROM range(5)) "
                            f"TO '{tables}/{t}.parquet' (FORMAT parquet)")
            sql = "SELECT k, v FROM orders WHERE k < 4"
            src = f"read_parquet('{tables}/orders.parquet') WHERE k < 4"
            outputs = {
                "good": f"SELECT k, v FROM {src}",
                "wrong_value": f"SELECT k, CASE WHEN k = 2 THEN 5 ELSE v END AS v FROM {src}",
                "float_rendering": f"SELECT k, CAST(v AS DOUBLE) AS v FROM {src}",
            }
            for name, q in outputs.items():
                os.makedirs(os.path.join(out, name))
                con.execute(f"COPY ({q}) TO '{out}/{name}/part-0.parquet' (FORMAT parquet)")
            with open(os.path.join(out, "oracle_sql.json"), "w") as fh:
                json.dump({name: sql for name in outputs}, fh)
            fails = checks.check_queries(tables, out, run.COMPARE_PY)
        self.assertEqual(sorted(fails), ["float_rendering", "wrong_value"])
        self.assertIn("VALUE MISMATCH", fails["wrong_value"])


def reference_dedup(texts, threshold):
    """Exact dedup outputs in the shape the harness writes."""
    by_set = {}
    for i in sorted(texts):
        by_set.setdefault(frozenset(checks.shingles(texts[i])), []).append(i)
    groups = [(ids[0], m) for ids in by_set.values() for m in ids]
    reps = sorted(ids[0] for ids in by_set.values())
    pairs = []
    for x in range(len(reps)):
        for y in range(x + 1, len(reps)):
            j = checks.jaccard(checks.shingles(texts[reps[x]]), checks.shingles(texts[reps[y]]))
            if j >= threshold:
                pairs.append((reps[x], reps[y], j))
    uf = checks.UnionFind()
    for a, b, _ in pairs:
        uf.union(a, b)
    size = {}
    for r, m in groups:
        uf.union(r, m)
        size[r] = size.get(r, 0) + 1
    in_pair = {x for a, b, _ in pairs for x in (a, b)}
    members = sorted(m for r, m in groups if r in in_pair or size[r] > 1)
    clusters = [(m, uf.find(m)) for m in members]
    comps = {}
    for m in members:
        comps[uf.find(m)] = comps.get(uf.find(m), 0) + 1
    keep = len(texts) - sum(n - 1 for n in comps.values())
    return pairs, groups, clusters, keep


class DedupCheckTest(unittest.TestCase):
    def setUp(self):
        params = dict(gen.CORPUS_PARAMS, docs=120, words=[20, 30], family_share=0.5)
        docs, self.families = gen.corpus(9, params)
        self.texts = {i: t for i, t, _ in docs}
        self.tau = params["threshold"]
        self.pairs, self.groups, self.clusters, self.keep = reference_dedup(self.texts, self.tau)

    def check(self, pairs=None, clusters=None, keep=None):
        return checks.check_dedup(self.texts, self.families, self.tau,
                                  self.pairs if pairs is None else pairs, self.groups,
                                  self.clusters if clusters is None else clusters,
                                  self.keep if keep is None else keep)

    def test_exact_outputs_pass(self):
        r = self.check()
        self.assertGreater(r["expected_pairs"], 0)
        self.assertEqual(r["failed"], 0)

    def test_planted_sub_threshold_pair_is_caught(self):
        reps = sorted({r for r, _ in self.groups})
        far = next((a, b) for a in reps for b in reps if a < b and checks.jaccard(
            checks.shingles(self.texts[a]), checks.shingles(self.texts[b])) < self.tau)
        r = self.check(pairs=self.pairs + [(far[0], far[1], 0.9)])
        self.assertEqual(r["below_threshold"], 1)
        self.assertGreater(r["failed"], 0)

    def test_missed_pair_and_wrong_label_are_caught(self):
        self.assertEqual(self.check(pairs=self.pairs[1:])["missed"] > 0, True)
        wrong = [(i, c + 1000) if k == 0 else (i, c) for k, (i, c) in enumerate(self.clusters)]
        self.assertEqual(self.check(clusters=wrong)["wrong_labels"], 1)
        self.assertEqual(self.check(keep=self.keep + 1)["keep_mismatch"], 1)


class SpanCheckTest(unittest.TestCase):
    S = 10 ** 9  # ns per second

    def spans(self, *children):
        """A 10 s root `run` with the given (id, parent, name, start_s, end_s)."""
        return [(0, -1, "run", 0, 10 * self.S)] + \
            [(i, p, n, int(a * self.S), int(b * self.S)) for i, p, n, a, b in children]

    def test_covered_tree_passes_and_sums_layers(self):
        r = checks.span_self_times(self.spans(
            (1, 0, "queries.build", 0.0, 4.0), (2, 0, "spark.action", 4.0, 9.95),
            (3, 2, "operators.lsh", 5.0, 7.0)))
        self.assertTrue(r["ok"])
        self.assertAlmostEqual(r["layers"]["spark"], 3.95)
        self.assertAlmostEqual(r["layers"]["operators"], 2.0)
        self.assertAlmostEqual(r["self_sum_s"] + r["layers"]["harness"], r["wall_s"])

    def test_planted_uncovered_gap_fails(self):
        r = checks.span_self_times(self.spans(
            (1, 0, "queries.build", 0.0, 4.0), (2, 0, "spark.action", 5.0, 10.0)))
        self.assertFalse(r["ok"])
        self.assertAlmostEqual(r["uncovered_share"], 0.1)

    def test_planted_overlap_fails(self):
        r = checks.span_self_times(self.spans(
            (1, 0, "queries.build", 0.0, 6.0), (2, 0, "spark.action", 4.0, 10.0)))
        self.assertFalse(r["ok"])
        self.assertLess(r["min_self_s"], 0)

    def test_child_outside_parent_fails(self):
        r = checks.span_self_times(self.spans(
            (1, 0, "streaming.batch", 0.0, 10.0), (2, 1, "sinks.write", 9.5, 10.5)))
        self.assertFalse(r["ok"])
        self.assertEqual(r["spans_outside_parent"], 1)


class TracingOverheadTest(unittest.TestCase):
    def test_overhead_compares_like_items(self):
        untraced = {"labels": ["a", "b", "a"], "ops_ms": [100.0, 1000.0, 100.0]}
        traced = {"labels": ["b", "a"], "ops_ms": [1100.0, 120.0]}
        self.assertAlmostEqual(run.tracing_overhead(untraced, traced), 0.15)
        batches = {"labels": [], "ops_ms": [10.0, 12.0, 11.0]}
        self.assertAlmostEqual(run.tracing_overhead(batches, dict(batches, ops_ms=[11.0])), 0.0)


class MetricNameTest(unittest.TestCase):
    def test_declared_names_are_valid_and_unique(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertTrue(all(NAME.match(n) for n in names), names)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([w["name"] for w in SPEC["workloads"]], list(run.WORKLOADS))

    def test_end_to_end_output_matches_declaration(self):
        res = {"setup_s": 3.0, "peak_rss_mb": 900.0,
               "phases": [{"ops_ms": [1.0, 2.0, 3.0], "items": 3, "wall_s": 6.0,
                           "labels": ["a", "b", run.DEDUP_OP]}]}
        for w in run.WORKLOADS:
            e2e = run.end_to_end(w, res, 1.0)
            declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
            self.assertEqual({k: u for k, (_, u) in e2e.items()}, declared)

    def test_harness_emits_only_declared_per_layer_names(self):
        declared = {m["name"] for m in SPEC["per_layer"]}
        emitted = set()
        src = os.path.join(HERE, "src", "main", "scala", "perfbench")
        for f in os.listdir(src):
            with open(os.path.join(src, f)) as fh:
                emitted |= set(re.findall(r'out\("([^"$]+)"\)', fh.read()))
        # Layer self times are emitted as self.<layer>_s.
        for layer in ("harness", "queries", "spark", "streaming", "sinks", "operators"):
            emitted.add(f"self.{layer}_s")
        internal = {"setup_s", "phases", "check", "env", "peak_rss_mb", "query_dir",
                    "failed_queries", "submitted_lines", "batch_lines", "open_trips_left"}
        self.assertEqual(sorted(emitted - declared - internal), [])
        self.assertTrue(all(NAME.match(n) for n in emitted - internal))

    def test_metric_map_records_the_parameters_in_use(self):
        with open(os.path.join(HERE, "metric_map.json")) as fh:
            params = json.load(fh)["workload_params"]
        trip, query = params["trip_stream"], params["query_mix"]
        self.assertEqual(trip["generator"], gen.TRIP_PARAMS)
        self.assertEqual((trip["batch_lines"], trip["warm_batches"], trip["log_lines"]),
                         (run.TRIP_BATCH_LINES, run.TRIP_WARM_BATCHES, run.TRIP_LOG_LINES))
        self.assertEqual(query["corpus"], gen.CORPUS_PARAMS)
        self.assertEqual(os.path.join(os.path.dirname(HERE), query["tables"]), run.QUERY_TABLES)

    def test_metric_map_covers_every_per_layer_metric(self):
        with open(os.path.join(HERE, "metric_map.json")) as fh:
            mapping = json.load(fh)["per_layer"]
        self.assertEqual(set(mapping), {m["name"] for m in SPEC["per_layer"]})
        e2e = {m["name"] for m in SPEC["end_to_end"]}
        for name, m in mapping.items():
            self.assertTrue(set(m["moves"]) <= e2e, name)
            self.assertTrue(set(m["workloads"]) <= set(run.WORKLOADS), name)


if __name__ == "__main__":
    unittest.main()
