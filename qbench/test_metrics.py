"""Tests of the benchmark's own logic. Run: python3 -m unittest discover -s qbench -p 'test_*.py'"""
import json
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
import metrics  # noqa: E402
import run  # noqa: E402

BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


def req(rid, pass_no, key, start, construct, plan, exec_, traced=False, slack=0):
    return {"rid": rid, "pass": pass_no, "key": key, "traced": traced,
            "begin_us": start - slack, "start_us": start, "construct_us": construct,
            "plan_us": plan, "exec_us": exec_, "end_us": start + construct + plan + exec_ + slack,
            "cpu_ns": 5_000_000, "ok": True, "digest": "1:2:3",
            "storage_bytes": 3 * 1048576, "views_built": 0}


def job(rid, jid, phase, start, end):
    return {"rid": rid, "id": f"job{jid}", "parent": f"{rid}/{phase}", "name": "job",
            "phase": phase, "start_us": start, "end_us": end}


def stage(rid, sid, jid, phase, start, end):
    return {"rid": rid, "id": f"stage{sid}.0", "parent": f"job{jid}", "name": "stage",
            "phase": phase, "start_us": start, "end_us": end, "tasks": 4, "run_ms": 8,
            "cpu_ns": 6_000_000, "gc_ms": 1, "shuffle_read": 1024, "shuffle_write": 2048,
            "spill": 0}


RUN = {"setup_s": [9.0, 3.0, 3.5], "resolve_ms": [50.0, 70.0, 60.0],
       "memo_probe_ms": {"events": 100.0, "ratings": 50.0}, "cpus": 4,
       "heap_used_mb": 512.0, "loop_gc_ms": 40}


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(199), 90)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertIsNone(metrics.tail_percentile(19))

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(metrics.percentile(values, 90), 90)
        self.assertEqual(metrics.percentile(values, 50), 50)
        self.assertEqual(metrics.percentile([7.0], 50), 7.0)


class PassOrderTest(unittest.TestCase):
    KEYS = [f"q{i}_k" for i in range(8)]

    def test_reproducible_for_a_seed(self):
        self.assertEqual(metrics.pass_orders(self.KEYS, 5, 10), metrics.pass_orders(self.KEYS, 5, 10))

    def test_permutes_and_differs_across_passes(self):
        orders = metrics.pass_orders(self.KEYS, 5, 10)
        for o in orders:
            self.assertEqual(sorted(o), sorted(self.KEYS))
        self.assertEqual(len({tuple(o) for o in orders}), len(orders))

    def test_seed_changes_the_order_only(self):
        a, b = metrics.pass_orders(self.KEYS, 1, 4), metrics.pass_orders(self.KEYS, 2, 4)
        self.assertNotEqual(a, b)
        self.assertEqual([sorted(o) for o in a], [sorted(o) for o in b])


class SelfTimeTest(unittest.TestCase):
    def test_duration_minus_union_of_children(self):
        span = {"start_us": 0, "end_us": 100}
        kids = [{"start_us": 10, "end_us": 30}, {"start_us": 20, "end_us": 40},
                {"start_us": 90, "end_us": 120}]
        # children cover [10, 40] and [90, 100]: 40 us of the 100
        self.assertEqual(metrics.self_us(span, kids), 60)

    def test_no_children_and_disjoint(self):
        span = {"start_us": 5, "end_us": 25}
        self.assertEqual(metrics.self_us(span, []), 20)
        self.assertEqual(metrics.self_us(span, [{"start_us": 30, "end_us": 40}]), 20)

    def test_layers_add_up_to_the_request(self):
        r = req("r1_a", 1, "a", 1000, 300, 50, 600, traced=True, slack=5)
        spans = metrics.build_spans([r], [job("r1_a", 1, "exec", 1400, 1800)])
        table = metrics.layer_table(spans)
        parts = sum(table[n]["total_us"] for n in ("construct", "plan", "exec"))
        self.assertEqual(parts + table["request"]["self_us"], table["request"]["total_us"])
        self.assertEqual(table["request"]["self_us"], 10)
        self.assertEqual(table["exec"]["self_us"], 600 - 400)


def sample_run():
    timed, spans = [], []
    jid = sid = 0
    for p, traced in ((1, True), (2, False), (3, True), (4, False)):
        for i, key in enumerate(("a", "b")):
            start = p * 10_000 + i * 4000
            r = req(f"r{p}_{key}", p, key, start, 1000, 200, 2000 + 500 * i, traced)
            timed.append(r)
            jid += 1
            spans.append(job(r["rid"], jid, "construct", start + 100, start + 600))
            sid += 1
            spans.append(stage(r["rid"], sid, jid, "construct", start + 150, start + 550))
            jid += 1
            spans.append(job(r["rid"], jid, "exec", start + 1300, start + 3000))
            sid += 1
            spans.append(stage(r["rid"], sid, jid, "exec", start + 1300, start + 2900))
    return timed, spans


class ResultLineTest(unittest.TestCase):
    def names(self, line):
        return set(json.loads(line)["metrics"])

    def test_untraced_line_lists_the_end_to_end_metrics(self):
        timed, _ = sample_run()
        line = metrics.result_line(True, len(timed), 0, metrics.end_to_end(timed, RUN))
        want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
        self.assertEqual(self.names(line), set(want))
        got = json.loads(line)
        self.assertEqual(set(got), {"correct", "attempted", "failed", "metrics"})
        for name, m in got["metrics"].items():
            self.assertEqual(m["unit"], want[name])
            self.assertGreater(m["value"], 0)

    def test_traced_line_lists_the_per_layer_metrics(self):
        timed, spans = sample_run()
        line = metrics.result_line(True, len(timed), 0, metrics.per_layer(timed, spans, RUN))
        want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        self.assertEqual(self.names(line), set(want))
        for name, m in json.loads(line)["metrics"].items():
            self.assertEqual(m["unit"], want[name])

    def test_per_layer_values(self):
        timed, spans = sample_run()
        v = {k: val for k, (_, val) in metrics.per_layer(timed, spans, RUN).items()}
        self.assertEqual(v["exec.stages"], 4)            # 2 requests x 2 stages per pass
        self.assertEqual(v["operators.construct_jobs"], 2)
        self.assertEqual(v["operators.construct_ms"], 2.0)
        self.assertEqual(v["exec.driver_gap_ms"], (2000 - 1700 + 2500 - 1700) / 1000.0)
        self.assertEqual(v["trace.unattributed_ms"], 0)
        self.assertEqual(v["tables.resolve_ms"], 60.0)
        self.assertEqual(v["tables.memo_build_ms"], 150.0)
        self.assertEqual(v["trace.overhead_frac"], 0.0)

    def test_workloads_match_benchmark_json(self):
        self.assertEqual(set(run.WORKLOADS), {w["name"] for w in BENCHMARK["workloads"]})


if __name__ == "__main__":
    unittest.main()
