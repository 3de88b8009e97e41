"""Self-tests of the benchmark's own arithmetic and attribution:

    python3 -m unittest discover -s perfbench
"""

import json
import os
import tempfile
import unittest

import report


class TailRule(unittest.TestCase):
    def test_too_few_samples_for_any_tail(self):
        self.assertIsNone(report.tail(list(range(19))))

    def test_twenty_samples_support_only_the_median(self):
        p, value, n = report.tail(list(range(1, 21)))
        self.assertEqual((p, value, n), (50.0, 10, 20))

    def test_hundred_samples_give_p90_with_ten_beyond(self):
        xs = list(range(100, 0, -1))  # order of arrival does not matter
        p, value, n = report.tail(xs)
        self.assertEqual((p, value, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_thousand_samples_give_p99(self):
        self.assertEqual(report.tail(list(range(1000)))[:2], (99.0, 989))

    def test_a_percentile_with_nine_beyond_is_not_taken(self):
        # p95 of 199 samples leaves 9 above it, so the rule falls back to p90
        self.assertEqual(report.tail(list(range(199)))[0], 90.0)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end, "op": "x", "name": "s"}


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(report.self_times([span(1, 0, 0, 100)]), {1: 100})

    def test_children_are_subtracted(self):
        st = report.self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 90)])
        self.assertEqual(st[1], 100 - 20 - 40)
        self.assertEqual(st[2], 20)

    def test_overlapping_children_count_once(self):
        st = report.self_times([span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)])
        self.assertEqual(st[1], 100 - 70)

    def test_child_outside_the_parent_is_clipped(self):
        st = report.self_times([span(1, 0, 0, 100), span(2, 1, 90, 150)])
        self.assertEqual(st[1], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        st = report.self_times([span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 40)])
        self.assertEqual((st[1], st[2], st[3]), (50, 10, 40))


class CallSiteModules(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        files = ["engine/graft/streaming/Incremental.scala",
                 "engine/graft/table/TokenTable.scala",
                 "engine/graft/maintenance/Maintenance.scala",
                 "engine/graft/Run.scala",
                 "bench/perfbench/Workloads.scala"]
        for f in files:
            os.makedirs(os.path.dirname(os.path.join(root, f)), exist_ok=True)
            open(os.path.join(root, f), "w").close()
        self.modules = report.module_map(os.path.join(root, "engine"),
                                         os.path.join(root, "bench"))

    def tearDown(self):
        self.tmp.cleanup()

    def test_map_uses_the_package_directory(self):
        self.assertEqual(self.modules["Incremental.scala"], "streaming")
        self.assertEqual(self.modules["Run.scala"], "graft")
        self.assertEqual(self.modules["Workloads.scala"], "bench")

    def test_short_form(self):
        self.assertEqual(
            report.module_of("isEmpty at Incremental.scala:148", self.modules), "streaming")

    def test_long_form_takes_the_innermost_known_frame(self):
        frames = ("graft.table.TokenTable.stageWrite(TokenTable.scala:539)\n"
                  "graft.maintenance.Maintenance$.mergeInto(Maintenance.scala:350)\n"
                  "perfbench.Read.step(Workloads.scala:500)")
        self.assertEqual(report.module_of(frames, self.modules), "table")

    def test_benchmark_frames_map_to_bench(self):
        self.assertEqual(
            report.module_of("collect at Workloads.scala:80", self.modules), "bench")

    def test_unknown_site_is_spark(self):
        self.assertEqual(
            report.module_of("run at ThreadPoolExecutor.java:1136", self.modules), "spark")


class JobLayers(unittest.TestCase):
    def job(self, op, frames=""):
        return {"op": op, "frames": frames}

    def test_cluster_write_counts_for_both_layers(self):
        frames = ("graft.table.TokenTable.stageWrite(TokenTable.scala:539)\n"
                  "graft.maintenance.Maintenance$.compact(Maintenance.scala:150)\n"
                  "graft.maintenance.Maintenance$.cluster(Maintenance.scala:210)")
        self.assertEqual(report.job_layers(self.job("maintain-0", frames), "command"),
                         ["maintenance.cluster", "table.stage_write"])

    def test_streaming_jobs_are_named_by_their_action(self):
        self.assertEqual(report.job_layers(self.job("merge_cow-1"), "isEmpty"),
                         ["streaming.is_empty"])
        self.assertEqual(report.job_layers(self.job("merge_cow-1"), "collect"),
                         ["maintenance.merge.probe"])
        self.assertEqual(report.job_layers(self.job("merge_mor-1"), "command"),
                         ["table.stage_write"])
        self.assertEqual(report.job_layers(self.job("merge_mor-1"), "collect"), [])


class JobsToActions(unittest.TestCase):
    def test_a_job_belongs_to_the_action_planned_last_before_it(self):
        raw = {
            "queries": [
                {"op": "merge_cow-1", "func": "isEmpty", "planned_ms": 100, "phases": {}},
                {"op": "merge_cow-1", "func": "collect", "planned_ms": 200, "phases": {}},
            ],
            "jobs": [
                {"op": "merge_cow-1", "start_ms": 150, "end_ms": 160, "frames": "",
                 "name": "", "stages": []},
                {"op": "merge_cow-1", "start_ms": 250, "end_ms": 290, "frames": "",
                 "name": "", "stages": []},
            ],
            "stages": [],
        }
        m = report.per_op_layers(raw, 4, {})["merge_cow-1"]
        self.assertEqual(m["streaming.is_empty.job_ms"], 10)
        self.assertEqual(m["maintenance.merge.probe.job_ms"], 40)


class Declaration(unittest.TestCase):
    """BENCHMARK.json names exactly what the runs print."""

    def setUp(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
            self.decl = json.load(f)

    def test_workloads(self):
        self.assertEqual({w["name"] for w in self.decl["workloads"]}, set(report.OP_KINDS))

    def test_end_to_end_metrics(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.decl["end_to_end"]},
                         report.END_TO_END)

    def test_per_layer_metrics(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.decl["per_layer"]},
                         report.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
