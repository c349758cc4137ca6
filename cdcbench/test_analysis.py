"""Checks of the benchmark's analysis code on hand-built inputs.

    python3 -m unittest discover -s cdcbench -p 'test_*.py'
"""
import unittest

import analysis


def lineage(batch, shard, lo, hi, snap, wall=100, rows=None):
    return {"batch_id": batch, "shard": shard, "rows": rows if rows is not None else hi - lo + 1,
            "start_seq": lo, "end_seq": hi, "snapshot_id": snap, "wall_ms": wall}


def tail_run():
    """Two shards; segment s holds seqs [10s, 10s+9] in both shards.
    Trigger 0 (snapshot 1, committed at 1000) takes segments 0-1 whole and
    shard 0 of segment 2; trigger 1 (snapshot 2, committed at 3000) takes
    shard 1 of segment 2 — segment 2 is split across the two triggers."""
    segs = [{"seg": s, "lo": 10 * s, "hi": 10 * s + 9, "shards": [0, 1], "due_ms": 100 * s}
            for s in range(3)]
    return {
        "kind": "tail", "start_ms": 0, "segments": segs,
        "lineage": [lineage(0, 0, 0, 29, 1, wall=400, rows=15),
                    lineage(0, 1, 0, 19, 1, wall=400, rows=10),
                    lineage(1, 1, 20, 29, 2, wall=500, rows=5)],
        "snapshots": [{"id": 1, "committed_ms": 1000, "batch_id": 0, "compacted": 0},
                      {"id": 2, "committed_ms": 3000, "batch_id": 1, "compacted": 32}],
        "triggers": [{"batch_id": 0, "start_ms": 300, "trigger_ms": 700, "rows": 50},
                     {"batch_id": 1, "start_ms": 2200, "trigger_ms": 800, "rows": 10}],
    }


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(analysis.percentile(xs, 0.5), 50)
        self.assertEqual(analysis.percentile(xs, 0.9), 90)
        self.assertEqual(analysis.percentile(list(reversed(xs)), 0.9), 90)

    def test_tail_percentile_needs_ten_samples_beyond(self):
        analysis.percentile(list(range(100)), 0.9)  # 10 beyond: allowed
        with self.assertRaises(ValueError):
            analysis.percentile(list(range(99)), 0.9)  # 9 beyond
        with self.assertRaises(ValueError):
            analysis.percentile(list(range(999)), 0.99)

    def test_tail_percentile_counts_distinct_groups_beyond(self):
        xs = list(range(100))
        # ten samples beyond p90, but all from one commit: not supported
        one_commit = [0] * 90 + [1] * 10
        with self.assertRaises(ValueError):
            analysis.percentile(xs, 0.9, one_commit)
        # the same samples from ten commits are
        ten_commits = [0] * 90 + list(range(1, 11))
        self.assertEqual(analysis.percentile(xs, 0.9, ten_commits), 89)
        # groups follow their samples when the values are sorted
        self.assertEqual(analysis.percentile(list(reversed(xs)), 0.9,
                                             list(reversed(ten_commits))), 89)
        # the median has no support rule
        self.assertEqual(analysis.percentile(xs, 0.5, one_commit), 49)

    def test_median_has_no_sample_floor(self):
        self.assertEqual(analysis.percentile([5, 1, 3], 0.5), 3)
        with self.assertRaises(ValueError):
            analysis.percentile([], 0.5)


class FreshnessTest(unittest.TestCase):
    def test_segment_split_across_two_triggers_waits_for_the_later(self):
        samples, commits, missing = analysis.freshness(tail_run())
        self.assertEqual(missing, [])
        # segments 0 and 1 became visible with snapshot 1 (1000 ms);
        # segment 2 only once snapshot 2 held its shard-1 rows (3000 ms)
        self.assertEqual(samples, [1000 - 0, 1000 - 100, 3000 - 200])
        self.assertEqual(commits, [1, 1, 2])

    def test_unconsumed_shard_file_is_missing(self):
        run = tail_run()
        run["lineage"] = run["lineage"][:2]  # trigger 1 never committed
        samples, _, missing = analysis.freshness(run)
        self.assertEqual(missing, [2])
        self.assertEqual(samples, [1000, 900])

    def test_queue_wait_uses_first_trigger_start(self):
        # segment 2 first appears in trigger 0, which started at 300 ms
        self.assertEqual(analysis.queue_waits(tail_run()), [300, 200, 100])

    def test_replay_trigger_time_is_commit_to_commit(self):
        run = tail_run()
        run["kind"] = "replay"
        self.assertEqual(analysis.trigger_times(run), {1: 1000.0, 2: 2000.0})
        run["kind"] = "tail"
        self.assertEqual(analysis.trigger_times(run), {1: 700.0, 2: 800.0})

    def test_batches_key_on_snapshot_not_batch_id(self):
        run = tail_run()
        # a second writer's batch 0 (its own snapshot) must not merge into
        # the first writer's batch 0
        run["lineage"].append(lineage(0, 0, 30, 39, 3))
        run["snapshots"].append({"id": 3, "committed_ms": 5000, "batch_id": 0, "compacted": 0})
        commits = analysis.batch_commits(run)
        self.assertEqual(sorted(commits), [1, 2, 3])
        self.assertEqual(commits[1]["rows"], 25)
        self.assertEqual(commits[1]["start"], 600)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time_once(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "plans", "name": "p", "start_ms": 0, "dur_ms": 100},
            # two overlapping children cover [10, 50] and a third [80, 120]
            # reaches past the parent's end: 40 + 20 ms covered
            {"id": 2, "parent": 1, "layer": "streaming", "name": "a", "start_ms": 10, "dur_ms": 30},
            {"id": 3, "parent": 1, "layer": "streaming", "name": "b", "start_ms": 20, "dur_ms": 30},
            {"id": 4, "parent": 1, "layer": "streaming", "name": "c", "start_ms": 80, "dur_ms": 40},
            {"id": 5, "parent": 2, "layer": "sources", "name": "d", "start_ms": 15, "dur_ms": 5},
        ]
        self_ms = analysis.self_times(spans)
        self.assertEqual(self_ms[1], 40)
        self.assertEqual(self_ms[2], 25)
        self.assertEqual(self_ms[3], 30)
        self.assertEqual(self_ms[5], 5)

    def test_covered_is_union_length(self):
        self.assertEqual(analysis.covered([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)
        self.assertEqual(analysis.covered([(3, 3), (5, 4)]), 0)


if __name__ == "__main__":
    unittest.main()
