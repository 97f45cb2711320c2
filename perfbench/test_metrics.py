"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_rank_above_the_tail(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = metrics.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 90.0)
        self.assertEqual(n, 100)

    def test_order_does_not_matter(self):
        xs = [float((7 * i) % 30) for i in range(30)]  # 0..29, shuffled
        self.assertEqual(metrics.tail(xs)[0], 19.0)
        self.assertEqual(metrics.tail(list(reversed(xs)))[0], 19.0)

    def test_percentile_moves_smoothly_with_sample_count(self):
        # one more sample moves the chosen percentile a little, never
        # from one rung of a fixed ladder to the next
        p40 = metrics.tail(list(range(40)))[1]
        p41 = metrics.tail(list(range(41)))[1]
        self.assertAlmostEqual(p40, 75.0)
        self.assertAlmostEqual(p41, 100 * 31 / 41)

    def test_up_to_20_samples_the_tail_is_the_interpolated_p90(self):
        # 0..19: rank 0.9 * 19 = 17.1, between 17 and 18
        value, pct, n = metrics.tail(list(range(20)))
        self.assertAlmostEqual(value, 17.1)
        self.assertEqual((pct, n), (90.0, 20))
        # 8 samples: rank 6.3 weighs the two costliest, not the maximum
        self.assertAlmostEqual(metrics.tail([1, 2, 3, 4, 5, 6, 10, 20])[0],
                               10 + 0.3 * 10)
        self.assertEqual(metrics.tail([3.0]), (3.0, 90.0, 1))
        self.assertEqual(metrics.tail(list(range(21)))[:2], (10, 100 * 11 / 21))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))


class FailedFracTest(unittest.TestCase):
    def test_fraction_of_attempted(self):
        self.assertEqual(metrics.failed_frac(0, 40), 0.0)
        self.assertEqual(metrics.failed_frac(3, 12), 0.25)

    def test_nothing_attempted_counts_as_all_failed(self):
        self.assertEqual(metrics.failed_frac(0, 0), 1.0)


def result(ops, **storage):
    st = {"fs_bytes_written": 0, "user_bytes": 0, "disk_bytes": 0,
          "live_bytes": 0, "files_live": 0, "files_on_disk": 0, "commits": 0}
    st.update(storage)
    return {"ops": ops, "storage": st, "setup_s": 1.5, "window_s": 2.0,
            "heap_live_mb": 100.0}


def op(kind, ms, phase="window", rows_in=0, rows_out=0, cpu_ms=None,
       ref_cpu_ms=metrics.REF_MS):
    return {"kind": kind, "phase": phase, "ms": ms, "rows_in": rows_in,
            "bytes_in": 0, "rows_out": rows_out,
            "cpu_ms": ms if cpu_ms is None else cpu_ms,
            "ref_cpu_ms": ref_cpu_ms}


class EndToEndTest(unittest.TestCase):
    def test_write_amp_is_lake_bytes_over_user_bytes(self):
        m, _ = metrics.end_to_end(result([op("a", 1)], fs_bytes_written=3000,
                                         user_bytes=1000))
        self.assertEqual(m["write_amp"], (3.0, "ratio"))

    def test_space_amp_is_disk_over_live(self):
        m, _ = metrics.end_to_end(result([op("a", 1)], disk_bytes=500,
                                         live_bytes=200))
        self.assertEqual(m["space_amp"][0], 2.5)

    def test_only_window_ops_are_costed(self):
        ops = [op("w", 1000, phase="warmup"), op("a", 10), op("a", 30),
               op("a", 20)]
        m, info = metrics.end_to_end(result(ops))
        self.assertEqual(m["op_p50_cpu_ms"][0], 20)
        self.assertEqual(m["ops_per_cpu_s"][0], 50.0)
        self.assertEqual(info["tail_samples"], 3)

    def test_rows_count_writes_else_reads(self):
        w = metrics.end_to_end(result([op("a", 2000, rows_in=400, rows_out=7)]))
        r = metrics.end_to_end(result([op("a", 2000, rows_out=7)]))
        self.assertEqual(w[0]["rows_per_cpu_s"][0], 200.0)
        self.assertEqual(r[0]["rows_per_cpu_s"][0], 3.5)

    def test_wall_clock_stays_in_the_raw_figures(self):
        _, info = metrics.end_to_end(result([op("a", 500, cpu_ms=2000)]))
        self.assertEqual(info["raw"]["ops_per_s"], 2.0)
        self.assertEqual(info["raw"]["ops_per_unscaled_cpu_s"], 0.5)


class ScaledCostTest(unittest.TestCase):
    def test_costs_scale_by_the_median_reference_run(self):
        # the reference job ran at half speed (twice REF_MS): costs halve
        slow = 2 * metrics.REF_MS
        ops = [op("a", 1, cpu_ms=300, ref_cpu_ms=slow),
               op("a", 1, cpu_ms=500, ref_cpu_ms=0),
               op("a", 1, cpu_ms=700, ref_cpu_ms=slow * 3),
               op("a", 1, cpu_ms=900, ref_cpu_ms=slow / 3)]
        self.assertEqual(metrics.scaled_costs(ops), [150, 250, 350, 450])

    def test_host_speed_cancels_out(self):
        quiet = [op("a", 1, cpu_ms=c) for c in (100, 200, 400)]
        busy = [op("a", 1, cpu_ms=1.5 * c, ref_cpu_ms=1.5 * metrics.REF_MS)
                for c in (100, 200, 400)]
        m_quiet, _ = metrics.end_to_end(result(quiet))
        m_busy, _ = metrics.end_to_end(result(busy))
        for k in ("ops_per_cpu_s", "op_p50_cpu_ms", "op_tail_cpu_ms"):
            self.assertAlmostEqual(m_quiet[k][0], m_busy[k][0])


class LedgerTest(unittest.TestCase):
    def span(self, i, parent, name, t0, t1, phase="window"):
        return {"id": i, "parent": parent, "name": name, "phase": phase,
                "t0": t0, "t1": t1, "compiles": 0, "compile_ms": 0,
                "gc_ms": 0, "fs_bytes_written": 0}

    def job(self, t0, t1):
        return {"t0": t0, "t1": t1, "tasks": 2, "shuffle_write_bytes": 0}

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_ms([(0, 4), (2, 6), (8, 12)], 1, 10), 7)

    def test_jobs_go_to_the_innermost_span_and_self_time_excludes_them(self):
        trace = {"spans": [self.span(0, -1, "op.append", 0, 100),
                           self.span(1, 0, "CommitLog.append", 10, 90)],
                 "jobs": [self.job(20, 40), self.job(30, 60)],
                 "queries": []}
        led = metrics.Ledger(trace)
        self.assertEqual(len(led.jobs[1]), 2)
        self.assertEqual(led.self_ms(1), 80 - 40)
        self.assertEqual(led.self_ms(0), 100 - 80)
        st = led.op_stats(0)
        self.assertEqual((st["jobs"], st["tasks"], st["job_ms"], st["gap_ms"]),
                         (2, 4, 40, 60))


if __name__ == "__main__":
    unittest.main()
