"""Tests of the benchmark's own logic: the model fold, the generators'
invariants, the tail-percentile rule, query_mix's sample draw and the
oracle's value normalisation.  No Spark needed:

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen    # noqa: E402
import oracle  # noqa: E402
import run    # noqa: E402
import stats  # noqa: E402


def plan_of(recs_by_folder):
    p = gen.Plan("e", "{}", "Id", "string", ["versionnumber", "x"])
    for i, recs in enumerate(recs_by_folder):
        p.folders.append(gen.Folder(gen.folder_name(i), "paced", [], recs))
    return p.finish()


class FoldTest(unittest.TestCase):
    def test_latest_version_wins_across_folders(self):
        p = plan_of([[gen.Rec("a", 1, False, ("v1",))], [gen.Rec("a", 3, False, ("v3",))]])
        self.assertEqual(gen.fold(p), {"a": (3, "v3")})

    def test_stale_version_loses(self):
        p = plan_of([[gen.Rec("a", 5, False, ("new",))], [gen.Rec("a", 4, False, ("stale",))]])
        self.assertEqual(gen.fold(p), {"a": (5, "new")})

    def test_tombstone_removes_key(self):
        p = plan_of([[gen.Rec("a", 1, False, ("x",)), gen.Rec("b", 1, False, ("y",))],
                     [gen.Rec("a", 2, True)]])
        self.assertEqual(gen.fold(p), {"b": (1, "y")})

    def test_planted_copy_never_lands(self):
        p = plan_of([[gen.Rec(1, 1, False, ("body",))],
                     [gen.Rec(2, 2, False, ("body",), suppressed=True)]])
        self.assertEqual(gen.fold(p), {1: (1, "body")})

    def test_same_key_unchanged_text_update_passes(self):
        p = plan_of([[gen.Rec(1, 1, False, ("body",))], [gen.Rec(1, 2, False, ("body",))]])
        self.assertEqual(gen.fold(p), {1: (2, "body")})

    def test_fold_upto_and_history_agree(self):
        p = plan_of([[gen.Rec("a", 1, False, ("x",))], [gen.Rec("a", 2, False, ("y",))],
                     [gen.Rec("a", 3, True)]])
        h = gen.History(p)
        for i in range(3):
            want = gen.fold(p, i).get("a")
            self.assertEqual(h.state_at("a", i), want[0] if want else None)
        self.assertEqual(h.states_between("a", 0, 2), {1, 2, None})
        self.assertEqual(h.state_at("zz", 2), None)


class GeneratorTest(unittest.TestCase):
    def test_cow_is_seeded_and_keys_die_once(self):
        a = gen.gen_cow(7, 200, 3, 1, 4, 2, 20, 40, 3, 3)
        b = gen.gen_cow(7, 200, 3, 1, 4, 2, 20, 40, 3, 3)
        self.assertEqual([f.lines for f in a.folders], [f.lines for f in b.folders])
        dead = set()
        for f in a.folders:
            for r in f.recs:
                self.assertNotIn(r.key, dead, "a deleted key is touched again")
            dead |= {r.key for r in f.recs if r.deleted}
        self.assertTrue(dead)
        self.assertEqual(len(a.folders[0].lines), 200)
        self.assertNotEqual(gen.gen_cow(8, 200, 3, 1, 4, 2, 20, 40, 3, 3).folders[0].lines,
                            a.folders[0].lines)

    def test_cow_stale_records_lose(self):
        p = gen.gen_cow(3, 300, 2, 1, 5, 2, 20, 40, 3, 5)
        h = gen.History(p)
        stale = [(i, r) for i, f in enumerate(p.folders) for r in f.recs
                 if r.payload and r.payload[0] == "STALE"]
        self.assertTrue(stale)
        for i, r in stale:
            self.assertGreater(h.state_at(r.key, i), r.version)

    def test_docs_copies_duplicate_backfilled_text_only(self):
        p = gen.gen_docs(5, 300, 1, 4, 2, 20, 5, 5, 5, 3)
        backfilled = {r.payload[0] for r in p.folders[0].recs}
        copies = [r for f in p.folders for r in f.recs if r.suppressed]
        self.assertTrue(copies)
        for r in copies:
            self.assertIn(r.payload[0], backfilled)
        # every kept body is unique to its key
        owners = {}
        for f in p.folders:
            for r in f.recs:
                if not r.suppressed and not r.deleted:
                    self.assertEqual(owners.setdefault(r.payload[0], r.key), r.key)

    def test_docs_bodies_share_no_word(self):
        self.assertFalse(set(gen.doc_body(12).split()) & set(gen.doc_body(13).split()))


class TailRuleTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.supported_tail(100), 90)
        self.assertEqual(stats.supported_tail(1000), 90)

    def test_fewer_samples_fall_back(self):
        self.assertEqual(stats.supported_tail(50), 80)
        self.assertEqual(stats.supported_tail(40), 75)
        self.assertEqual(stats.supported_tail(20), 50)

    def test_never_below_the_median(self):
        self.assertEqual(stats.supported_tail(3), 50)
        self.assertEqual(stats.supported_tail(1), 50)

    def test_summary(self):
        s = stats.summarize(list(range(1, 101)))
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["tail_q"], 90)
        self.assertAlmostEqual(s["p50"], 50.5)
        self.assertAlmostEqual(s["tail"], 90.1)
        self.assertEqual(stats.summarize([2.0])["tail"], 2.0)

    def test_percentile_interpolates(self):
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 90), 5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class QuerySampleTest(unittest.TestCase):
    TIMES = {"q%02d" % i: {"warm_ms": 100.0 * (i % 7 + 1), "check_ms": 100.0 * (i % 3 + 1),
                           "ok": i % 5 != 0} for i in range(40)}

    def test_draw_is_fixed(self):
        self.assertEqual(run.query_sample(self.TIMES), run.query_sample(dict(self.TIMES)))
        self.assertNotEqual(run.query_sample(self.TIMES, seed=1), run.query_sample(self.TIMES))

    def test_only_passing_queries_under_the_cap(self):
        s = run.query_sample(self.TIMES, cap_ms=400.0, budget_ms=1e9)
        self.assertEqual(sorted(s), sorted(n for n, q in self.TIMES.items() if q["ok"] and
                                           q["warm_ms"] <= 400.0 and q["check_ms"] <= 400.0))
        s = run.query_sample(self.TIMES, cap_ms=250.0, budget_ms=1e9)
        self.assertTrue(all(self.TIMES[n]["check_ms"] <= 250.0 for n in s))

    def test_stops_at_the_budget(self):
        s = run.query_sample(self.TIMES, budget_ms=2000.0)
        total = sum(self.TIMES[n]["warm_ms"] for n in s)
        self.assertGreaterEqual(total, 2000.0)
        self.assertLess(total - self.TIMES[s[-1]]["warm_ms"], 2000.0)

    def test_passes_cover_the_seconds(self):
        times = {"a": {"warm_ms": 3000.0}, "b": {"warm_ms": 2000.0}}
        self.assertEqual(run.query_passes(times, ["a", "b"], 12), 3)
        self.assertEqual(run.query_passes(times, ["a", "b"], 10), 2)
        self.assertEqual(run.query_passes(times, ["a"], 1), 1)


class HeapAfterGcTest(unittest.TestCase):
    LOG = """[1000ms][info][gc] Using G1
[2000ms][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 90M->40M(256M) 3.1ms
[3000ms][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 120M->60M(256M) 2.0ms
[3500ms][info][gc] GC(2) Pause Remark 70M->70M(256M) 1.0ms
[4000ms][info][gc] GC(3) Pause Young (Mixed) (G1 Evacuation Pause) 1G->80M(2G) 5.0ms
[5000ms][info][gc] GC(4) Pause Full (System.gc()) 200M->512K(256M) 9.0ms
"""

    def setUp(self):
        fd, self.path = tempfile.mkstemp()
        with os.fdopen(fd, "w") as f:
            f.write(self.LOG)

    def tearDown(self):
        os.remove(self.path)

    def test_median_after_collections_in_the_window(self):
        self.assertEqual(run.heap_after_gc_mb(self.path, 2.5, 4.5), (70.0, 2))
        self.assertEqual(run.heap_after_gc_mb(self.path, 4.5, 6.0), (0.5, 1))

    def test_last_collection_before_an_empty_window(self):
        self.assertEqual(run.heap_after_gc_mb(self.path, 3.1, 3.9), (60.0, 0))


class OracleNormTest(unittest.TestCase):
    def test_date_equals_its_midnight_timestamp(self):
        self.assertEqual(oracle._norm(datetime.date(1998, 10, 1)),
                         oracle._norm(datetime.datetime(1998, 10, 1)))
        self.assertNotEqual(oracle._norm(datetime.date(1998, 10, 1)),
                            oracle._norm(datetime.datetime(1998, 10, 1, 12)))

    def test_floats_to_nine_digits(self):
        self.assertEqual(oracle._norm(0.1 + 0.2), oracle._norm(0.3))


if __name__ == "__main__":
    unittest.main()
