"""Tests of the benchmark's input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest
from collections import Counter

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import gen  # noqa: E402

SF = 0.001


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.ns = gen.Namespace(SF)

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for make in (lambda s: gen.om_ops(self.ns, s, 3),
                     lambda s: gen.recon_passes(s, 3),
                     lambda s: gen.cdc_cycles(self.ns, s, 2)):
            self.assertEqual(make(7), make(7))
            self.assertNotEqual(make(7), make(8))

    def test_warehouse_is_deterministic(self):
        a, b = gen.source_tables(SF), gen.source_tables(SF)
        self.assertEqual(sorted(a), sorted(b))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_every_op_type_and_page_size_occurs(self):
        ops = gen.om_ops(self.ns, 1, 10)
        self.assertEqual({o[0] for o in ops}, {k for k, _ in gen.OM_MIX})
        pages = {o[5] for o in ops if o[0] in ("listKeys", "listObjectsV2")}
        self.assertEqual(pages, set(gen.PAGE_SIZES))
        # lookups of missing keys and ops through both link buckets
        self.assertTrue(any(o[0] == "lookupKey" and o[3].endswith("/9.dat")
                            for o in ops))
        self.assertEqual({(o[1], o[2]) for o in ops} & set(gen.LINKS),
                         set(gen.LINKS))

    def test_each_block_has_the_exact_mix(self):
        ops = gen.om_ops(self.ns, 2, 4)
        want = Counter({k: round(p * gen.OM_BLOCK) for k, p in gen.OM_MIX})
        for b in range(4):
            block = ops[b * gen.OM_BLOCK:(b + 1) * gen.OM_BLOCK]
            self.assertEqual(Counter(o[0] for o in block), want)
            self.assertEqual(sum((o[1], o[2]) in gen.LINKS for o in block),
                             round(gen.LINK_SHARE * gen.OM_BLOCK))
            lookups = [o for o in block if o[0] == "lookupKey"]
            self.assertEqual(sum(o[3].endswith("/9.dat") for o in lookups),
                             round(gen.MISSING_SHARE * len(lookups)))
            # every page size in equal shares (to within one) per list type
            for kind in ("listKeys", "listObjectsV2"):
                pages = Counter(o[5] for o in block if o[0] == kind)
                self.assertEqual(set(pages), set(gen.PAGE_SIZES))
                self.assertLessEqual(max(pages.values()) - min(pages.values()), 1)

    def test_ops_address_keys_and_dirs_that_exist(self):
        for kind, vol, bucket, arg, start, _ in gen.om_ops(self.ns, 3, 5):
            keys = self.ns.keys[gen.resolve(vol, bucket)]
            if kind == "lookupKey" and not arg.endswith("/9.dat"):
                self.assertIn(arg, keys)
            if kind in ("listStatus", "listStatusFso"):
                self.assertTrue(any(k.startswith(arg + "/") for k in keys))
            if start:
                self.assertIn(start, keys)

    def test_every_pass_runs_every_query_once(self):
        for p in gen.recon_passes(4, 5):
            self.assertEqual(sorted(p), sorted(gen.RECON_QUERIES))

    def test_log_head_counts_puts_and_deletes(self):
        ln = gen.lineitem(SF)["l_linenumber"].to_pylist()
        self.assertEqual(self.ns.log_head,
                         len(ln) + sum(1 for x in ln if x % 7 == 0))

    def test_delta_seqs_clear_the_log_head(self):
        # a seq at or below the head would replay history: the merge would
        # double-count it (and a batch id guard keyed on it would skip it)
        cycles = gen.cdc_cycles(self.ns, 5, 6)
        seqs = [e[0] for events, _, _ in cycles for e in events]
        self.assertGreater(min(seqs), self.ns.log_head)
        self.assertEqual(seqs, list(range(self.ns.log_head + 1,
                                          self.ns.log_head + 1 + len(seqs))))

    def test_deltas_delete_only_live_keys_once(self):
        # duplicate (key, size) pairs are separate objects: never delete
        # more copies than the log's net state holds
        held = Counter((vb, k, s) for vb, ks in self.ns.live.items()
                       for k, s in ks)
        deleted = Counter()
        for events, _, _ in gen.cdc_cycles(self.ns, 6, 8):
            self.assertEqual(len(events), gen.DELTA_EVENTS)
            self.assertLessEqual(len({(e[2], e[3]) for e in events}),
                                 gen.DELTA_PARTITIONS)
            for _, op, vol, bucket, key, size, _ in events:
                if op == "DELETE":
                    deleted[((vol, bucket), key, size)] += 1
                else:
                    self.assertTrue(key.startswith("warehouse/C/"))
        self.assertTrue(deleted)
        for k, n in deleted.items():
            self.assertLessEqual(n, held[k], k)


if __name__ == "__main__":
    unittest.main()
