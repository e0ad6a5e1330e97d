"""Tests of tools/plan_diff.py on small synthetic PlanDump directories.

    python3 -m unittest discover -s tools -p 'test_plan_diff.py'
"""
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import plan_diff  # noqa: E402

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- Project (5)
   +- BroadcastHashJoin Inner BuildRight (4)
      :- Scan ExistingRDD (1)
      +- BroadcastExchange (3)
         +- Scan parquet  (2)

(1) Scan ExistingRDD
Output [2]: [vec_id#{a}L, cluster#{b}L]
Arguments: [vec_id#{a}L, cluster#{b}L], MapPartitionsRDD[{rdd}] at localCheckpoint at PqQueries.scala:{line}, ExistingRDD, UnknownPartitioning(0)

(2) Scan parquet
Output [1]: [vec_id#{c}L]
Location: InMemoryFileIndex [file:/data/embeddings.parquet]

(3) BroadcastExchange
Input [1]: [vec_id#{c}L]
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id={pid}]
"""

EXCHANGE = """
(7) Exchange
Input [1]: [vec_id#{c}L]
Arguments: hashpartitioning(vec_id#{c}L, 4), ENSURE_REQUIREMENTS, [plan_id={pid}]
"""


def plan(a, extra=''):
    ids = dict(a=a, b=a + 1, c=a + 2, rdd=a * 3, line=a % 97, pid=a * 7)
    return PLAN.format(**ids) + extra.format(**ids)


class PlanDiffTest(unittest.TestCase):

    def dirs(self, left, right):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        root = Path(tmp.name)
        for side, gates in (('a', left), ('b', right)):
            (root / side).mkdir()
            for name, text in gates.items():
                (root / side / f'{name}.txt').write_text(text, encoding='utf-8')
        return str(root / 'a'), str(root / 'b')

    def run_tool(self, a, b):
        return subprocess.run([sys.executable, str(HERE / 'plan_diff.py'), a, b],
                              capture_output=True, text=True)

    def test_ids_differ_only_equal(self):
        a, b = self.dirs({'s03_ann_ivf': plan(100)}, {'s03_ann_ivf': plan(9042)})
        self.assertEqual(plan_diff.diff(a, b), (['s03_ann_ivf'], [], [], []))
        r = self.run_tool(a, b)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn('1 gate(s) equal, 0 changed', r.stdout)

    def test_lambda_identity_differs_only_equal(self):
        arg = 'Arguments: org.apache.spark.sql.internal.UDFAdaptors$$$Lambda${}/0x{}@{}, obj#9\n'
        a, b = self.dirs({'cdc06_text_source': plan(1, arg.format(5160, '00007f0a9145a5d0', '626967a0'))},
                         {'cdc06_text_source': plan(1, arg.format(5130, '00007f62b9453ba0', '6b0796d4'))})
        self.assertEqual(plan_diff.diff(a, b), (['cdc06_text_source'], [], [], []))

    def test_added_exchange_listed(self):
        a, b = self.dirs({'s03_ann_ivf': plan(100), 's04_ann_ivf_nprobe': plan(5)},
                         {'s03_ann_ivf': plan(200, EXCHANGE), 's04_ann_ivf_nprobe': plan(6)})
        self.assertEqual(plan_diff.diff(a, b), (['s04_ann_ivf_nprobe'], ['s03_ann_ivf'], [], []))
        r = self.run_tool(a, b)
        self.assertEqual(r.returncode, 1)
        self.assertIn('changed  s03_ann_ivf', r.stdout)

    def test_gate_missing_on_one_side_listed(self):
        a, b = self.dirs({'s03_ann_ivf': plan(1), 's05_ann_pq': plan(2)},
                         {'s03_ann_ivf': plan(3), 's06_ann_ivfpq': plan(4)})
        self.assertEqual(plan_diff.diff(a, b), (['s03_ann_ivf'], [], ['s05_ann_pq'], ['s06_ann_ivfpq']))
        r = self.run_tool(a, b)
        self.assertEqual(r.returncode, 1)
        self.assertIn('s05_ann_pq', r.stdout)
        self.assertIn('s06_ann_ivfpq', r.stdout)


if __name__ == '__main__':
    unittest.main()
