"""Tests for the benchmark's own code.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator tests build the program and run the generator JVM on small
corpora under .bench_build/test (about a minute on 4 cores).
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

TEST_ROOT = build.BUILD / 'test'
DRIFT = run.CONFIG['workloads']['oltp_drift']


def small(rows, **binlog):
    return {**DRIFT, 'binlog': {**DRIFT['binlog'], 'rows': rows, **binlog}}


def files_under(root):
    return {str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob('*')) if p.is_file()}


def shares(corpus):
    breakdown = corpus.manifest['breakdown']
    total = sum(breakdown.values())
    return {k.split('\t')[2]: v / total for k, v in breakdown.items()}


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        shutil.rmtree(TEST_ROOT, ignore_errors=True)
        cls.program = build.build()

    def corpus(self, root, seed, cfg):
        return run.Corpus('test', seed, self.program, cfg=cfg, root=TEST_ROOT / root)

    def test_same_seed_gives_identical_bytes_and_manifest(self):
        cfg = small(3000, files_per_core=0, files=2)
        a = self.corpus('a', 7, cfg)
        b = self.corpus('b', 7, cfg)
        self.assertEqual(a.manifest, b.manifest)
        for side in ('binlog', 'avro'):
            got_a, got_b = files_under(getattr(a, side)), files_under(getattr(b, side))
            self.assertTrue(got_a, f'no {side} files written')
            self.assertEqual(got_a.keys(), got_b.keys())
            for name in got_a:
                self.assertEqual(got_a[name], got_b[name], f'{side}/{name} differs')

    def test_other_seed_keeps_each_status_share_within_one_point(self):
        cfg = small(20000)
        first = shares(self.corpus('shares', 1, cfg))
        second = shares(self.corpus('shares', 2, cfg))
        self.assertEqual(first.keys(), second.keys())
        for status in first:
            self.assertAlmostEqual(first[status], second[status], delta=0.01, msg=status)


class ManifestCheckTest(unittest.TestCase):
    MANIFEST = {
        'summary': {'matched': 9, 'mismatches': 2, 'avro_only': 1, 'binlog_only': 1,
                    'consistent': False},
        'breakdown': {'sf\tlineitem\tMATCH': 6, 'sf\tlineitem\tMISMATCH_TS': 2,
                      'sf\tlineitem\tMISMATCH_GTID': 1, 'sf\tlineitem\tAVRO_ONLY': 1,
                      'sf\tlineitem\tBINLOG_ONLY': 1},
    }

    def setUp(self):
        self.out = TEST_ROOT / 'out'
        shutil.rmtree(self.out, ignore_errors=True)
        self.write('summary', [self.MANIFEST['summary']])
        self.write('breakdown', [{'schema': 'sf', 'table': 'lineitem', 'status': k.split('\t')[2],
                                  'count': n} for k, n in self.MANIFEST['breakdown'].items()])
        for key, n in self.MANIFEST['breakdown'].items():
            status = key.split('\t')[2]
            if status != 'MATCH':
                self.write(f'detail/status={status}', [{'position': i} for i in range(n)])
        (self.out / 'detail' / '_SUCCESS').touch()

    def write(self, d, rows):
        path = self.out / d
        path.mkdir(parents=True, exist_ok=True)
        (path / 'part-00000.json').write_text(''.join(json.dumps(r) + '\n' for r in rows))
        (path / '_SUCCESS').touch()

    def test_faithful_outputs_pass(self):
        self.assertEqual(run.check_outputs(self.out, self.MANIFEST), [])

    def test_doctored_summary_is_rejected(self):
        self.write('summary', [{**self.MANIFEST['summary'], 'matched': 10}])
        self.assertTrue(run.check_outputs(self.out, self.MANIFEST))

    def test_doctored_breakdown_or_detail_is_rejected(self):
        rows = [{'schema': 'sf', 'table': 'lineitem', 'status': 'MATCH', 'count': 7}]
        self.write('breakdown', rows)
        self.assertTrue(run.check_outputs(self.out, self.MANIFEST))
        self.setUp()
        self.write('detail/status=MISMATCH_TS', [{'position': 1}])
        self.assertTrue(run.check_outputs(self.out, self.MANIFEST))

    def test_uncommitted_output_is_rejected(self):
        (self.out / 'summary' / '_SUCCESS').unlink()
        self.assertTrue(run.check_outputs(self.out, self.MANIFEST))


class BareDirectoryTest(unittest.TestCase):

    def test_fails_without_program_sources(self):
        bare = TEST_ROOT / 'bare'
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(Path(__file__).resolve().parent, bare / 'perfbench',
                        ignore=shutil.ignore_patterns('__pycache__'))
        shutil.copy('BENCHMARK.json', bare)
        p = subprocess.run([sys.executable, 'perfbench/run.py', '--workload', 'oltp_clean',
                            '--seed', '1', '--seconds', '1', '--trace', '0'],
                           cwd=bare, capture_output=True, text=True, timeout=60)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)


if __name__ == '__main__':
    unittest.main()
