"""Tests of tools/fixture_digest.py on small synthetic tmpdir roots.

    python3 -m unittest discover -s tools -p 'test_fixture_digest.py'
"""
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import fixture_digest  # noqa: E402

TAG = 'cfc1c0f83032'


def part(n, uuid):
    return f'part-{n:05d}-{uuid}-c000.json'


UUID_A = '3f2a0c1e-1111-4a2b-9c3d-0123456789ab'
UUID_B = '9e8d7c6b-2222-4f3e-8d2c-ba9876543210'


class FixtureDigestTest(unittest.TestCase):

    def roots(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        a, b = Path(tmp.name) / 'a', Path(tmp.name) / 'b'
        a.mkdir()
        b.mkdir()
        return a, b

    def gate(self, tmpdir, gate, uuid, feed_byte=b'\x01', ckpt=b'offsets 0'):
        root = tmpdir / f'graft_{gate}_{TAG}'
        files = {
            'feed/mysql-bin.000001': b'\xfebin' + feed_byte,
            'feed/.mysql-bin.000001.crc': b'crc' + feed_byte,
            'staging/mysql-bin.000002': b'\xfebin2',
            'afeed/a1/' + part(0, uuid): b'{"k": 1}\n',
            'afeed/a1/_SUCCESS': b'',
            'st1/mysql-bin.000003': b'\xfebin3',
            'ckpt/offsets/0': ckpt,
            'state/batch_id=0/' + part(0, uuid).replace('.json', '.parquet'): b'PAR1' + ckpt,
            'sink/_spark_metadata/0': ckpt,
        }
        for rel, data in files.items():
            p = root / rel
            p.parent.mkdir(parents=True, exist_ok=True)
            p.write_bytes(data)

    def run_tool(self, a, b):
        return subprocess.run([sys.executable, str(HERE / 'fixture_digest.py'), str(a), str(b)],
                              capture_output=True, text=True)

    def test_part_uuids_differ_only_equal(self):
        a, b = self.roots()
        self.gate(a, 'cdc12', UUID_A)
        self.gate(b, 'cdc12', UUID_B)
        self.assertEqual(fixture_digest.diff(a, b)[:4], (['cdc12'], [], [], []))
        self.assertEqual(sorted(fixture_digest.gates(a)['cdc12']),
                         ['afeed/a1/_SUCCESS', 'afeed/a1/part-00000-c000.json',
                          'feed/mysql-bin.000001', 'st1/mysql-bin.000003',
                          'staging/mysql-bin.000002'])
        r = self.run_tool(a, b)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn('1 gate(s) equal, 0 differ', r.stdout)

    def test_one_changed_byte_listed(self):
        a, b = self.roots()
        self.gate(a, 'cdc12', UUID_A)
        self.gate(a, 'cdc57', UUID_A)
        self.gate(b, 'cdc12', UUID_A)
        self.gate(b, 'cdc57', UUID_A, feed_byte=b'\x02')
        self.assertEqual(fixture_digest.diff(a, b)[:4], (['cdc12'], ['cdc57'], [], []))
        r = self.run_tool(a, b)
        self.assertEqual(r.returncode, 1)
        self.assertIn('differs  cdc57: feed/mysql-bin.000001', r.stdout)

    def test_gate_on_one_side_listed(self):
        a, b = self.roots()
        self.gate(a, 'cdc12', UUID_A)
        self.gate(a, 's56', UUID_A)
        self.gate(b, 'cdc12', UUID_A)
        self.assertEqual(fixture_digest.diff(a, b)[:4], (['cdc12'], [], ['s56'], []))
        r = self.run_tool(a, b)
        self.assertEqual(r.returncode, 1)
        self.assertIn('s56', r.stdout)

    def test_checkpoint_state_and_sink_ignored(self):
        a, b = self.roots()
        self.gate(a, 'cdc18', UUID_A, ckpt=b'offsets 1')
        self.gate(b, 'cdc18', UUID_B, ckpt=b'offsets 2')
        self.assertEqual(fixture_digest.diff(a, b)[:4], (['cdc18'], [], [], []))
        self.assertEqual(self.run_tool(a, b).returncode, 0)


if __name__ == '__main__':
    unittest.main()
