"""Tests of tools/dup_windows.py on small synthetic source trees.

    python3 -m unittest discover -s tools -p 'test_dup_windows.py'
"""
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import dup_windows  # noqa: E402


def block(tag, n):
    return [f'val {tag}{i} = {i}' for i in range(n)]


class DupWindowsTest(unittest.TestCase):

    def test_window_shared_by_two_files_marks_five_lines_in_each(self):
        shared = block('s', 5)
        files = {'A.scala': '\n'.join(block('a', 3) + shared),
                 'B.scala': '\n'.join(shared + block('b', 4))}
        self.assertEqual(dup_windows.count(files), {'A.scala': (5, 8), 'B.scala': (5, 9)})

    def test_comments_and_blanks_neither_count_nor_break_a_window(self):
        shared = block('s', 5)
        interrupted = (shared[:2] + ['', '// a comment', '/** doc', '  * more', '  */']
                       + shared[2:4] + ['   ', '/* one-liner */'] + shared[4:])
        files = {'A.scala': '\n'.join(shared), 'B.scala': '\n'.join(interrupted)}
        self.assertEqual(dup_windows.count(files), {'A.scala': (5, 5), 'B.scala': (5, 5)})

    def test_whitespace_is_normalized(self):
        shared = block('s', 5)
        spaced = ['    ' + line.replace(' = ', '  =\t') for line in shared]
        files = {'A.scala': '\n'.join(shared), 'B.scala': '\n'.join(spaced)}
        self.assertEqual(dup_windows.count(files), {'A.scala': (5, 5), 'B.scala': (5, 5)})

    def test_a_four_line_repeat_counts_nothing(self):
        shared = block('s', 4)
        files = {'A.scala': '\n'.join(shared + ['val x = 1']),
                 'B.scala': '\n'.join(shared + ['val y = 2'])}
        self.assertEqual(dup_windows.count(files), {'A.scala': (0, 5), 'B.scala': (0, 5)})

    def test_overlapping_windows_count_each_line_once(self):
        # a 7-line run repeated: three windows repeat, seven lines count
        shared = block('s', 7)
        files = {'A.scala': '\n'.join(shared),
                 'B.scala': '\n'.join(['val b = 0'] + shared)}
        self.assertEqual(dup_windows.count(files), {'A.scala': (7, 7), 'B.scala': (7, 8)})

    def test_a_repeat_within_one_file_counts(self):
        shared = block('s', 5)
        files = {'A.scala': '\n'.join(shared + ['val mid = 0'] + shared)}
        self.assertEqual(dup_windows.count(files), {'A.scala': (10, 11)})

    def test_python_hash_comments(self):
        self.assertEqual(dup_windows.code_lines('# c\nx = 1\n\n  # d\ny = 2\n', python=True),
                         ['x = 1', 'y = 2'])

    def test_cli_prints_files_then_total(self):
        with tempfile.TemporaryDirectory() as d:
            root = Path(d)
            (root / 'A.scala').write_text('\n'.join(block('s', 5)))
            (root / 'B.scala').write_text('\n'.join(block('s', 5) + ['val z = 9']))
            (root / 'notes.txt').write_text('\n'.join(block('s', 5)))
            out = subprocess.run([sys.executable, str(HERE / 'dup_windows.py'), d],
                                 capture_output=True, text=True, check=True).stdout
        lines = out.strip().splitlines()
        self.assertEqual(len(lines), 3)
        # equal counts fall back to path order
        self.assertEqual(lines[0].split()[:3], ['5', '/', '5'])
        self.assertTrue(lines[0].endswith('A.scala'))
        self.assertEqual(lines[1].split()[:3], ['5', '/', '6'])
        self.assertTrue(lines[1].endswith('B.scala'))
        self.assertEqual(lines[2].split(), ['10', '/', '11', 'total'])


if __name__ == '__main__':
    unittest.main()
