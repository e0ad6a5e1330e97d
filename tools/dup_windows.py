#!/usr/bin/env python3
"""Count the code lines that sit in a repeated 5-line window.

    python3 tools/dup_windows.py src/main
    python3 tools/dup_windows.py src/main/scala/graft/sources

A line is code when it is neither blank nor a comment. Comments are `//`
lines, `/* ... */` blocks (scaladoc included) and, in Python files, `#`
lines. The code lines of each file, in order and with comment and blank
lines left out, form overlapping windows of 5 lines. A window's text is
its lines with runs of whitespace collapsed. A code line counts as
repeated when it lies in some window whose text appears at least twice in
the scanned tree, in one file or in two. Each line counts once, however
many repeated windows cover it.

Prints one line per source file (`.scala`, `.java`, `.py`) under the given
roots, `repeated / code  path`, the most repeated first, then the total.
Standard library only.
"""
import re
import sys
from collections import Counter
from pathlib import Path

WINDOW = 5
SUFFIXES = ('.scala', '.java', '.py')
SPACE = re.compile(r'\s+')


def code_lines(text, python=False):
    """The whitespace-normalized code lines of one file, in order."""
    out = []
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            if '*/' in line:
                in_block = False
                line = line.split('*/', 1)[1].strip()
            else:
                continue
        if python:
            if line.startswith('#'):
                continue
        elif line.startswith('/*'):
            if '*/' not in line:
                in_block = True
                continue
            line = line.split('*/', 1)[1].strip()
        if not line or (not python and line.startswith('//')):
            continue
        out.append(SPACE.sub(' ', line))
    return out


def windows(lines):
    return [tuple(lines[i:i + WINDOW]) for i in range(len(lines) - WINDOW + 1)]


def count(files):
    """{name: (repeated, code)} for a {name: text} map of files."""
    lines = {name: code_lines(text, name.endswith('.py')) for name, text in files.items()}
    seen = Counter(w for ls in lines.values() for w in windows(ls))
    result = {}
    for name, ls in lines.items():
        repeated = set()
        for i, w in enumerate(windows(ls)):
            if seen[w] >= 2:
                repeated.update(range(i, i + WINDOW))
        result[name] = (len(repeated), len(ls))
    return result


def main(argv):
    if not argv:
        sys.exit('usage: dup_windows.py <root> [<root> ...]')
    files = {}
    for root in map(Path, argv):
        paths = [root] if root.is_file() else sorted(root.rglob('*'))
        for p in paths:
            if p.is_file() and p.suffix in SUFFIXES:
                files[str(p)] = p.read_text(encoding='utf-8', errors='replace')
    result = count(files)
    for name, (rep, code) in sorted(result.items(), key=lambda kv: (-kv[1][0], kv[0])):
        print(f'{rep:6d} / {code:6d}  {name}')
    print(f'{sum(r for r, _ in result.values()):6d} / '
          f'{sum(c for _, c in result.values()):6d}  total')


if __name__ == '__main__':
    main(sys.argv[1:])
