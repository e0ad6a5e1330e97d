#!/usr/bin/env python3
"""List the gates whose fixture inputs differ between two runs.

    JAVA_TOOL_OPTIONS=-Djava.io.tmpdir=<rootA> tools/run_verify.sh <sf> <out> <gate>
    JAVA_TOOL_OPTIONS=-Djava.io.tmpdir=<rootB> tools/run_verify.sh <sf> <out> <gate>
    python3 tools/fixture_digest.py <rootA> <rootB>

A gate builds its fixtures under `java.io.tmpdir` in a root named
`graft_<gate>_<tag>` (`Drains.tmpFixtureDir`). Only the inputs the gate
wrote are compared: the files under its top-level `feed*`, `afeed`,
`bfeed`, `stag*` (`staging`, `stage…`) and `st<N>`/`st_…`/`st<Letter>`
directories. Checkpoints, states and sinks (`ckpt`, `state*`, `sink`,
`out`, …) vary by design and are skipped, as are hidden files (`.crc`
sidecars). A Spark part file `part-NNNNN-<uuid>…` is keyed by its part
number, so two equal outputs written by different jobs compare equal.

Prints one line per differing gate and per gate present on one side only,
then one `equal` line per equal gate with the sha256 of its sorted
`<digest>  <path>` lines, and a summary. Exits 0 when no gate is listed, 1
otherwise. Standard library only.
"""
import argparse
import hashlib
import re
import sys
from pathlib import Path

ROOT = re.compile(r'^graft_(.+)_([0-9a-f]{12})$')
INPUT = re.compile(r'^(?:a|b)?feed|^stag|^st(?:\d|_|[A-Z])')
PART = re.compile(r'part-(\d+)-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}')


def inputs(root):
    """relative input path (part names reduced) -> sha256 of its bytes."""
    out = {}
    for top in sorted(p for p in root.iterdir() if p.is_dir() and INPUT.match(p.name)):
        for f in sorted(top.rglob('*')):
            rel = f.relative_to(root)
            if f.is_file() and not any(part.startswith('.') for part in rel.parts):
                key = PART.sub(r'part-\1', str(rel))
                out[key] = hashlib.sha256(f.read_bytes()).hexdigest()
    return out


def gates(tmpdir):
    """gate name -> inputs() of its fixture root under `tmpdir`."""
    found = {}
    for p in sorted(Path(tmpdir).iterdir()):
        m = ROOT.match(p.name)
        if m and p.is_dir():
            found[m.group(1)] = inputs(p)
    return found


def digest(files):
    lines = ''.join(f'{d}  {name}\n' for name, d in sorted(files.items()))
    return hashlib.sha256(lines.encode('utf-8')).hexdigest()


def diff(a, b):
    """(equal, differing, only in a, only in b) gate-name lists, plus the
    per-gate input maps of both sides."""
    ga, gb = gates(a), gates(b)
    both = ga.keys() & gb.keys()
    return (sorted(g for g in both if ga[g] == gb[g]),
            sorted(g for g in both if ga[g] != gb[g]),
            sorted(ga.keys() - gb.keys()), sorted(gb.keys() - ga.keys()), ga, gb)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('a', help='first java.io.tmpdir root')
    ap.add_argument('b', help='second java.io.tmpdir root')
    args = ap.parse_args(argv)
    for d in (args.a, args.b):
        if not Path(d).is_dir():
            ap.error(f'not a directory: {d}')
    equal, differing, only_a, only_b, ga, gb = diff(args.a, args.b)
    for g in differing:
        files = sorted(k for k in ga[g].keys() | gb[g].keys()
                       if ga[g].get(k) != gb[g].get(k))
        print(f'differs  {g}: {", ".join(files)}')
    for g in only_a:
        print(f'only in {args.a}  {g}')
    for g in only_b:
        print(f'only in {args.b}  {g}')
    for g in equal:
        print(f'equal  {g}  {digest(ga[g])[:12]}  ({len(ga[g])} files)')
    print(f'{len(equal)} gate(s) equal, {len(differing)} differ, '
          f'{len(only_a) + len(only_b)} on one side only')
    return 1 if differing or only_a or only_b else 0


if __name__ == '__main__':
    sys.exit(main())
