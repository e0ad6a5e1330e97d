#!/usr/bin/env python3
"""List the gates whose formatted physical plans differ between two
`graft.PlanDump` directories.

    runMain graft.PlanDump <gate,gate,...> <dirA>     # at one commit
    runMain graft.PlanDump <gate,gate,...> <dirB>     # at the other
    python3 tools/plan_diff.py <dirA> <dirB>

Each `<gate>.txt` is one gate's `explain("formatted")`. Gates are matched
by file name, so dump both sides with the same suffix. Before comparing,
the ids a fresh session numbers differently are replaced by placeholders:
expression ids (`#123`), exchange plan ids (`plan_id=42`), RDD ids
(`MapPartitionsRDD[4493]`), the source position an RDD was created at
(`at localCheckpoint at Foo.scala:338`) and the JVM's name and identity
of a lambda argument (`$$Lambda$5160/0x00007f0a9145a5d0@626967a0`, as a
typed `map` prints it). Everything else, operators and
their arguments, file locations included, must match.

Prints one line per differing gate and per gate present on one side only,
then a summary line. Exits 0 when no gate is listed, 1 otherwise.
Standard library only.
"""
import argparse
import re
import sys
from pathlib import Path

NORMALIZE = [
    (re.compile(r'#\d+'), '#N'),
    (re.compile(r'plan_id=\d+'), 'plan_id=N'),
    (re.compile(r'(\w*RDD)\[\d+\]'), r'\1[N]'),
    (re.compile(r' at [\w$]+\.(?:scala|java):\d+'), ' at <src>'),
    (re.compile(r'\$Lambda(?:\$\d+)?/0x[0-9a-f]+@[0-9a-f]+'), '$Lambda@N'),
]


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def plans(d):
    """gate name -> normalized plan text of every `*.txt` in `d`."""
    return {p.stem: normalize(p.read_text(encoding='utf-8'))
            for p in sorted(Path(d).glob('*.txt'))}


def diff(a, b):
    """(equal, changed, only in a, only in b), each a sorted list of gate
    names."""
    pa, pb = plans(a), plans(b)
    both = pa.keys() & pb.keys()
    return (sorted(g for g in both if pa[g] == pb[g]),
            sorted(g for g in both if pa[g] != pb[g]),
            sorted(pa.keys() - pb.keys()), sorted(pb.keys() - pa.keys()))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('a', help='first PlanDump directory')
    ap.add_argument('b', help='second PlanDump directory')
    args = ap.parse_args(argv)
    for d in (args.a, args.b):
        if not Path(d).is_dir():
            ap.error(f'not a directory: {d}')
    equal, changed, only_a, only_b = diff(args.a, args.b)
    for g in changed:
        print(f'changed  {g}')
    for g in only_a:
        print(f'only in {args.a}  {g}')
    for g in only_b:
        print(f'only in {args.b}  {g}')
    print(f'{len(equal)} gate(s) equal, {len(changed)} changed, '
          f'{len(only_a) + len(only_b)} on one side only')
    return 1 if changed or only_a or only_b else 0


if __name__ == '__main__':
    sys.exit(main())
