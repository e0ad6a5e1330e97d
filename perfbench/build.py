"""Build the program and the benchmark's own Scala code from source.

Run from the root of a checkout: `python3 perfbench/build.py`.

The program (`src/main/scala` plus `src/main/resources`) and the
benchmark (`perfbench/scala`) are compiled with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/`. A stamp of the
source bytes skips the build when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD = Path('.bench_build').resolve()
CLASSES = BUILD / 'classes'
BENCH_CLASSES = BUILD / 'bench-classes'
BENCH_SRC = Path(__file__).resolve().parent / 'scala'


def spark_jars():
    """Jars of the Spark distribution the program is built against."""
    home = os.environ.get('SPARK_HOME')
    if not home or not (Path(home) / 'jars').is_dir():
        raise SystemExit('set SPARK_HOME to the Spark 4.1 distribution to build against')
    return Path(home) / 'jars'


def classpath():
    return os.pathsep.join([str(BENCH_CLASSES.resolve()), str(CLASSES.resolve()),
                            str(spark_jars() / '*')])


def sources(root):
    return sorted(p for p in root.rglob('*') if p.is_file())


def tree_digest(*roots):
    h = hashlib.sha256()
    for root in roots:
        for p in sources(root):
            h.update(str(p).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def scalac(out, cp, files, log):
    out.mkdir(parents=True)
    cmd = ['java', '-Xss8m', '-Xmx2g', '-cp', str(spark_jars() / '*'),
           'scala.tools.nsc.Main', '-nowarn', '-d', str(out), '-cp', cp,
           *[str(f) for f in files]]
    with open(log, 'ab') as f:
        if subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode:
            raise SystemExit(f'scalac failed for {out}; see {log}')


def build():
    """Compile if the sources changed; return the program's source digest."""
    program = Path('src/main')
    if not (program / 'scala').is_dir():
        raise SystemExit('no src/main/scala here: run from the root of a graft checkout')
    digest = tree_digest(program)
    stamp = BUILD / 'build.stamp'
    stamp_value = tree_digest(program, BENCH_SRC)
    if stamp.exists() and stamp.read_text() == stamp_value:
        return digest
    BUILD.mkdir(exist_ok=True)
    stamp.unlink(missing_ok=True)
    for d in (CLASSES, BENCH_CLASSES):
        shutil.rmtree(d, ignore_errors=True)
    log = BUILD / 'build.log'
    log.unlink(missing_ok=True)
    files = [p for p in sources(program) if p.suffix in ('.scala', '.java')]
    scalac(CLASSES, str(spark_jars() / '*'), files, log)
    java = [str(p) for p in files if p.suffix == '.java']
    if java:
        with open(log, 'ab') as f:
            cp = os.pathsep.join([str(CLASSES), str(spark_jars() / '*')])
            if subprocess.run(['javac', '-nowarn', '-d', str(CLASSES), '-cp', cp, *java],
                              stdout=f, stderr=subprocess.STDOUT).returncode:
                raise SystemExit(f'javac failed; see {log}')
    if (program / 'resources').is_dir():
        shutil.copytree(program / 'resources', CLASSES, dirs_exist_ok=True)
    scalac(BENCH_CLASSES, os.pathsep.join([str(CLASSES), str(spark_jars() / '*')]),
           sources(BENCH_SRC), log)
    stamp.write_text(stamp_value)
    return digest


if __name__ == '__main__':
    build()
    print(f'built into {BUILD}', file=sys.stderr)
