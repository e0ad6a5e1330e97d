#!/usr/bin/env python3
"""Cold end-to-end and per-layer benchmark of graft's binlog <-> Avro compare.

Run from the root of a checkout:

    python3 perfbench/run.py --workload oltp_drift --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1

The first run in a checkout builds the program from source
(perfbench/build.py) and, for the workload it runs and every workload in
BENCHMARK.json, perfbench/scala/Gen.scala writes the binlog and an Avro
template of every record a seed can choose, with the engine's own
writers. Each run then picks the seed's records from the template into its
Avro containers and a manifest of the expected outputs, and starts cold
`graft.cli.Main` processes on the corpus, one after another, until
`--seconds` have passed. Every process is a fresh JVM with a fresh --out,
checked against the manifest; a crash or a wrong output counts as a failed
run, never as a timing.

On bulk_split, the one-time set-up also builds the binlog split index in
a fresh JVM (perfbench/scala/Index.scala). Its build time, one sample per
checkout, is added to setup_s; the timed runs read that index without
auto-build.

With `--trace 1` the run instead times four nested prefixes of the same
plan (perfbench/scala/Trace.scala) and reports the per-layer metrics: the
first three warm in one JVM, after a cold run of the third, and the last,
the CLI itself, in a JVM of its own. The self times of the layers sum to
the last prefix's wall, which is set against the compare_s of an
untraced cold run made just before it.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics. Everything the benchmark writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
CONFIG = json.loads((HERE / 'workloads.json').read_text())
CORES = os.cpu_count() or 1
# a fixed heap, the throughput collector with one GC thread and two JIT
# compiler threads, so that the JVM's own threads do not crowd the cores
# Spark's task threads already fill. With G1 the peak RSS of one cold run
# wandered by 20 % between runs, with ParallelGC by under 1 %; with its
# default of one GC thread per core, a single busy core stretched a cold
# run's JVM start from 6 s to 10-15 s in some runs, since each parallel
# collection waits for its slowest thread.
JVM_OPTS = ['-Xmx3g', '-XX:+UseParallelGC', '-XX:ParallelGCThreads=1', '-XX:CICompilerCount=2']
MB = 1e6
PROCESS_LIMIT_S = 150
ADD_OPENS = [arg for pkg in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
    'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
    'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')
    for arg in ('--add-opens', f'java.base/{pkg}=ALL-UNNAMED')]


def digest(*parts):
    return hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()


def java(main_class, args, workdir):
    """A JVM command whose Spark scratch space stays inside `workdir`. It
    sets only what a deployment has to (heap, scratch dirs, no UI port and,
    in java_env, the master); every other Spark setting is the program's
    default."""
    tmp = workdir / 'tmp'
    tmp.mkdir(parents=True, exist_ok=True)
    props = {'spark.ui.enabled': 'false', 'spark.local.dir': str(tmp)}
    return ['java', *ADD_OPENS, *JVM_OPTS, f'-Djava.io.tmpdir={tmp}',
            *[f'-D{k}={v}' for k, v in props.items()],
            '-cp', build.classpath(), main_class, *args]


def java_env():
    env = dict(os.environ, SPARK_MASTER=f'local[{CORES}]')
    env.pop('SPARK_LOCAL_DIRS', None)  # would override spark.local.dir
    return env


def launch(cmd, workdir, on_line=None):
    """Run one JVM to exit; returns (exit code, peak RSS in MB). `on_line`
    sees each stdout line with its arrival time."""
    workdir.mkdir(parents=True, exist_ok=True)
    with open(workdir / 'stderr.log', 'wb') as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, cwd=workdir,
                             env=java_env())
        killer = threading.Timer(PROCESS_LIMIT_S, p.kill)
        killer.start()
        try:
            with open(workdir / 'stdout.log', 'wb') as out:
                for raw in p.stdout:
                    now = time.monotonic()
                    out.write(raw)
                    if on_line:
                        on_line(raw.decode('utf-8', 'replace'), now)
            p.stdout.close()
            _, status, usage = os.wait4(p.pid, 0)
            p.returncode = os.waitstatus_to_exitcode(status)
        finally:
            killer.cancel()
            if p.returncode is None:
                p.kill()
                p.wait()
    return p.returncode, usage.ru_maxrss / 1024


def gen(args, workdir):
    code, _ = launch(java('perfbench.Gen', args, workdir), workdir)
    if code != 0:
        raise SystemExit(f'corpus generator failed; see {workdir}/stderr.log')


def dir_bytes(path):
    return sum(p.stat().st_size for p in Path(path).rglob('*') if p.is_file())


# template record order per row (see perfbench/scala/Gen.scala); the key's
# AVRO_ONLY extra follows its last row
VARIANTS = ('MATCH', 'MISMATCH_TS', 'MISMATCH_GTID', 'MISMATCH_CHANGE_TYPE')
AVRO_BLOCK_BYTES = 64000  # the Avro writer's default sync interval


def draw(seed, salt, *key):
    """Uniform [0, 1) draw keyed by the seed, a salt and a record key."""
    h = hashlib.blake2b('|'.join(map(str, (seed, salt, *key))).encode(), digest_size=8)
    return int.from_bytes(h.digest(), 'big') / 2 ** 64


def read_long(buf, i):
    """Avro zigzag varint at buf[i]; returns (value, next index)."""
    n = shift = 0
    while True:
        b = buf[i]
        i += 1
        n |= (b & 0x7F) << shift
        shift += 7
        if b < 0x80:
            return (n >> 1) ^ -(n & 1), i


def write_long(n):
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def template_records(path):
    """Header (without its sync marker) and records of a container that
    holds one record per block, as the generator writes the template."""
    data = path.read_bytes()
    sync = data[-16:]
    i = data.index(sync) + 16
    header = data[:i - 16]
    if b'avro.codec' in header and b'\x14avro.codec\x08null' not in header:
        raise SystemExit(f'{path}: the template must be uncompressed')
    records = []
    while i < len(data):
        count, i = read_long(data, i)
        size, i = read_long(data, i)
        if count != 1 or data[i + size:i + size + 16] != sync:
            raise SystemExit(f'{path}: expected one record per block')
        records.append(data[i:i + size])
        i += size + 16
    return header, records


def assemble(keys, template, out, seed, shares, files):
    """The seed's Avro containers, picked record by record from the template;
    returns the count of each status the picks imply."""
    header, records = template_records(template)
    cuts = [shares['ts'], shares['ts'] + shares['gtid'],
            shares['ts'] + shares['gtid'] + shares['change_type']]
    variant = (1, 2, 3, 0)  # below each cut: TS, GTID, CHANGE_TYPE; above: MATCH
    counts = dict.fromkeys((*VARIANTS, 'AVRO_ONLY', 'BINLOG_ONLY'), 0)
    picked = []
    offset = 0
    for line in keys.read_text().splitlines():
        k = json.loads(line)
        f, p, n = k['binlog_file'], k['pos'], k['nrows']
        if draw(seed, 'drop', f, p) < shares['binlog_only']:
            counts['BINLOG_ONLY'] += 1
        else:
            for r in range(n):
                v = variant[sum(draw(seed, 'status', f, p, r) >= c for c in cuts)]
                picked.append(offset + len(VARIANTS) * r + v)
                counts[VARIANTS[v]] += 1
        if draw(seed, 'extra', f, p) < shares['avro_only']:
            picked.append(offset + len(VARIANTS) * n)
            counts['AVRO_ONLY'] += 1
        offset += len(VARIANTS) * n + 1
    if offset != len(records):
        raise SystemExit(f'{template} holds {len(records)} records, keys imply {offset}')
    out.mkdir(parents=True)
    per_file = -(-len(picked) // files)
    for i in range(files):
        sync = hashlib.md5(f'{seed}/{i}'.encode()).digest()
        with open(out / f'part-r-{i:05d}.avro', 'wb') as fh:
            fh.write(header + sync)
            block = []
            for j in picked[i * per_file:(i + 1) * per_file] + [None]:
                if j is not None:
                    block.append(records[j])
                if block and (j is None or sum(map(len, block)) >= AVRO_BLOCK_BYTES):
                    data = b''.join(block)
                    fh.write(write_long(len(block)) + write_long(len(data)) + data + sync)
                    block = []
    return counts


def split_bytes(binlog_bytes):
    """Split index range size: 2 ranges per core over the binlog."""
    return max(1, binlog_bytes // (2 * CORES))


def set_up(name, program, cfg=None, root=None):
    """The seed-independent inputs of a workload, written once per checkout
    under `root`: the binlog, its keys and the Avro template (perfbench.Gen)
    and, with --split-index, the split index, built in a fresh JVM and
    timed (perfbench.Index). Returns the generator's stamp."""
    cfg = cfg or CONFIG['workloads'][name]
    root = root or build.BUILD / 'corpus' / name
    b = cfg['binlog']
    files = b.get('files') or b['files_per_core'] * CORES
    binlog_stamp = digest(b, files, CORES, build.tree_digest(HERE / 'scala'), program)
    stamp = root / 'binlog.stamp'
    if stamp.exists() and stamp.read_text() == binlog_stamp:
        return binlog_stamp
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    binlog = root / 'binlog'
    gen(['--binlog', str(binlog), '--keys', str(root / 'keys.jsonl'),
         '--template', str(root / 'template'), '--result', str(root / 'binlog.json'),
         '--rows', str(b['rows']), '--files', str(files),
         '--rows_per_event', str(b['rows_per_event']), '--rows_per_txn', str(b['rows_per_txn'])],
        root / 'gen')
    if '--split-index' in cfg['flags']:
        workdir = root / 'index-build'
        code, _ = launch(java('perfbench.Index', [
            '--binlog', str(binlog), '--index', str(root / 'index'),
            '--split-bytes', str(split_bytes(dir_bytes(binlog))),
            '--result', str(root / 'index.json')], workdir), workdir)
        if code != 0:
            raise SystemExit(f'split index build failed; see {workdir}/stderr.log')
    stamp.write_text(binlog_stamp)
    return binlog_stamp


class Corpus:
    """The workload's inputs and manifest for one seed under .bench_build/corpus:
    the inputs of set_up, and the seed's Avro containers, picked from the
    template on every run."""

    def __init__(self, name, seed, program, cfg=None, root=None):
        cfg = cfg or CONFIG['workloads'][name]
        root = root or build.BUILD / 'corpus' / name
        self.name, self.cfg = name, cfg
        b = cfg['binlog']
        files = b.get('files') or b['files_per_core'] * CORES
        self.binlog = root / 'binlog'
        self.split = '--split-index' in cfg['flags']
        self.index = root / 'index' if self.split else None
        binlog_stamp = set_up(name, program, cfg, root)
        stats = json.loads((root / 'binlog.json').read_text())
        # the one build of the split index, timed in set_up
        self.index_build = (json.loads((root / 'index.json').read_text()) if self.split
                            else {'build_s': 0.0})

        self.dir = root / 'seed'
        shutil.rmtree(self.dir, ignore_errors=True)
        self.avro = self.dir / 'avro'
        counts = assemble(root / 'keys.jsonl', next((root / 'template').glob('*.avro')),
                          self.avro, seed, cfg['shares'], cfg['avro']['files'])
        os.sync()  # no write-back of the fresh corpus during the timed runs
        matched = sum(counts[v] for v in VARIANTS)
        self.manifest = {
            'workload': name, 'seed': seed, 'generator': digest(binlog_stamp, cfg),
            'summary': {'matched': matched, 'mismatches': counts['MISMATCH_TS'],
                        'avro_only': counts['AVRO_ONLY'], 'binlog_only': counts['BINLOG_ONLY'],
                        'consistent': not (counts['MISMATCH_TS'] or counts['AVRO_ONLY']
                                           or counts['BINLOG_ONLY'])},
            'breakdown': {f'sf\tlineitem\t{s}': n for s, n in sorted(counts.items()) if n},
            'binlog_events': stats['events'], 'binlog_dml_rows': stats['dml_rows'],
            'binlog_files': files, 'binlog_bytes': dir_bytes(self.binlog),
            'avro_records': matched + counts['AVRO_ONLY'], 'avro_files': cfg['avro']['files'],
            'avro_bytes': dir_bytes(self.avro),
        }
        (self.dir / 'manifest.json').write_text(json.dumps(self.manifest, indent=1))

    def split_bytes(self):
        return split_bytes(self.manifest['binlog_bytes'])

    def main_args(self):
        args = ['--binlog-binary', str(self.binlog), '--avro', str(self.avro)]
        if self.split:
            args += ['--split-index', str(self.index), '--no-split-index-auto-build',
                     '--split-bytes', str(self.split_bytes())]
        return args


def read_rows(path):
    rows = []
    for f in sorted(Path(path).glob('*.json')):
        rows += [json.loads(line) for line in f.read_text().splitlines() if line.strip()]
    return rows


def check_outputs(out, manifest):
    """Differences between a run's --out and the manifest; empty if it matches."""
    out = Path(out)
    for d in ('summary', 'breakdown', 'detail'):
        if not (out / d / '_SUCCESS').exists():
            return [f'{d}/ missing or not committed']
    problems = []
    summary = read_rows(out / 'summary')
    want = manifest['summary']
    if len(summary) != 1:
        problems.append(f'summary/ has {len(summary)} rows, expected 1')
    else:
        problems += [f'summary {k} = {summary[0].get(k)}, expected {v}'
                     for k, v in want.items() if summary[0].get(k) != v]
    got = {f"{r['schema']}\t{r['table']}\t{r['status']}": r['count']
           for r in read_rows(out / 'breakdown')}
    if got != manifest['breakdown']:
        problems.append(f'breakdown {got} != expected {manifest["breakdown"]}')
    for key, n in manifest['breakdown'].items():
        status = key.split('\t')[2]
        if status == 'MATCH':
            continue
        lines = sum(len(f.read_text().splitlines())
                    for f in (out / 'detail' / f'status={status}').glob('*.json'))
        if lines != n:
            problems.append(f'detail status={status} has {lines} rows, expected {n}')
    return problems


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: other tenants' share of the host."""
    fields = [int(x) for x in Path('/proc/stat').read_text().split('\n')[0].split()[1:]]
    return fields[7], sum(fields)


def cold_run(corpus, workdir):
    """One untraced CLI process; its timings, peak RSS and output problems."""
    marks = {}

    def on_line(line, now):
        for tag in ('processing', 'finished'):
            if line.startswith(f'[graft] {tag}'):
                marks[tag] = now

    out = workdir / 'out'
    ticks = cpu_ticks()
    start = time.monotonic()
    code, rss = launch(java('graft.cli.Main', [*corpus.main_args(), '--out', str(out)],
                            workdir), workdir, on_line)
    wall = time.monotonic() - start
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    print(f'{corpus.name}: cold run {wall:.2f} s, {100 * steal / max(1, total):.1f} % of '
          'CPU time stolen by other tenants', file=sys.stderr)
    problems = [] if code == 0 else [f'exit code {code}']
    if len(marks) < 2:
        problems.append('CLI did not print its processing/finished lines')
    problems += check_outputs(out, corpus.manifest) if code == 0 else []
    run = {'ok': not problems, 'problems': problems, 'wall_s': wall, 'peak_rss_mb': rss}
    if len(marks) == 2:
        run.update(setup_s=marks['processing'] - start,
                   compare_s=marks['finished'] - marks['processing'])
    return run


def timed(corpus, seconds, runs_dir):
    runs = []
    start = time.monotonic()
    while not runs or time.monotonic() - start < seconds:
        workdir = runs_dir / f'cold-{len(runs)}'
        runs.append(cold_run(corpus, workdir))
        if runs[-1]['ok']:
            shutil.rmtree(workdir, ignore_errors=True)
    return runs


def end_to_end(corpus, runs):
    ok = [r for r in runs if r['ok']]
    m = corpus.manifest
    if not ok:
        return {'ok_frac': (0.0, 'ratio')}
    med = {k: statistics.median(r[k] for r in ok)
           for k in ('wall_s', 'setup_s', 'compare_s', 'peak_rss_mb')}
    per_core_s = med['compare_s'] * CORES
    return {
        'wall_s': (med['wall_s'], 's'),
        'setup_s': (med['setup_s'] + corpus.index_build['build_s'], 's'),
        'compare_s': (med['compare_s'], 's'),
        'events_per_s_per_core': ((m['binlog_events'] + m['avro_records']) / per_core_s, '1/s'),
        'mb_per_s_per_core': ((m['binlog_bytes'] + m['avro_bytes']) / MB / per_core_s, 'MB/s'),
        'peak_rss_mb': (med['peak_rss_mb'], 'MB'),
        'ok_frac': (len(ok) / len(runs), 'ratio'),
    }


# the spans of each traced prefix (see perfbench/scala/Trace.scala): the
# nested prefixes 1-3 warm, prefix 3 cold, and the CLI itself
PREFIXES = {1: ('ingest.binlog', 'ingest.avro'), 2: ('cdc.prepare_binlog', 'cdc.prepare_avro'),
            3: ('cdc.compare',), 'cold': ('cold.cdc.compare',), 4: ('cli.main',)}


def traced(corpus, runs_dir):
    """The two traced JVMs, with an untraced cold run just before the CLI's;
    returns their results and the runs whose outputs were checked."""
    traces, runs = {}, []
    for mode in ('layers', 'cli'):
        if mode == 'cli':
            runs.append(cold_run(corpus, runs_dir / 'reference'))
        workdir = runs_dir / f'trace-{mode}'
        result = workdir / 'trace.json'
        index = (['--index', str(workdir / 'index'), '--split-bytes', str(corpus.split_bytes())]
                 if corpus.split and mode == 'layers' else [])
        start = time.monotonic()
        code, _ = launch(java('perfbench.Trace',
                              ['--mode', mode, '--result', str(result), *index, '--',
                               *corpus.main_args(), '--out', str(workdir / 'out')], workdir),
                         workdir)
        print(f'{corpus.name}: traced {mode} JVM {time.monotonic() - start:.2f} s',
              file=sys.stderr)
        if code != 0 or not result.exists():
            runs.append({'ok': False, 'problems': [f'traced {mode} JVM exited with code {code}']})
            return None, runs
        traces[mode] = json.loads(result.read_text())
    problems = check_outputs(runs_dir / 'trace-cli' / 'out', corpus.manifest)
    runs.append({'ok': not problems, 'problems': problems})
    return traces, runs


def per_layer(corpus, traces, reference, out):
    m = corpus.manifest
    spans = {name: s for t in traces.values() for name, s in t['spans'].items()}
    fields = ('wall_s', 'task_s', 'jobs', 'shuffle_write_bytes', 'spill_disk_bytes')
    total = {k: {f: sum(spans[n][f] for n in names) for f in fields}
             for k, names in PREFIXES.items()}
    wall = {k: t['wall_s'] for k, t in total.items()}
    seen = {n: v for t in traces.values() for n, v in t['observed'].items()}
    b, a = spans['ingest.binlog'], spans['ingest.avro']
    # the cold prefix 3 against the CLI: both pay the JVM's first-use costs
    report_self = wall[4] - wall['cold']
    report_task = total[4]['task_s'] - total['cold']['task_s']
    detail_rows = sum(len(f.read_text().splitlines())
                      for f in (out / 'detail').rglob('*.json'))
    metrics = {
        'cli.session_s': (traces['cli']['session_s'], 's'),
        # a fresh build in the layers JVM; 0 without --split-index
        'sources.split_index_build_s': (spans['sources.split_index']['wall_s']
                                        if corpus.split else 0.0, 's'),
        'sources.split_ranges': (seen.get('split_ranges', 0), 'count'),
        'ingest.binlog_decode_s': (b['wall_s'], 's'),
        'ingest.binlog_task_s': (b['task_s'], 's'),
        'ingest.binlog_tasks': (b['tasks'], 'count'),
        'ingest.binlog_idle_core_s': (b['wall_s'] * CORES - b['task_s'], 's'),
        'ingest.binlog_events': (seen['binlog_events'], 'count'),
        'ingest.binlog_mb': (m['binlog_bytes'] / MB, 'MB'),
        'ingest.avro_decode_s': (a['wall_s'], 's'),
        'ingest.avro_task_s': (a['task_s'], 's'),
        'ingest.avro_tasks': (a['tasks'], 'count'),
        'ingest.avro_records': (seen['avro_records'], 'count'),
        'ingest.avro_mb': (m['avro_bytes'] / MB, 'MB'),
        'cdc.prepare_self_s': (wall[2] - wall[1], 's'),
        'cdc.prepare_shuffle_mb': (total[2]['shuffle_write_bytes'] / MB, 'MB'),
        'cdc.dedup_keep_ratio': (seen['binlog_keys'] / seen['binlog_events'], 'ratio'),
        'cdc.compare_self_s': (wall[3] - wall[2], 's'),
        'cdc.compare_task_s': (total[3]['task_s'] - total[2]['task_s'], 's'),
        'cdc.compare_shuffle_mb': ((total[3]['shuffle_write_bytes']
                                    - total[2]['shuffle_write_bytes']) / MB, 'MB'),
        'cdc.compare_spill_mb': (total[3]['spill_disk_bytes'] / MB, 'MB'),
        'cdc.compare_rows': (seen['compare_rows'], 'count'),
        'cdc.match_ratio': (seen['match_rows'] / seen['compare_rows'], 'ratio'),
        'cli.cold_start_s': (wall['cold'] - wall[3], 's'),
        'cli.report_self_s': (report_self, 's'),
        'cli.report_task_s': (report_task, 's'),
        'cli.report_jobs': (total[4]['jobs'] - total['cold']['jobs'], 'count'),
        'cli.report_idle_core_s': (report_self * CORES - report_task, 's'),
        'cli.report_detail_rows': (detail_rows, 'count'),
        'cli.report_sink_mb': (dir_bytes(out) / MB, 'MB'),
        'cli.report_cache_mb': (traces['cli']['cache_peak_bytes'] / MB, 'MB'),
        'trace.full_prefix_s': (wall[4], 's'),
    }
    if reference['ok']:
        metrics['trace.prefix_vs_untraced'] = (wall[4] / reference['compare_s'], 'ratio')
    return metrics


def run_workload(name, seed, seconds, trace, program):
    corpus = Corpus(name, seed, program)
    m = corpus.manifest
    runs_dir = build.BUILD / 'runs' / name
    shutil.rmtree(runs_dir, ignore_errors=True)
    print(f'{name}: binlog {m["binlog_bytes"] / MB:.1f} MB in {m["binlog_files"]} file(s), '
          f'{m["binlog_events"]} events; Avro {m["avro_bytes"] / MB:.1f} MB in '
          f'{m["avro_files"]} file(s), {m["avro_records"]} records; CLI flags '
          f'{" ".join(corpus.main_args()[4:]) or "none"}', file=sys.stderr)
    if not trace:
        runs = timed(corpus, seconds, runs_dir)
        return runs, end_to_end(corpus, runs)
    traces, runs = traced(corpus, runs_dir)
    if traces is None:
        return runs, {}
    return runs, per_layer(corpus, traces, runs[0], runs_dir / 'trace-cli' / 'out')


def result_json(runs, metrics):
    failed = [r for r in runs if not r['ok']]
    return {'correct': bool(runs) and not failed, 'attempted': len(runs),
            'failed': len(failed),
            'metrics': {k: {'value': v, 'unit': u} for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True,
                    choices=[*CONFIG['workloads'], 'all'])
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops and reaps the JVM it started (see launch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = list(CONFIG['workloads']) if a.workload == 'all' else [a.workload]
    # the first run in a checkout builds the program and every benchmarked
    # workload's seed-independent inputs, so that no later run pays for them
    program = build.build()
    bench = Path('BENCHMARK.json')
    listed = [w['name'] for w in json.loads(bench.read_text())['workloads']] if bench.exists() else []
    for name in dict.fromkeys([*names, *listed]):
        set_up(name, program)
    results = {}
    for name in names:
        runs, metrics = run_workload(name, a.seed, a.seconds, bool(a.trace), program)
        for i, r in enumerate(runs):
            if not r['ok']:
                print(f'{name}: run {i} failed: {"; ".join(r["problems"])}', file=sys.stderr)
        results[name] = result_json(runs, metrics)
        rows = [*metrics.items(),
                ('failed_frac', (results[name]['failed'] / max(1, len(runs)), 'ratio'))]
        for k, (v, u) in rows:
            print(f'{name:12s} {k:32s} {v:14.4f} {u}')
    print(json.dumps(results[names[0]] if len(names) == 1 else results))


if __name__ == '__main__':
    main()
