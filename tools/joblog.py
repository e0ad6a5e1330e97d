#!/usr/bin/env python3
"""Timeline of one Spark application from its uncompressed event log.

Log a run with

    -Dspark.eventLog.enabled=true -Dspark.eventLog.dir=<dir>
    -Dspark.eventLog.compress=false

and summarize what Spark writes there: the `eventlog_v2_<app id>`
directory of a rolling log (Spark's default) or a single log file.

    python3 tools/joblog.py <dir>/eventlog_v2_<app id>

Every SQL execution, job and stage is printed on one line, ordered by
start. Times are seconds from the application's start. A stage line adds
its task count and its tasks' summed run, CPU and deserialize times, in
seconds. Standard library only.
"""
import argparse
import json
import re
import sys
from pathlib import Path

SQL = 'org.apache.spark.sql.execution.ui.'


def log_files(path):
    """The files of one event log in order: a rolling log's `events_<n>_*`
    files by n, or the one file given."""
    path = Path(path)
    if not path.is_dir():
        return [path]
    parts = [(int(m.group(1)), p) for p in path.iterdir()
             if (m := re.match(r'events_(\d+)_', p.name))]
    if not parts:
        raise SystemExit(f'{path}: no events_<n>_* files')
    return [p for _, p in sorted(parts)]


def read_events(path):
    for part in log_files(path):
        with open(part, 'rb') as f:
            if f.read(1) != b'{':
                raise SystemExit(f'{part}: not a JSON event log; log with '
                                 '-Dspark.eventLog.compress=false')
            f.seek(0)
            for raw in f:
                if raw.strip():
                    yield json.loads(raw)


def timeline(events):
    """(start, end, kind, id, detail) rows in ms since the epoch, ordered
    by start, and the application's start in ms."""
    app_start = None
    sqls, jobs, stages, tasks = {}, {}, {}, {}
    for e in events:
        kind = e['Event']
        if kind == 'SparkListenerApplicationStart':
            app_start = e['Timestamp']
        elif kind == SQL + 'SparkListenerSQLExecutionStart':
            sqls[e['executionId']] = [e['time'], None, e.get('description', '')]
        elif kind == SQL + 'SparkListenerSQLExecutionEnd':
            sqls.setdefault(e['executionId'], [None, None, ''])[1] = e['time']
        elif kind == 'SparkListenerJobStart':
            props = e.get('Properties') or {}
            jobs[e['Job ID']] = [e['Submission Time'], None,
                                 props.get('spark.job.description') or '']
        elif kind == 'SparkListenerJobEnd':
            jobs.setdefault(e['Job ID'], [None, None, ''])[1] = e['Completion Time']
        elif kind == 'SparkListenerTaskEnd':
            m = e.get('Task Metrics') or {}
            t = tasks.setdefault((e['Stage ID'], e['Stage Attempt ID']), [0, 0, 0, 0])
            t[0] += 1
            t[1] += m.get('Executor Run Time', 0)
            t[2] += m.get('Executor CPU Time', 0) / 1e6
            t[3] += m.get('Executor Deserialize Time', 0)
        elif kind == 'SparkListenerStageCompleted':
            s = e['Stage Info']
            stages[(s['Stage ID'], s['Stage Attempt ID'])] = (
                s.get('Submission Time'), s.get('Completion Time'), s['Stage Name'],
                s['Number of Tasks'])
    if app_start is None:
        raise SystemExit('no SparkListenerApplicationStart event in the log')
    rows = [(start, end, 'sql', i, desc) for i, (start, end, desc) in sqls.items()]
    rows += [(start, end, 'job', i, desc) for i, (start, end, desc) in jobs.items()]
    for key, (start, end, name, n) in stages.items():
        ran, run, cpu, deser = tasks.get(key, (0, 0, 0, 0))
        attempt = f'.{key[1]}' if key[1] else ''
        rows.append((start, end, 'stage', f'{key[0]}{attempt}',
                     f'tasks {ran}/{n} run {run / 1e3:.2f} cpu {cpu / 1e3:.2f} '
                     f'deser {deser / 1e3:.2f}  {name}'))
    # a skipped stage never starts: it has no submission time
    rows = [r for r in rows if r[0] is not None]
    rows.sort(key=lambda r: (r[0], ('sql', 'job', 'stage').index(r[2])))
    return app_start, rows


def render(app_start, rows):
    def rel(ms):
        return '      -' if ms is None else f'{(ms - app_start) / 1e3:7.2f}'
    lines = [f'{"start":>7} {"end":>7}  {"kind":<5} {"id":>5}  detail']
    lines += [f'{rel(start)} {rel(end)}  {kind:<5} {ident:>5}  {detail}'
              for start, end, kind, ident, detail in rows]
    return '\n'.join(lines)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('eventlog', help='an uncompressed Spark event log: a rolling '
                    'log directory or a single file')
    args = ap.parse_args(argv)
    print(render(*timeline(read_events(args.eventlog))))


if __name__ == '__main__':
    sys.exit(main())
