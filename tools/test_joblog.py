"""Tests of tools/joblog.py on a small synthetic event log.

    python3 -m unittest discover -s tools -p 'test_joblog.py'
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
SQL = 'org.apache.spark.sql.execution.ui.'
T0 = 1_700_000_000_000


def task_end(stage, run_ms, cpu_ms, deser_ms):
    return {'Event': 'SparkListenerTaskEnd', 'Stage ID': stage, 'Stage Attempt ID': 0,
            'Task Metrics': {'Executor Run Time': run_ms,
                             'Executor CPU Time': cpu_ms * 1_000_000,
                             'Executor Deserialize Time': deser_ms}}


def stage_done(stage, start, end, name, tasks):
    info = {'Stage ID': stage, 'Stage Attempt ID': 0, 'Stage Name': name,
            'Number of Tasks': tasks}
    if start is not None:
        info.update({'Submission Time': T0 + start, 'Completion Time': T0 + end})
    return {'Event': 'SparkListenerStageCompleted', 'Stage Info': info}


EVENTS = [
    {'Event': 'SparkListenerLogStart', 'Spark Version': '4.1.2'},
    {'Event': 'SparkListenerApplicationStart', 'App Name': 'graft-cdc-compare',
     'Timestamp': T0},
    {'Event': SQL + 'SparkListenerSQLExecutionStart', 'executionId': 3,
     'description': 'graft report: detail', 'time': T0 + 11_000},
    {'Event': 'SparkListenerJobStart', 'Job ID': 7, 'Submission Time': T0 + 11_100,
     'Stage IDs': [10, 11], 'Properties': {'spark.job.description': 'graft report: detail'}},
    {'Event': 'SparkListenerJobStart', 'Job ID': 8, 'Submission Time': T0 + 11_200,
     'Stage IDs': [12], 'Properties': {'spark.job.description': 'graft report: metrics'}},
    task_end(11, 400, 300, 20),
    task_end(11, 600, 500, 30),
    stage_done(10, None, None, 'skipped map', 4),
    stage_done(11, 11_150, 11_900, 'json at Main.scala:1', 2),
    task_end(12, 10, 5, 1),
    stage_done(12, 11_250, 11_300, 'json at Main.scala:2', 1),
    {'Event': 'SparkListenerJobEnd', 'Job ID': 8, 'Completion Time': T0 + 11_310,
     'Job Result': {'Result': 'JobSucceeded'}},
    {'Event': 'SparkListenerJobEnd', 'Job ID': 7, 'Completion Time': T0 + 11_950,
     'Job Result': {'Result': 'JobSucceeded'}},
    {'Event': SQL + 'SparkListenerSQLExecutionEnd', 'executionId': 3, 'time': T0 + 12_000},
]


class JoblogTest(unittest.TestCase):
    def run_joblog(self, content):
        with tempfile.TemporaryDirectory() as d:
            log = Path(d) / 'local-1'
            log.write_bytes(content)
            return subprocess.run([sys.executable, str(HERE / 'joblog.py'), str(log)],
                                  capture_output=True, text=True)

    def test_timeline_is_ordered_by_start_relative_to_the_application(self):
        p = self.run_joblog('\n'.join(json.dumps(e) for e in EVENTS).encode() + b'\n')
        self.assertEqual(p.returncode, 0, p.stderr)
        lines = [line.split() for line in p.stdout.splitlines()[1:]]
        self.assertEqual([(line[2], line[3]) for line in lines],
                         [('sql', '3'), ('job', '7'), ('stage', '11'),
                          ('job', '8'), ('stage', '12')])
        self.assertEqual(lines[0][:2], ['11.00', '12.00'])
        self.assertEqual(' '.join(lines[0][4:]), 'graft report: detail')
        self.assertEqual(lines[1][:2], ['11.10', '11.95'])
        self.assertEqual(' '.join(lines[3][4:]), 'graft report: metrics')

    def test_stage_sums_its_tasks(self):
        p = self.run_joblog('\n'.join(json.dumps(e) for e in EVENTS).encode())
        stage = next(line for line in p.stdout.splitlines() if ' stage ' in line
                     and 'Main.scala:1' in line)
        self.assertIn('tasks 2/2 run 1.00 cpu 0.80 deser 0.05', stage)
        self.assertNotIn('skipped map', p.stdout)

    def test_rolling_log_directory_is_read_in_part_number_order(self):
        lines = [json.dumps(e) for e in EVENTS]
        with tempfile.TemporaryDirectory() as d:
            log = Path(d) / 'eventlog_v2_local-1'
            log.mkdir()
            # part 10 sorts before part 2 by name, after it by number
            for n, chunk in ((1, lines[:3]), (2, lines[3:9]), (10, lines[9:])):
                (log / f'events_{n}_local-1').write_text('\n'.join(chunk) + '\n')
            (log / 'appstatus_local-1').write_text('')
            p = subprocess.run([sys.executable, str(HERE / 'joblog.py'), str(log)],
                               capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertEqual(p.stdout, self.run_joblog('\n'.join(lines).encode()).stdout)
        self.assertIn('11.30', p.stdout)

    def test_compressed_log_is_refused_by_name(self):
        p = self.run_joblog(b'\x28\xb5\x2f\xfd' + b'\0' * 16)
        self.assertNotEqual(p.returncode, 0)
        self.assertIn('spark.eventLog.compress=false', p.stderr)


if __name__ == '__main__':
    unittest.main()
