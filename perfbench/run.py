"""The repository benchmark: one command, one workload, one JSON line.

    python3 perfbench/run.py --workload extract_web --seed 1 \\
        --seconds 4 --trace 0

Generates the workload's seeded inputs (outside every timed window),
starts the Spark job process on ``local[nproc]`` (``job.py``), runs
the workload's production job for ``--seconds`` of job time after one
warm pass, checks every pass's output, and prints the metrics by name
and unit, then one JSON object as the last line of standard output.
``--trace 1`` prints the per-layer metrics instead of the end-to-end
ones.  Workloads, metrics and their layer mapping: README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ('extract_web', 'label_train', 'curate_dedup')
JOB_TIMEOUT_S = 165   # a whole run stays within 180 s


def _group_alive(pgid):
    for pid in os.listdir('/proc'):
        if pid.isdigit():
            try:
                if os.getpgid(int(pid)) == pgid:
                    return True
            except OSError:
                pass
    return False


def drive(cmd, env, timeout):
    """Run the job process in its own process group.  Returns
    (seconds from spawn to its READY line, its RESULT payload); every
    process of the group (JVM, Python workers) has ended on return."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    timer = threading.Timer(timeout, os.killpg,
                            (proc.pid, signal.SIGKILL))
    timer.start()
    ready, result = None, None
    try:
        for line in proc.stdout:
            if line.startswith('READY') and ready is None:
                ready = time.perf_counter() - t0
            elif line.startswith('RESULT '):
                result = json.loads(line[len('RESULT '):])
        proc.wait()
    finally:
        timer.cancel()
        try:
            os.killpg(proc.pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
        for _ in range(100):
            if not _group_alive(proc.pid):
                break
            time.sleep(0.1)
        else:
            os.killpg(proc.pid, signal.SIGKILL)
    if ready is None or result is None or proc.returncode != 0:
        raise RuntimeError('%s exited with %s' % (cmd[1], proc.returncode))
    return ready, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', choices=WORKLOADS, required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import gen
    except ImportError as exc:
        print('perfbench: cannot import the program: %s' % exc,
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, '.perfbench_work')
    inputs = os.path.join(work, 'inputs',
                          '%s-%d-c%d' % (a.workload, a.seed, cores))
    t_gen = time.perf_counter()
    truth = gen.generate(a.workload, a.seed, inputs, cores)
    t_gen = time.perf_counter() - t_gen
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp,
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in [os.environ.get('PYTHONPATH')] if p]))
    env.setdefault('SPARK_DRIVER_MEMORY', '4g')
    cmd = [sys.executable, os.path.join(HERE, 'job.py'),
           '--workload', a.workload, '--inputs', inputs, '--work', work,
           '--seed', str(a.seed), '--seconds', str(a.seconds),
           '--trace', str(a.trace)]

    t_job = time.perf_counter()
    setup_s, res = drive(cmd, env, JOB_TIMEOUT_S - t_gen)
    print('perfbench: inputs %.1f s, job process %.1f s'
          % (t_gen, time.perf_counter() - t_job), file=sys.stderr)

    walls = res['walls']
    rates = [res['n_docs'] / w for w in walls]
    attempted = res['n_docs'] * len(walls)
    lines = [
        'workload %s  seed %d  local[%d]  input %d docs, %.2f MB'
        % (a.workload, a.seed, cores, truth['docs'], truth['mb']),
        'docs_per_s          %10.1f 1/s  median of %d timed passes: %s'
        % (statistics.median(rates), len(rates),
           ' '.join('%.1f' % r for r in rates)),
        'setup_s             %10.3f s' % setup_s,
        'failed_frac         %10.4f      %d of %d docs'
        % (res['failed'] / attempted, res['failed'], attempted),
        'worker_peak_rss_mb  %10.1f MB' % res['worker_peak_rss_mb'],
        'content_token_f1    %10.4f' % res['quality'],
    ]
    for fault in res['faults']:
        lines.append('FAULT %s' % fault)
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    if a.trace:
        # every per-layer metric on every workload: a layer the workload
        # bypasses reads 0
        values = dict(res['layers'], **{'trace.docs_per_s':
                                        statistics.median(rates)})
        declared = spec['per_layer']
        lines += ['%-36s %14.4f %s' % (m['name'], values.get(m['name'], 0.0),
                                      m['unit']) for m in declared]
    else:
        values = {'docs_per_s': statistics.median(rates),
                  'setup_s': setup_s,
                  'worker_peak_rss_mb': res['worker_peak_rss_mb'],
                  'content_token_f1': res['quality']}
        declared = spec['end_to_end']
    metrics = {m['name']: {'value': values.get(m['name'], 0.0),
                           'unit': m['unit']} for m in declared}
    print('\n'.join(lines))
    print(json.dumps({'correct': not res['faults'], 'attempted': attempted,
                      'failed': res['failed'], 'metrics': metrics}))
    return 0


if __name__ == '__main__':
    sys.exit(main())
