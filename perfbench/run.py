"""graft benchmark: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the program from source on first use,
generates the run's inputs from the seed, runs the engine in one JVM,
checks every op's answer and prints, as its last stdout line, one JSON
object with `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`). The full run
record (every metric, failed ops, sentinel, spans of a traced run) is kept
under `.bench_out/`. See perfbench/WORKLOADS.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen    # noqa: E402
import score  # noqa: E402

JVM_TIMEOUT_S = 170
JVM_OPENS = ['java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
             'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
             'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar']


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def write_plan(work, plan):
    """The engine JVM's input: `key=value` lines in `work/plan.txt`."""
    path = os.path.join(work, 'plan.txt')
    with open(path, 'w') as f:
        f.writelines(f'{k}={v}\n' for k, v in plan.items())
    return path


def run_jvm(classes, jars, plan_file, log_file, timeout=JVM_TIMEOUT_S):
    # temp files stay in the run's work directory; no jvmstat file in /tmp
    cmd = ['java', '-Xmx4g', '-XX:-UsePerfData', '-Duser.timezone=UTC',
           '-Dspark.ui.enabled=false', f'-Djava.io.tmpdir={os.path.dirname(plan_file)}/tmp']
    for p in JVM_OPENS:
        cmd += ['--add-opens', f'java.base/{p}=ALL-UNNAMED']
    cmd += ['-cp', f'{classes}{os.pathsep}{os.path.join(jars, "*")}', 'graft.perfbench.Main',
            plan_file]
    with open(log_file, 'w') as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f'perfbench: engine run exceeded {timeout}s; log in {log_file}')
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_file, errors='replace') as f:
            sys.stderr.write(''.join(f.readlines()[-40:]))
        raise SystemExit(f'perfbench: engine run failed (exit {code}); log in {log_file}')


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=gen.WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True,
                    help='length of the timed window; <= 0 runs every op once')
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    out_root = os.path.abspath(os.environ.get('CARGO_TARGET_DIR') or '.bench_build')
    os.makedirs(out_root, exist_ok=True)
    classes, jars = build.build(root, out_root)

    tag = f'{args.workload}-seed{args.seed}-trace{args.trace}'
    work = os.path.join(root, '.bench_work', f'{tag}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, 'tmp'))
    results = os.path.join(root, '.bench_out')
    os.makedirs(results, exist_ok=True)
    try:
        plan = gen.generate(args.workload, args.seed, work)
        plan.update(workload=args.workload, work=work, seconds=args.seconds, trace=args.trace,
                    cores=os.cpu_count(), ops=os.path.join(work, 'ops'))
        run_jvm(classes, jars, write_plan(work, plan), os.path.join(results, f'{tag}.log'))

        summary = score.read_summary(work)
        ops = score.read_ops(work)
        failures = score.check_ops(args.workload, work, ops)
        record = dict(workload=args.workload, seed=args.seed, seconds=args.seconds,
                      trace=args.trace, cores=os.cpu_count(), summary=summary,
                      failures=failures, sentinel_ratio=score.sentinel_ratio(summary))
        if args.trace:
            untraced = os.path.join(results, f'{args.workload}-seed{args.seed}-trace0.json')
            untraced_p50 = json.load(open(untraced))['metrics']['latency_p50_ms']['value'] \
                if os.path.exists(untraced) else None
            metrics, spans, layer_self = score.per_layer(
                summary, ops, score.read_events(work), os.cpu_count(), untraced_p50)
            spans_file = os.path.join(results, f'{tag}.spans.jsonl')
            with open(spans_file, 'w') as f:
                f.writelines(json.dumps(s) + '\n' for s in spans)
            record.update(layer_self_ms=layer_self, spans=spans_file,
                          untraced_record=untraced if untraced_p50 else None)
        else:
            metrics, info = score.end_to_end(summary, ops, args.seconds)
            record.update(info, kind_p50_ms={
                k: score.p50([o['ms'] for o in ops if o['kind'] == k])
                for k in sorted({o['kind'] for o in ops})})
        record['metrics'] = {k: dict(value=v, unit=u) for k, (v, u) in metrics.items()}
        record['ops'] = [[o['id'], o['kind'], o['arg'], round(o['ms'], 3), o['correct']]
                         for o in ops]
        with open(os.path.join(results, f'{tag}.json'), 'w') as f:
            json.dump(record, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in ops if not o['correct'])
    for fl in failures:
        log(f"FAILED {fl['op']} {fl['kind']} {fl['arg']}: {fl['reason']}")
    log(f"sentinel_ratio={record['sentinel_ratio']:.3f} (pre {summary['sentinel_pre_s']:.3f}s, "
        f"post {summary['sentinel_post_s']:.3f}s); record in .bench_out/{tag}.json")
    print(json.dumps(dict(correct=failed == 0, attempted=len(ops), failed=failed,
                          metrics=record['metrics'])))


if __name__ == '__main__':
    main()
