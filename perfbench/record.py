"""Records the expected answers of the query workloads (`olap`,
`llm_pipeline`) into perfbench/expected/queries.tsv: for every query, its
result fingerprint (row count plus an order-insensitive hash of the
stringified cells) and a reference latency used to stratify op order.

Each workload runs twice in one fresh JVM per order, forward and reversed;
a query whose fingerprint differs between the orders, or that fails, stops
the recording. Run from the repository root:

    python3 perfbench/record.py
"""
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen    # noqa: E402
import run    # noqa: E402
import score  # noqa: E402


def families(classes, jars):
    cp = f'{classes}{os.pathsep}{os.path.join(jars, "*")}'
    out = subprocess.run(['java', '-cp', cp, 'graft.perfbench.Families'], check=True,
                         capture_output=True, text=True).stdout
    fams = {}
    for line in out.splitlines():
        w, name = line.split('\t')
        fams.setdefault(w, []).append(name)
    return fams


def record(classes, jars, workload, names, root):
    runs = []
    for order in (names, names[::-1]):
        work = os.path.join(root, '.bench_work', f'record-{workload}-{len(runs)}')
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, 'tmp'))
        gen.write_ops(work, 0, [('query', n) for n in order])
        plan = dict(kind='queries', clients=1, data=gen.DATA, workload=workload, work=work,
                    seconds=0, trace=0, cores=os.cpu_count(), ops=os.path.join(work, 'ops'))
        run.run_jvm(classes, jars, run.write_plan(work, plan),
                    os.path.join(root, '.bench_out', f'record-{workload}.log'), timeout=1800)
        runs.append({o['arg']: o for o in score.read_ops(work)})
        shutil.rmtree(work, ignore_errors=True)
    rows, bad = [], []
    for n in names:
        a, b = runs[0][n], runs[1][n]
        if a['status'] != 'ok' or b['status'] != 'ok' or a['result'] != b['result']:
            bad.append(f"{n}: {a['status']} {a['result']} / {b['status']} {b['result']}")
        rows.append((workload, n, a['result'], (a['ms'] + b['ms']) / 2))
    return rows, bad


def main():
    root = os.getcwd()
    out_root = os.path.abspath(os.environ.get('CARGO_TARGET_DIR') or '.bench_build')
    os.makedirs(os.path.join(root, '.bench_out'), exist_ok=True)
    classes, jars = build.build(root, out_root)
    rows, bad = [], []
    for workload, names in families(classes, jars).items():
        r, b = record(classes, jars, workload, names, root)
        rows += r
        bad += b
    if bad:
        raise SystemExit('perfbench: unstable or failing queries:\n' + '\n'.join(bad))
    with open(gen.EXPECTED, 'w') as f:
        f.writelines(f'{w}\t{n}\t{fp}\t{ms:.1f}\n' for w, n, fp, ms in rows)
    print(f'recorded {len(rows)} queries into {gen.EXPECTED}')


if __name__ == '__main__':
    main()
