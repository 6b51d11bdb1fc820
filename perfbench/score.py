"""Scoring: reads what the engine JVM wrote for one run, checks every op's
answer, and computes the end-to-end metrics (untraced runs) or the
per-layer metrics and spans (traced runs)."""
import json
import os
import re
import statistics
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

import gen

READ_INDEX = ('sql_topk', 'hnsw', 'ivf', 'hybrid')   # approximate: scored by recall
READ_EXACT = ('brute', 'fts')                         # must return a correct top-10
HYBRID_CANDIDATES = 3 * gen.K                          # HybridSearch.TopKMultipleBase * k


# ------------------------------------------------------------------ inputs

def read_summary(work):
    out = {}
    with open(os.path.join(work, 'summary.txt')) as f:
        for line in f:
            k, _, v = line.rstrip('\n').partition('=')
            out[k] = float(v)
    return out


def read_ops(work):
    cols = ('client', 'id', 'kind', 'arg', 'start', 'built', 'end', 'status', 'version',
            'parts', 'rows', 'result')
    ops = []
    with open(os.path.join(work, 'ops.tsv'), encoding='utf-8') as f:
        for line in f:
            op = dict(zip(cols, line.rstrip('\n').split('\t')))
            for k in ('start', 'built', 'end'):
                op[k] = float(op[k])
            op['parts'] = int(op['parts'])
            op['rows'] = int(op['rows'])
            op['ms'] = op['end'] - op['start']
            ops.append(op)
    return sorted(ops, key=lambda o: o['start'])


# ---------------------------------------------------------------- statistics

def tail(values):
    """The highest percentile of `values` with at least ten samples beyond
    it: (value, percentile, samples beyond), or None below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, 10


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span['end'] - span['start']) - covered(
        span['start'], span['end'], [(c['start'], c['end']) for c in children])


def recall_hits(returned, exact, k, higher_better=False):
    """Returned ids that belong to the exact top-k, counting any id whose
    exact value ties the k-th best. `exact` maps every visible id to its
    exact value; unknown ids never count."""
    if not exact:
        return 0
    ranked = sorted(exact.values(), reverse=higher_better)
    kth = ranked[min(k, len(ranked)) - 1]
    tol = 1e-6 * max(abs(kth), 1e-12)
    hits = set()
    for i in returned:
        v = exact.get(i)
        if v is not None and (v >= kth - tol if higher_better else v <= kth + tol):
            hits.add(i)
    return len(hits)


def exact_topk_ok(returned, exact, k, higher_better=False):
    """A correct top-k: distinct ids, as many as exist (up to k), each at
    least as good as the exact k-th value."""
    want = min(k, len(exact))
    return (len(returned) == want and len(set(returned)) == want
            and recall_hits(returned, exact, k, higher_better) == want)


# ---------------------------------------------------------------- answers

class SearchOracle:
    """Exact answers for a search run, per index version. Appends of one
    family are serialised by the engine-side client, so the order their
    ops finished in is the order they were applied; version v of a family
    is its base rows plus the first v applied batches."""

    def __init__(self, work, ops):
        self.work = work
        emb = os.path.join(work, 'tables', 'embeddings', 'base.parquet')
        self.base_ids, self.base_vecs, _ = gen.load_vectors(emb)
        self.qvecs = {}
        with open(os.path.join(work, 'qvecs.tsv')) as f:
            for line in f:
                q, v = line.rstrip('\n').split('\t')
                self.qvecs[q] = np.array([float(x) for x in v.split(',')], dtype=np.float32)
        self.qtexts = {}
        qt = os.path.join(work, 'qtexts.tsv')
        if os.path.exists(qt):
            with open(qt) as f:
                for line in f:
                    q, t = line.rstrip('\n').split('\t')
                    self.qtexts[q] = t
        self.applied = defaultdict(list)
        for op in sorted(ops, key=lambda o: o['end']):
            if op['kind'].startswith('append_') and op['status'] == 'ok':
                self.applied[op['kind'][len('append_'):]].append(op['arg'])
        self._vecs, self._docs, self._dist, self._bm25 = {}, {}, {}, {}

    def vectors(self, family, v):
        key = (family, v)
        if key not in self._vecs:
            ids, vecs = [self.base_ids], [self.base_vecs]
            for b in self.applied[family][:v]:
                bi, bv, _ = gen.load_vectors(os.path.join(self.work, 'batches',
                                                          f'{family}_{b}.parquet'))
                ids.append(bi)
                vecs.append(bv)
            self._vecs[key] = (np.concatenate(ids), np.concatenate(vecs))
        return self._vecs[key]

    def docs(self, v):
        if v not in self._docs:
            docs = {}
            paths = [os.path.join(self.work, 'tables', 'documents', 'base.parquet')] + [
                os.path.join(self.work, 'batches', f'fts_{b}.parquet')
                for b in self.applied['fts'][:v]]
            for p in paths:
                t = pq.read_table(p, columns=['doc_id', 'text'])
                for i, text in zip(t.column('doc_id').to_pylist(), t.column('text').to_pylist()):
                    docs[i] = gen.tokenize(text or '')
            self._docs[v] = docs
        return self._docs[v]

    def distances(self, family, v, q):
        key = (family, v, q)
        if key not in self._dist:
            ids, vecs = self.vectors(family, v)
            self._dist[key] = dict(zip(ids.tolist(), gen.l2(vecs, self.qvecs[q]).tolist()))
        return self._dist[key]

    def scores(self, v, q):
        key = (v, q)
        if key not in self._bm25:
            self._bm25[key] = gen.bm25(self.docs(v), gen.query_terms(self.qtexts[q]))
        return self._bm25[key]

    def fused(self, ivf_v, fts_v, q):
        """HybridSearch's relative-score fusion (weight 0.5) of the exact
        dense and BM25 candidate lists."""
        def top(d, higher):
            return dict(sorted(d.items(), key=lambda kv: ((-kv[1] if higher else kv[1]), kv[0]))
                        [:HYBRID_CANDIDATES])

        def norm(d):
            lo, hi = min(d.values()), max(d.values())
            return {i: 1.0 if lo == hi else (x - lo) / (hi - lo) for i, x in d.items()}
        dense = top(self.distances('ivf', ivf_v, q), False)
        text = top(self.scores(fts_v, q), True)
        out = defaultdict(float)
        for i, x in (norm(dense) if dense else {}).items():
            out[i] += (1.0 - x) * 0.5
        for i, x in (norm(text) if text else {}).items():
            out[i] += x * 0.5
        return dict(out)

    def check(self, op):
        """(correct, recall or None, reason) for one read op."""
        versions = {f: int(v) for f, v in re.findall(r'([a-z]+)(\d+)', op['version'])}
        returned = [int(x) for x in op['result'].split(',')] if op['result'] else []
        kind, q = op['kind'], op['arg']
        if kind in ('brute', 'sql_topk', 'hnsw'):
            exact, higher = self.distances('hnsw', versions['hnsw'], q), False
        elif kind == 'ivf':
            exact, higher = self.distances('ivf', versions['ivf'], q), False
        elif kind == 'fts':
            exact, higher = self.scores(versions['fts'], q), True
        else:
            exact, higher = self.fused(versions['ivf'], versions['fts'], q), True
        if kind in READ_EXACT:
            ok = exact_topk_ok(returned, exact, gen.K, higher)
            return ok, None, '' if ok else f'not an exact top-{gen.K}: {returned}'
        want = min(gen.K, len(exact))
        return True, recall_hits(returned, exact, gen.K, higher) / want if want else 1.0, ''


def expected_fingerprints(workload):
    return {name: fp for name, fp, _ in gen.expected_queries(workload)}


def check_ops(workload, work, ops):
    """Marks each op's `correct` and `recall`; returns failures by op."""
    failures = []
    oracle = SearchOracle(work, ops) if workload.startswith('search') else None
    expected = None if oracle else expected_fingerprints(workload)
    for op in ops:
        op['recall'] = None
        if op['status'] != 'ok':
            op['correct'], reason = False, op['result']
        elif op['kind'].startswith('append_'):
            op['correct'], reason = True, ''
        elif oracle:
            op['correct'], op['recall'], reason = oracle.check(op)
        else:
            op['correct'] = op['result'] == expected.get(op['arg'])
            op['recall'] = 1.0 if op['correct'] else 0.0
            reason = '' if op['correct'] else \
                f"fingerprint {op['result']} != expected {expected.get(op['arg'])}"
        if not op['correct']:
            failures.append(dict(op=op['id'], kind=op['kind'], arg=op['arg'], reason=reason))
    return failures


# ---------------------------------------------------------------- metrics

def failed_frac(ops):
    """Ops that threw or returned a wrong answer, over ops attempted."""
    return sum(1 for o in ops if not o['correct']) / max(1, len(ops))


def is_read(op):
    return not op['kind'].startswith('append_')


def ops_in_window(ops, lo, hi):
    """Correct ops done within [lo, hi]: each counts the share of its own
    duration that falls inside, so an op still running at the deadline
    neither counts whole nor stretches the window by its remainder."""
    done = 0.0
    for o in ops:
        if not o['correct']:
            continue
        if o['end'] <= o['start']:
            done += lo <= o['end'] <= hi
        else:
            done += max(0.0, min(o['end'], hi) - max(o['start'], lo)) / (o['end'] - o['start'])
    return done


def end_to_end(summary, ops, seconds):
    """Metrics a user of the engine sees, from the untraced window: the
    first `seconds` after the timed start (the whole pass if `seconds` <= 0)."""
    reads = [o['ms'] if o['correct'] else float('inf') for o in ops if is_read(o)]
    lo = summary['timed_start_ms']
    hi = lo + seconds * 1000.0 if seconds > 0 else summary['timed_end_ms']
    window_s = (hi - lo) / 1000.0
    t = tail(reads)
    index = [o['recall'] if o['correct'] else 0.0 for o in ops
             if is_read(o) and (o['kind'] in READ_INDEX or o['kind'] == 'query')]
    setup_ms = summary['setup_end_ms'] - summary['jvm_start_ms'] - summary['sentinel_setup_ms']
    metrics = {
        'latency_p50_ms': (statistics.median(reads), 'ms'),
        'ops_per_s': (ops_in_window(ops, lo, hi) / window_s, '1/s'),
        'setup_s': (setup_ms / 1000.0, 's'),
        'retained_heap_mb': (summary['retained_heap_mb'], 'MB'),
        'recall_at_10': (statistics.fmean(index) if index else 1.0, 'ratio'),
    }
    info = dict(read_ops=len(reads), latency_tail_ms=t[0] if t else None,
                tail_percentile=t[1] if t else None, tail_samples_beyond=t[2] if t else None)
    return metrics, info


def p50(values):
    return statistics.median(values) if values else 0.0


def per_layer(summary, ops, events, cores, untraced_p50):
    """Per-layer metrics of the traced window, plus its spans. The trace
    overhead compares the window's read p50 with `untraced_p50`, the same
    workload and seed run untraced (None when no such run is recorded)."""
    traced = ops
    n = max(1, len(traced))
    by_id = {o['id']: o for o in traced}
    jobs, stages, tasks, qes, sql = {}, {}, defaultdict(list), [], {}
    persisted_peak = 0
    for e in events:
        t = e['t']
        if t == 'job':
            jobs[e['id']] = dict(e, end=e['start'])
        elif t == 'jobend' and e['id'] in jobs:
            jobs[e['id']]['end'] = e['end']
        elif t == 'stage':
            stages[e['id']] = e
        elif t == 'task':
            tasks[e['stage']].append(e)
        elif t == 'qe':
            qes.append(e)
        elif t == 'sql':
            sql[e['id']] = e['group']
        elif t == 'persisted':
            persisted_peak = e['peak']

    spans = []

    def span(sid, parent, layer, start, end, **kw):
        s = dict(id=sid, parent=parent, layer=layer, start=start, end=end, **kw)
        spans.append(s)
        return s

    op_jobs = defaultdict(list)
    for j in jobs.values():
        if j['group'] in by_id:
            op_jobs[j['group']].append(j)
    stage_job = {}
    for j in sorted(jobs.values(), key=lambda j: j['id']):
        for s in j['stages']:
            stage_job.setdefault(s, j['id'])

    for o in traced:
        query = o['kind'] == 'query'
        base = 'queries' if query else 'operators'
        b, x = ('build', 'exec') if query else (
            ('append', 'append_exec') if o['kind'].startswith('append_') else
            ('search_build', 'search_exec'))
        span(f"op:{o['id']}", None, 'bench.op', o['start'], o['end'], kind=o['kind'], arg=o['arg'])
        span(f"build:{o['id']}", f"op:{o['id']}", f'{base}.{b}', o['start'], o['built'])
        span(f"exec:{o['id']}", f"op:{o['id']}", f'{base}.{x}', o['built'], o['end'])

    def phase_parent(op_id, t):
        o = by_id[op_id]
        return f"build:{op_id}" if t < o['built'] else f"exec:{op_id}"

    for j in jobs.values():
        if j['group'] in by_id:
            span(f"job:{j['id']}", phase_parent(j['group'], j['start']), 'spark.job',
                 j['start'], j['end'], name=j['name'])
    for sid, s in stages.items():
        jid = stage_job.get(sid)
        if jid is not None and jobs[jid]['group'] in by_id:
            span(f'stage:{sid}', f'job:{jid}', 'spark.stage', s['submit'], s['end'],
                 ntasks=s['ntasks'])
            for i, tk in enumerate(tasks[sid]):
                span(f'task:{sid}.{i}', f'stage:{sid}', 'spark.task', tk['launch'], tk['finish'])
    qe_by_op = defaultdict(list)
    for q in qes:
        op_id = sql.get(q['exec'])
        if op_id in by_id:
            qe_by_op[op_id].append(q)
            for name, (a, z) in q['phases'].items():
                span(f"qe:{q['exec']}.{name}", phase_parent(op_id, a), f'plans.{name}', a, z)

    children = defaultdict(list)
    for s in spans:
        children[s['parent']].append(s)
    layer_self = defaultdict(float)
    for s in spans:
        layer_self[s['layer']] += self_time(s, children[s['id']])

    # Per-op Spark work, attributed through the op's job group.
    op_stages = defaultdict(list)
    for sid, s in stages.items():
        jid = stage_job.get(sid)
        if jid is not None and jobs[jid]['group'] in by_id:
            op_stages[jobs[jid]['group']].append(s)
    all_stages = [s for ss in op_stages.values() for s in ss]
    all_tasks = [tk for s in all_stages for tk in tasks[s['id']]]

    def tsum(key, ts=all_tasks):
        return float(sum(tk[key] for tk in ts))

    driver_only = sched_gap = 0.0
    for o in traced:
        js = op_jobs[o['id']]
        driver_only += (o['end'] - o['start']) - covered(
            o['start'], o['end'], [(j['start'], j['end']) for j in js])
        for j in js:
            jt = [(tk['launch'], tk['finish']) for s in j['stages'] for tk in tasks.get(s, [])]
            sched_gap += (j['end'] - j['start']) - covered(j['start'], j['end'], jt)

    def kind_ms(kind):
        return p50([o['ms'] for o in traced if o['kind'] == kind and o['correct']])

    queries = [o for o in traced if o['kind'] == 'query']
    searches = [o for o in traced if o['kind'] in READ_INDEX + READ_EXACT]
    build_ms = sum(o['built'] - o['start'] for o in queries)
    exec_ms = sum(o['end'] - o['built'] for o in queries)
    build_jobs = sum(1 for o in queries for j in op_jobs[o['id']] if j['start'] < o['built'])
    schema_jobs = sum(1 for js in op_jobs.values() for j in js
                      if j['name'].startswith('parquet at '))
    # Graph rows an HNSW op read from parquet, against the rows its index
    # version held: a cached part reads none. Spark may scan several parts
    # in one task, so loaded parts are inferred from rows, not tasks.
    hnsw_ops = [o for o in traced if o['kind'] == 'hnsw']
    probed = sum(o['parts'] for o in hnsw_ops)
    rows_read = rows_held = loaded = 0.0
    for o in hnsw_ops:
        read = sum(tk['in_rec'] for s in op_stages[o['id']] for tk in tasks[s['id']])
        held = summary['hnsw_rows'] + gen.BATCH_ROWS * int(o['version'][len('hnsw'):])
        rows_read += read
        rows_held += held
        loaded += o['parts'] * min(1.0, read / held)
    search_tasks = [tk for o in searches for s in op_stages[o['id']] for tk in tasks[s['id']]]
    phase_ms = defaultdict(float)
    for qs in qe_by_op.values():
        for q in qs:
            for name, (a, z) in q['phases'].items():
                phase_ms[name] += z - a
    window_ms = summary['timed_end_ms'] - summary['timed_start_ms']
    writes = [o['ms'] for o in traced if not is_read(o) and o['correct']]
    result_rows = sum(o['rows'] for o in traced)
    traced_p50 = p50([o['ms'] for o in traced if is_read(o)])

    m = {
        'engine.session_build_ms': (summary['session_build_ms'], 'ms'),
        'engine.install_ms': (summary['install_ms'], 'ms'),
        'engine.install_statements': (summary['install_statements'], 'count'),
        'engine.table_attach_ms': (summary['table_attach_ms'], 'ms'),
        'engine.schema_jobs': (schema_jobs / n, 'count/op'),
        'queries.build_ms': (build_ms / n, 'ms/op'),
        'queries.build_jobs': (build_jobs / n, 'count/op'),
        'queries.exec_ms': (exec_ms / n, 'ms/op'),
        'queries.build_share': (build_ms / (build_ms + exec_ms) if queries else 0.0, 'ratio'),
        'plans.analysis_ms': (phase_ms['analysis'] / n, 'ms/op'),
        'plans.optimization_ms': (phase_ms['optimization'] / n, 'ms/op'),
        'plans.planning_ms': (phase_ms['planning'] / n, 'ms/op'),
        'plans.actions': (sum(len(v) for v in qe_by_op.values()) / n, 'count/op'),
        'plans.topk_rewrite_ms': (sum(q['topk_ns'] for qs in qe_by_op.values() for q in qs)
                                  / 1e6 / n, 'ms/op'),
        'plans.topk_rewrite_fired': (sum(q['topk_fired'] for qs in qe_by_op.values()
                                         for q in qs) / n, 'count/op'),
        'plans.sql_topk_p50_ms': (kind_ms('sql_topk'), 'ms'),
        'spark.jobs': (sum(len(v) for v in op_jobs.values()) / n, 'count/op'),
        'spark.stages': (len(all_stages) / n, 'count/op'),
        'spark.tasks': (len(all_tasks) / n, 'count/op'),
        'spark.single_task_stage_share': (
            sum(1 for s in all_stages if s['ntasks'] == 1) / len(all_stages)
            if all_stages else 0.0, 'ratio'),
        'spark.driver_only_ms': (driver_only / n, 'ms/op'),
        'spark.sched_gap_ms': (sched_gap / n, 'ms/op'),
        'spark.task_run_ms': (tsum('run') / n, 'ms/op'),
        'spark.task_cpu_ms': (tsum('cpu_ns') / 1e6 / n, 'ms/op'),
        'spark.task_gc_ms': (tsum('gc') / n, 'ms/op'),
        'spark.cores_busy': (tsum('run') / (window_ms * cores) if window_ms > 0 else 0.0,
                             'ratio'),
        'spark.shuffle_write_bytes': (tsum('sw') / n, 'bytes/op'),
        'spark.shuffle_read_bytes': (tsum('sr') / n, 'bytes/op'),
        'spark.shuffle_fetch_wait_ms': (tsum('fetch_wait') / n, 'ms/op'),
        'spark.spill_disk_bytes': (tsum('spill') / n, 'bytes/op'),
        'spark.peak_exec_mem_mb': (max((tk['peak'] for tk in all_tasks), default=0) / 1048576.0,
                                   'MB'),
        'spark.persisted_bytes_peak': (float(persisted_peak), 'bytes'),
        'spark.rows_per_result': (tsum('in_rec') / result_rows if result_rows else 0.0,
                                  'ratio'),
        'operators.hnsw_build_ms': (summary.get('hnsw_build_ms', 0.0), 'ms'),
        'operators.ivf_build_ms': (summary.get('ivf_build_ms', 0.0), 'ms'),
        'operators.fts_build_ms': (summary.get('fts_build_ms', 0.0), 'ms'),
        'operators.append_hnsw_ms': (kind_ms('append_hnsw'), 'ms'),
        'operators.append_ivf_ms': (kind_ms('append_ivf'), 'ms'),
        'operators.append_fts_ms': (kind_ms('append_fts'), 'ms'),
        'operators.write_p50_ms': (p50(writes), 'ms'),
        'operators.search_build_ms': (sum(o['built'] - o['start'] for o in searches)
                                      / max(1, len(searches)), 'ms/op'),
        'operators.search_exec_ms': (sum(o['end'] - o['built'] for o in searches)
                                     / max(1, len(searches)), 'ms/op'),
        'operators.hnsw_p50_ms': (kind_ms('hnsw'), 'ms'),
        'operators.ivf_p50_ms': (kind_ms('ivf'), 'ms'),
        'operators.brute_p50_ms': (kind_ms('brute'), 'ms'),
        'operators.fts_p50_ms': (kind_ms('fts'), 'ms'),
        'operators.hybrid_p50_ms': (kind_ms('hybrid'), 'ms'),
        'operators.graph_parts_probed': (probed / max(1, len(hnsw_ops)), 'count/op'),
        'operators.graph_parts_loaded': (loaded / max(1, len(hnsw_ops)), 'count/op'),
        'operators.graph_cache_hit_ratio': (1.0 - min(1.0, rows_read / rows_held)
                                            if rows_held else 0.0, 'ratio'),
        'operators.graph_cache_resident': (summary.get('graph_cache_resident', 0.0), 'count'),
        'operators.index_bytes_read': (tsum('in_bytes', search_tasks) / max(1, len(searches)),
                                       'bytes/op'),
        'bench.failed_frac': (failed_frac(ops), 'ratio'),
        'bench.sentinel_ratio': (sentinel_ratio(summary), 'ratio'),
        'bench.trace_overhead_pct': (
            100.0 * (traced_p50 / untraced_p50 - 1.0) if untraced_p50 else 0.0, '%'),
        'bench.traced_latency_p50_ms': (traced_p50, 'ms'),
        'bench.traced_ops': (float(len(traced)), 'count'),
    }
    return m, spans, dict(layer_self)


def sentinel_ratio(summary):
    a, b = summary['sentinel_pre_s'], summary['sentinel_post_s']
    return max(a, b) / max(min(a, b), 1e-9)


def read_events(work):
    path = os.path.join(work, 'events.jsonl')
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
