"""Seeded input generator: runs before the engine JVM starts and writes
everything a run feeds the engine: per-client op lists, table copies, the
synthetic corpus, query vectors and texts, and append batches. It also owns
the exact answers the search workloads are scored against (brute force over
exactly the rows an op could see), computed here, outside the engine.

The same seed gives byte-identical inputs.
"""
import os
import random
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, 'data', 'sf0.1')
EXPECTED = os.path.join(HERE, 'expected', 'queries.tsv')

WORKLOADS = ('olap', 'llm_pipeline', 'search_hot', 'search_cold')
K = 10
QUERY_SET = 6        # queries a query workload's runs loop over
SEARCH_OPS = 300     # ops per client: more than a run can use
WARM_READS = 16      # search warm-up: reads per client, two rotations of search_hot
WRITE_EVERY = 10     # search_hot: one op in ten is an append, from the 5th op on
BATCH_ROWS = 16      # rows per append batch
COLD_ROWS = 24000    # search_cold synthetic corpus
COLD_DIM = 64
COLD_PARTS = 8
HNSW_M = 12

# Search workload shapes: clients and the rotation of read kinds. Kinds
# follow a fixed rotation (client c starts c/clients of the way round), so
# runs with different seeds do the same mix of work; the seed picks each
# request's content: query vectors, query texts and append batches. HNSW,
# the default vector index, takes three of search_hot's eight slots, which
# keeps the read median inside one kind's latencies instead of in the gap
# between two.
SEARCH = {
    'search_hot': dict(clients=2, round=('sql_topk', 'hnsw', 'ivf', 'hnsw', 'fts', 'hnsw',
                                         'brute', 'hybrid')),
    'search_cold': dict(clients=2, round=('hnsw', 'hnsw', 'ivf', 'brute')),
}
APPEND_KINDS = ('append_hnsw', 'append_ivf', 'append_fts')
ID_BASE = {'hnsw': 10_000_000, 'ivf': 20_000_000, 'fts': 30_000_000}


def expected_queries(workload):
    """(name, fingerprint, reference ms) recorded for a query workload."""
    out = []
    with open(EXPECTED) as f:
        for line in f:
            w, name, fp, ref_ms = line.rstrip('\n').split('\t')
            if w == workload:
                out.append((name, fp, float(ref_ms)))
    return out


def query_set(queries):
    """The queries every run of a query workload loops over: the median
    member of each of QUERY_SET strata of recorded latency. Runs with
    different seeds therefore measure the same work, in different orders."""
    ranked = [q[0] for q in sorted(queries, key=lambda q: (q[2], q[0]))]
    bounds = [round(i * len(ranked) / QUERY_SET) for i in range(QUERY_SET + 1)]
    return [ranked[(a + b) // 2] for a, b in zip(bounds, bounds[1:])]


def query_order(queries, rng, passes=100):
    """Seeded interleaved order: passes over the query set, each pass in a
    fresh shuffle. The first pass runs each query cold, later ones warm."""
    qs = query_set(queries)
    return [q for _ in range(passes) for q in rng.sample(qs, len(qs))]


def write_ops(work, client, ops):
    with open(os.path.join(work, f'ops_{client}.tsv'), 'w') as f:
        for i, (kind, arg) in enumerate(ops):
            f.write(f'c{client}-{i:05d}\t{kind}\t{arg}\n')


def load_vectors(path):
    t = pq.read_table(path)
    ids = np.asarray(t.column('vec_id').to_pylist(), dtype=np.int64)
    vecs = np.asarray(t.column('embedding').to_pylist(), dtype=np.float32)
    labels = np.asarray(t.column('label').to_pylist(), dtype=np.int32)
    return ids, vecs, labels


def vector_table(ids, vecs, labels, schema):
    return pa.table({'vec_id': pa.array(ids, pa.int64()),
                     'embedding': pa.array(list(vecs), pa.list_(pa.float32())),
                     'label': pa.array(labels, pa.int32())}).cast(schema)


def fmt_vec(v):
    return ','.join('%.9e' % float(x) for x in v)


def generate(workload, seed, work):
    """Writes the run's inputs into `work`; returns the plan entries."""
    rng = random.Random(seed)
    if workload in ('olap', 'llm_pipeline'):
        order = query_order(expected_queries(workload), rng)
        write_ops(work, 0, [('query', q) for q in order])
        return dict(kind='queries', clients=1, data=DATA)
    spec = SEARCH[workload]
    nrng = np.random.default_rng(seed)
    tables = os.path.join(work, 'tables')
    emb_dir = os.path.join(tables, 'embeddings')
    os.makedirs(emb_dir)
    # TopKSearchRewrite routes any distance top-k over an indexed source
    # through its index, so brute force scans a second, unindexed copy.
    scan_dir = os.path.join(tables, 'embeddings_scan')
    plan = dict(kind='search', clients=spec['clients'], emb_table=emb_dir, scan_table=scan_dir,
                hnsw_ef=64, ivf_nprobe=4, ivf_lists=16, warm_reads=WARM_READS)
    if workload == 'search_hot':
        shutil.copy(os.path.join(DATA, 'embeddings.parquet'), os.path.join(emb_dir, 'base.parquet'))
        doc_dir = os.path.join(tables, 'documents')
        os.makedirs(doc_dir)
        shutil.copy(os.path.join(DATA, 'documents.parquet'), os.path.join(doc_dir, 'base.parquet'))
        plan.update(doc_table=doc_dir, hnsw_parts=4)
        ids, vecs, _ = load_vectors(os.path.join(emb_dir, 'base.parquet'))
    else:
        ids, vecs, labels = cold_corpus(nrng)
        pq.write_table(vector_table(ids, vecs, labels, vector_schema()),
                       os.path.join(emb_dir, 'base.parquet'))
        budget = graph_footprint(len(ids), COLD_DIM) // 4
        plan.update(hnsw_parts=COLD_PARTS, graph_cache_bytes=budget)
    shutil.copytree(emb_dir, scan_dir)

    # Query vectors: stored rows plus seeded noise, so they land among data.
    nq = 256
    base = vecs[nrng.integers(0, len(vecs), nq)]
    noise = nrng.normal(0, 1, base.shape).astype(np.float32) * vecs.std(axis=0) * 0.3
    qv = (base + noise).astype(np.float32)
    with open(os.path.join(work, 'qvecs.tsv'), 'w') as f:
        for i, v in enumerate(qv):
            f.write(f'{i}\t{fmt_vec(v)}\n')
    plan['qvecs'] = os.path.join(work, 'qvecs.tsv')
    vocab = None
    if workload == 'search_hot':
        vocab = vocabulary(os.path.join(DATA, 'documents.parquet'))
        with open(os.path.join(work, 'qtexts.tsv'), 'w') as f:
            for i in range(nq):
                f.write(f'{i}\t{" ".join(rng.sample(vocab, 2))}\n')
        plan['qtexts'] = os.path.join(work, 'qtexts.tsv')

    batches = os.path.join(work, 'batches')
    os.makedirs(batches)
    schema = pq.read_schema(os.path.join(emb_dir, 'base.parquet'))
    for c in range(spec['clients']):
        ops, n_app, n_read = [], 0, c * len(spec['round']) // spec['clients']
        for i in range(SEARCH_OPS):
            if workload == 'search_hot' and i % WRITE_EVERY == WRITE_EVERY // 2 - 1:
                kind = APPEND_KINDS[(c + n_app) % len(APPEND_KINDS)]
                batch = f'{c}-{n_app}'
                write_batch(batches, kind[len('append_'):], batch, c, n_app, vecs, vocab,
                            nrng, rng, schema)
                n_app += 1
                ops.append((kind, batch))
            else:
                ops.append((spec['round'][n_read % len(spec['round'])], str(rng.randrange(nq))))
                n_read += 1
        write_ops(work, c, ops)
    return plan


def vector_schema():
    return pa.schema([('vec_id', pa.int64()), ('embedding', pa.list_(pa.float32())),
                      ('label', pa.int32())])


def cold_corpus(nrng):
    """Seeded gaussian-mixture vectors: 64 clusters in 64 dimensions."""
    centers = nrng.normal(0, 1, (64, COLD_DIM)).astype(np.float32)
    assign = nrng.integers(0, len(centers), COLD_ROWS)
    vecs = (centers[assign] + nrng.normal(0, 0.35, (COLD_ROWS, COLD_DIM))).astype(np.float32)
    return np.arange(COLD_ROWS, dtype=np.int64), vecs, (assign % 10).astype(np.int32)


def graph_footprint(n, dim, m=HNSW_M):
    """Bytes HnswIndex's cache weighs a loaded graph at: per node the id and
    array headers, the vector, and a layer-0 list of up to 2m neighbours."""
    return 16 + n * (8 + 56 + 4 * dim + 16 + 4 * 2 * m)


def vocabulary(path):
    words = set()
    for t in pq.read_table(path, columns=['text']).column('text').to_pylist():
        words.update(tokenize(t or ''))
    return sorted(words)


def tokenize(text):
    """The engine's FTS tokenizer: lowercase alphanumeric runs."""
    return [t for t in re.split('[^a-z0-9]+', text.lower()) if t]


def write_batch(batches, family, batch, client, n, vecs, vocab, nrng, rng, schema):
    first = ID_BASE[family] + client * 1_000_000 + n * BATCH_ROWS
    ids = np.arange(first, first + BATCH_ROWS, dtype=np.int64)
    path = os.path.join(batches, f'{family}_{batch}.parquet')
    if family == 'fts':
        texts = [' '.join(rng.choice(vocab) for _ in range(rng.randint(8, 40)))
                 for _ in range(BATCH_ROWS)]
        pq.write_table(pa.table({'doc_id': pa.array(ids, pa.int64()),
                                 'text': pa.array(texts, pa.string())}), path)
        return
    base = vecs[nrng.integers(0, len(vecs), BATCH_ROWS)]
    new = (base + nrng.normal(0, 1, base.shape).astype(np.float32)
           * vecs.std(axis=0) * 0.2).astype(np.float32)
    labels = nrng.integers(0, 10, BATCH_ROWS).astype(np.int32)
    pq.write_table(vector_table(ids, new, labels, schema), path)


# ---------------------------------------------------------------- answers

def l2(vecs, q):
    """The engine's L2 kernel bit for bit: float32 squared differences
    summed left to right in float32, then sqrt in double, rounded to
    float32."""
    s = np.zeros(len(vecs), dtype=np.float32)
    d = (vecs - q.astype(np.float32)).astype(np.float32)
    for j in range(vecs.shape[1]):
        s = (s + d[:, j] * d[:, j]).astype(np.float32)
    return np.sqrt(s.astype(np.float64)).astype(np.float32)


def bm25(docs, terms):
    """FtsIndex's BM25 (k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + .5) /
    (df + .5))) over `docs` {doc_id: tokens}; returns {doc_id: score} for
    documents matching at least one term."""
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    df = {t: sum(1 for toks in docs.values() if t in toks) for t in terms}
    scores = {}
    for doc_id, toks in docs.items():
        s, hit = 0.0, False
        for t in terms:
            tf = toks.count(t)
            if tf and df[t]:
                idf = np.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks) / avgdl))
                hit = True
        if hit:
            scores[doc_id] = s
    return scores


def query_terms(text):
    seen = []
    for t in tokenize(text):
        if t not in seen:
            seen.append(t)
    return seen
