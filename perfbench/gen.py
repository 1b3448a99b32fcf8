"""Seeded input generators for the benchmark workloads.

Every table is written in the schema of the repo's test tables
(`events`, `documents`, `embeddings`; see TESTDATA.md), one parquet
file each. The same (workload, seed) always gives the same bytes; another
seed gives different data of the same size, rates and planted
structure.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00
HOUR_US = 3600 * 1_000_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "en", "en", "es", "zh", "de", "fr"])


def _write(table, path, rows_per_group):
    # several row groups, so the oracle's DuckDB scan runs in parallel
    pq.write_table(table, path, compression="snappy", row_group_size=rows_per_group)


def events(rng, n_series, n_points, path):
    """Hourly series with second-level jitter and values like the test
    data's (exponential, mean ~50, capped at 560), plus planted structure so
    every detector fires: NaN runs (data gaps), timestamp gaps longer
    than 6 h, flat runs, single-point spikes and dips, and storm bursts
    (consecutive hours of 60-150)."""
    n = n_series * n_points
    sid = np.repeat(np.arange(n_series, dtype=np.int64), n_points)
    step = np.full((n_series, n_points), HOUR_US, dtype=np.int64)
    # four long gaps per series: 7-30 h instead of 1 h
    at = rng.permuted(np.tile(np.arange(1, n_points), (n_series, 1)), axis=1)[:, :4]
    step[np.arange(n_series)[:, None], at] = rng.integers(7, 31, at.shape) * HOUR_US
    step[:, 0] = rng.integers(0, 24, n_series) * HOUR_US
    base = np.cumsum(step, axis=1)
    jitter = rng.integers(0, 60_000_000, (n_series, n_points))
    ts = (T0_US + base + jitter).reshape(-1)

    val = np.minimum(rng.exponential(50.0, (n_series, n_points)), 560.0)
    val = np.round(val, 2)
    per = max(1, n_points // 200)  # planted events per kind per series

    def starts(k, width):
        return rng.integers(1, n_points - width - 1, (n_series, k))

    rows = np.arange(n_series)[:, None]
    # storm bursts: 6-20 hours of 60-150
    for w in (6, 12, 20):
        s = starts(per, w)
        for j in range(w):
            val[rows, s + j] = np.round(rng.uniform(60, 150, s.shape), 2)
    # flat runs: 4-10 points within +-1 of a level
    s = starts(per, 10)
    level = rng.uniform(5, 100, s.shape)
    width = rng.integers(4, 11, s.shape)
    for j in range(10):
        flat = np.round(level + rng.uniform(-1, 1, s.shape), 2)
        val[rows, s + j] = np.where(j < width, flat, val[rows, s + j])
    # spikes above 300 and dips below 0.05
    s = starts(per, 1)
    val[rows, s] = np.round(rng.uniform(380, 560, s.shape), 2)
    s = starts(per, 1)
    val[rows, s] = np.round(rng.uniform(0.0, 0.04, s.shape), 2)
    # NaN runs of 2-5 points
    s = starts(per, 5)
    width = rng.integers(2, 6, s.shape)
    for j in range(5):
        val[rows, s + j] = np.where(j < width, np.nan, val[rows, s + j])
    val = val.reshape(-1)

    order = np.argsort(ts, kind="stable")
    ts, sid, val = ts[order], sid[order], val[order]
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    _write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(sid),
        "event_type": pa.array(etype),
        "value": pa.array(val, type=pa.float64()),
        "props": pa.array(props),
    }), path, 25000)
    return n


def documents(rng, n_docs, path, vocab=400):
    """Word documents over a small vocabulary with planted near-duplicate
    families, the scheme the engine's scale smoke uses: a variant copies
    its family base and changes only its last token (Jaccard of word
    3-shingles ~0.96 at these lengths; unrelated documents share almost
    none). Every 50 documents hold 30 singletons and one family each of
    2 to 6 (cliques), so all seeds share one structure."""
    words = np.array([f"w{i}" for i in range(vocab)])
    texts = []
    block = [1] * 30 + [2, 3, 4, 5, 6]
    fam_sizes = rng.permutation(block * (n_docs // 50 + 1))
    fam_sizes = fam_sizes[np.cumsum(fam_sizes) <= n_docs]
    fam_sizes = np.r_[fam_sizes, [1] * (n_docs - int(fam_sizes.sum()))].astype(int)
    for f in fam_sizes:
        length = int(rng.integers(30, 80))
        base = words[rng.integers(0, vocab, length)]
        texts.append(" ".join(base))
        for _ in range(f - 1):
            variant = base.copy()
            variant[-1] = words[rng.integers(0, vocab)]
            texts.append(" ".join(variant))
    texts = np.array(texts, dtype=object)
    texts = texts[rng.permutation(n_docs)]
    n_chars = np.fromiter((len(t) for t in texts), dtype=np.int64, count=n_docs)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_docs).astype(str))),
        "n_chars": pa.array(n_chars),
    }), path, 250)
    return n_docs


def embeddings(rng, n_vecs, path, dim=64):
    """Random unit vectors (labels 0-9 drawn at random) with planted
    near-duplicates, the scheme the engine's scale smoke uses: ids
    = 1 (mod 100) copy the previous vector with one component nudged
    (cosine ~0.999, far above the 0.45 threshold; unrelated pairs sit
    at 0 +- 0.125)."""
    label = rng.integers(0, 10, n_vecs).astype(np.int32)
    x = rng.standard_normal((n_vecs, dim))
    dup = np.arange(n_vecs) % 100 == 1
    x[dup] = x[np.flatnonzero(dup) - 1]
    x[dup, 0] += 0.07 * np.linalg.norm(x[dup], axis=1)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    }), path, 500)
    return n_vecs


GENERATORS = {"events": events, "documents": documents, "embeddings": embeddings}


def generate(out_dir, seed, sizes):
    """Write each table of `sizes` ({table: size args}) under `out_dir`,
    each from its own random stream of `seed`."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, (table, args) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i])
        rows[table] = GENERATORS[table](
            rng, *args, os.path.join(out_dir, f"{table}.parquet"))
    return rows
