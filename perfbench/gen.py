"""Seeded input generator for the benchmark workloads.

Everything is drawn from one numpy PCG64 stream per (workload, seed), and
the parquet files are written with fixed row-group sizes and no pandas
metadata, so the same seed gives byte-identical files (see `digest`).
The program under test only ever sees the files, never the seed.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
JAN_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000
SPAN_US = 30 * DAY_US  # the fixture's Jan 1 - Jan 30 range

# curation_corpus: the fixture's vocabulary-style documents with stated
# exact-duplicate and near-duplicate shares, and 64-d unit embeddings
# with a stated near-duplicate share.
N_DOCS = 300
DOC_EXACT_SHARE = 0.05
DOC_NEAR_SHARE = 0.10
NEAR_SUBST_RATES = (0.02, 0.05, 0.10)
N_EMB = 100
EMB_DIM = 64
EMB_NEAR_SHARE = 0.10
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
LANGS = np.array(["en", "es", "de", "fr", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# store_ingest: a time-ordered event stream cut into small batches.
STREAM_BATCHES = 40
STREAM_BATCH_EVENTS = 2000
STREAM_USERS = 1500
STREAM_ALPHA = 0.8


def _rng(workload, seed):
    tag = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:4], "big")
    return np.random.Generator(np.random.PCG64([int(seed), tag]))


def _strictly_increasing_per_user(users, ts):
    """Sort by (user, ts) and bump equal timestamps so (user_id, ts) is
    tie-free, so each user's event order (and so each session id) is the
    same in graft and in the oracle."""
    order = np.lexsort((ts, users))
    users, ts = users[order], ts[order]
    starts = np.r_[0, np.flatnonzero(np.diff(users)) + 1]
    group = np.repeat(np.arange(len(starts)), np.diff(np.r_[starts, len(users)]))
    idx = np.arange(len(users)) - starts[group]
    # ts' = groupwise cummax(ts - idx) + idx is strictly increasing per user;
    # the group offset keeps one global cummax from crossing users
    big = np.int64(1) << 50
    v = ts - idx + group * big
    v = np.maximum.accumulate(v) - group * big
    return users, v + idx


def _events_table(users, ts, types, rng):
    order = np.lexsort((users, ts))
    users, ts, types = users[order], ts[order], types[order]
    n = len(users)
    value = np.round(rng.uniform(0, 200, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(types.astype(object), type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props.astype(object), type=pa.string()),
    })


def _write(table, path, row_group=65536):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group, compression="snappy")


def gen_corpus(out, rng):
    n_exact = round(DOC_EXACT_SHARE * N_DOCS)
    n_near = round(DOC_NEAR_SHARE * N_DOCS)
    n_orig = N_DOCS - n_exact - n_near
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n_orig)]
    for _ in range(n_exact):
        texts.append(texts[rng.integers(0, n_orig)])
    for j in range(n_near):
        toks = texts[rng.integers(0, n_orig)].split(" ")
        rate = NEAR_SUBST_RATES[j % len(NEAR_SUBST_RATES)]
        swap = rng.random(len(toks)) < rate
        toks = [VOCAB[rng.integers(0, len(VOCAB))] if s else w
                for w, s in zip(toks, swap)]
        texts.append(" ".join(toks))
    perm = rng.permutation(N_DOCS)
    texts = [texts[i] for i in perm]
    langs = LANGS[rng.choice(len(LANGS), N_DOCS, p=LANG_P)]
    sources = np.char.add("src", rng.integers(0, 20, N_DOCS).astype(str))
    _write(pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs.astype(object), type=pa.string()),
        "source": pa.array(sources.astype(object), type=pa.string()),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    }), f"{out}/documents.parquet")
    seen, exact_measured = set(), 0
    for x in texts:
        exact_measured += x in seen
        seen.add(x)

    n_near_e = round(EMB_NEAR_SHARE * N_EMB)
    base = rng.standard_normal((N_EMB - n_near_e, EMB_DIM))
    src = base[rng.integers(0, len(base), n_near_e)]
    noise = rng.standard_normal((n_near_e, EMB_DIM))
    noise *= (rng.uniform(0.2, 0.5, (n_near_e, 1)) * np.linalg.norm(src, axis=1, keepdims=True)
              / np.linalg.norm(noise, axis=1, keepdims=True))
    vecs = np.vstack([base, src + noise])[rng.permutation(N_EMB)]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    offsets = np.arange(0, (N_EMB + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(pa.array(offsets), pa.array(vecs.ravel())),
        "label": pa.array(rng.integers(0, 10, N_EMB).astype(np.int32)),
    }), f"{out}/embeddings.parquet")
    return {
        "documents": N_DOCS,
        "exact_dup_share": round(exact_measured / N_DOCS, 4),
        "near_dup_share_generated": round(n_near / N_DOCS, 4),
        "near_dup_subst_rates": list(NEAR_SUBST_RATES),
        "embeddings": N_EMB,
        "emb_near_dup_share_generated": round(n_near_e / N_EMB, 4),
    }


def gen_stream(out, rng):
    ranks = np.arange(1, STREAM_USERS + 1)
    p = 1.0 / ranks ** STREAM_ALPHA
    p /= p.sum()
    ids = rng.permutation(STREAM_USERS).astype(np.int64) + 1
    # batch b covers the b-th slice of the month; every batch has the same
    # size, so events per second compares runs of different seeds
    slice_us = SPAN_US // STREAM_BATCHES
    batch_of = np.repeat(np.arange(STREAM_BATCHES), STREAM_BATCH_EVENTS)
    users = ids[rng.choice(STREAM_USERS, len(batch_of), p=p)]
    ts = JAN_2024_US + batch_of * slice_us + rng.integers(0, slice_us - 1000, len(batch_of))
    users, ts = _strictly_increasing_per_user(users, ts)
    types = EVENT_TYPES[rng.integers(0, 5, len(users))]
    t = _events_table(users, ts, types, rng)
    bounds = JAN_2024_US + np.arange(STREAM_BATCHES + 1) * slice_us
    tsv = t.column("ts").cast(pa.int64()).to_numpy()
    cut = np.searchsorted(tsv, bounds)
    got = []
    for b in range(STREAM_BATCHES):
        part = t.slice(int(cut[b]), int(cut[b + 1] - cut[b]))
        got.append(part.num_rows)
        _write(part, f"{out}/events.parquet/b{b:04d}.parquet")
    per_user = np.bincount(t.column("user_id").to_numpy())
    return {
        "batches": STREAM_BATCHES,
        "batch_events_min": int(min(got)),
        "batch_events_median": int(np.median(got)),
        "batch_events_max": int(max(got)),
        "events": int(sum(got)),
        "users": STREAM_USERS,
        "max_events_per_user": int(per_user.max()),
    }


GENERATORS = {
    "curation_corpus": gen_corpus,
    "store_ingest": gen_stream,
}


def digest(root):
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out`; returns the
    measured input properties plus the content digest."""
    props = GENERATORS[workload](out, _rng(workload, seed))
    props["digest"] = digest(out)
    with open(f"{out}/inputs.json", "w") as fh:
        json.dump(props, fh, sort_keys=True)
    return props
