"""Correctness gate: every result is compared with its own
`SparkEntry.oracleSql` twin, run in DuckDB on the same generated inputs.

Exact rows must match the oracle as a multiset of rows (columns sorted by
name, floats rounded to 9 places — the rules of tools/compare.py).
Approximate rows must emit only pairs the oracle emits, with identical
values, and may miss no more pairs than their banding scheme's own miss
probability allows (see `approximate`).
"""
import glob
import os

import duckdb

import metrics

# rows whose oracle joins every document pair (O(n^2) list_intersect);
# `rewrite_all_pairs` restricts that join to pairs sharing a shingle
ALL_PAIRS_ROWS = {"q18_jaccard_dups", "q19_minhash_lsh"}

# approximate rows: (similarity column, per-pair miss probability of the
# operator's banding at the row's parameters)
APPROXIMATE = {
    # Dedup.minhashLshJoin at q19's parameters: 96 hashes, 24 bands of 4
    "q19_minhash_lsh": ("jaccard", metrics.minhash_miss),
    # Similarity.lshSelfJoin at q58's parameters: 3 planes x 24 tables
    "q58_lsh_selfjoin": ("sim", metrics.lsh_cosine_miss),
}

S_ANCHOR = "FROM t WHERE len(toks) >= 3)"
PAIR_JOIN = "FROM s a JOIN s b ON a.doc_id < b.doc_id"
CAND_CTE = (",\ncand AS (SELECT DISTINCT x.doc_id AS ca, y.doc_id AS cb"
            " FROM (SELECT doc_id, unnest(sh) AS g FROM s) x"
            " JOIN (SELECT doc_id, unnest(sh) AS g FROM s) y"
            " ON x.g = y.g AND x.doc_id < y.doc_id)")
CAND_JOIN = "FROM cand JOIN s a ON a.doc_id = cand.ca JOIN s b ON b.doc_id = cand.cb"


def rewrite_all_pairs(sql):
    """Exact rewrite of the shingle-Jaccard twins' all-pairs join.

    A pair with Jaccard >= t > 0 shares at least one shingle, so joining
    only the pairs an inverted index on shingles produces drops nothing
    the predicate could keep; every kept pair is still evaluated by the
    oracle's own expressions. Same argument as tools/sf1_q3143.py;
    perfbench/test_metrics.py checks it against the original SQL.
    """
    if S_ANCHOR not in sql or PAIR_JOIN not in sql:
        raise ValueError("all-pairs join not found; the oracle text changed")
    return sql.replace(S_ANCHOR, S_ANCHOR + CAND_CTE, 1).replace(PAIR_JOIN, CAND_JOIN)


def connect(data, tmp, cpus):
    con = duckdb.connect()
    con.execute(f"SET threads TO {cpus}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    if os.path.isdir(f"{data}/events.parquet"):
        con.execute("CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{data}/events.parquet/*.parquet')")
    for t in ("documents", "embeddings"):
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def set_stream_prefix(con, files):
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet({files!r})")


def oracle_sql(sqls, row):
    sql = sqls[row]
    return rewrite_all_pairs(sql) if row in ALL_PAIRS_ROWS else sql


def prepare_oracles(con, sqls, rows, out):
    """Run each row's oracle once into `out`/<row>.parquet (kept across
    runs of the same inputs; the timed runs never wait for DuckDB)."""
    os.makedirs(out, exist_ok=True)
    for row in rows:
        path = f"{out}/{row}.parquet"
        if not os.path.exists(path):
            con.execute(f"COPY ({oracle_sql(sqls, row)}) TO '{path}.tmp' (FORMAT parquet)")
            os.replace(f"{path}.tmp", path)


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(_norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return [cols[i] for i in order], out


def _fetch(con, sql):
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def read_rows(con, path_glob):
    files = sorted(glob.glob(path_glob))
    if not files:
        raise FileNotFoundError(f"no result files at {path_glob}")
    return _fetch(con, f"SELECT * FROM read_parquet({files!r})")


def compare(got, want):
    """Multiset equality of two (columns, rows) results; (ok, detail)."""
    gc, gm = _multiset(*got)
    wc, wm = _multiset(*want)
    if gc != wc:
        return False, f"columns {gc} vs {wc}"
    if gm == wm:
        return True, f"{len(got[1])} rows"
    extra = [k for k in gm if gm[k] != wm.get(k, 0)][:2]
    missing = [k for k in wm if wm[k] != gm.get(k, 0)][:2]
    return False, (f"{len(got[1])} rows vs {len(want[1])} oracle rows; "
                   f"unexpected {extra}, missing {missing}")


def approximate(row, got, want):
    """(ok, detail, recall): every emitted pair must be an oracle pair with
    the oracle's exact value; misses may not exceed the allowance for the
    expected number of misses at the pairs' own similarities."""
    sim_col, miss = APPROXIMATE[row]
    gc, gm = _multiset(*got)
    wc, wm = _multiset(*want)
    if gc != wc:
        return False, f"columns {gc} vs {wc}", 0.0
    spurious = [k for k in gm if gm[k] > wm.get(k, 0)]
    missed = [k for k in wm if gm.get(k, 0) < wm[k]]
    si = wc.index(sim_col)
    lam = sum(miss(k[si]) for k in wm)
    allowed = metrics.poisson_allowance(lam)
    recall = 1.0 - len(missed) / len(wm) if wm else 1.0
    ok = not spurious and len(missed) <= allowed
    detail = (f"{len(got[1])} pairs, {len(wm)} oracle pairs, {len(missed)} missed "
              f"(allowed {allowed} at expected {lam:.2e}), {len(spurious)} spurious")
    return ok, detail, recall


def check_rows(con, sqls, rows, results_dir, oracle_dir):
    """{row: (ok, detail)} plus {row: recall} for the approximate rows."""
    prepare_oracles(con, sqls, rows, oracle_dir)
    verdicts, recalls = {}, {}
    for row in rows:
        try:
            got = read_rows(con, f"{results_dir}/{row}/*.parquet")
            want = read_rows(con, f"{oracle_dir}/{row}.parquet")
            if row in APPROXIMATE:
                ok, detail, recalls[row] = approximate(row, got, want)
            else:
                ok, detail = compare(got, want)
        except Exception as e:  # a missing dump is a failed row, not a crash
            ok, detail = False, f"{type(e).__name__}: {e}"
        verdicts[row] = (ok, detail)
    return verdicts, recalls


def check_store(con, sqls, stream_files, reads, check_dir):
    """Store answers after every dashboard read and at the end of the run.

    Each read's digests must equal the digests of the q03 (funnel depth per
    user) and q01 (sessions per user) oracles over the batches ingested so
    far; at the end the stored funnel, the streamed funnel and every
    event's session id are compared row for row with the same oracles over
    every ingested event."""
    q03, q01 = sqls["q03_window_funnel"], sqls["q01_sessionize"]
    sessions = f"SELECT user_id, max(session_id) FROM ({q01}) GROUP BY user_id"
    read_ok = []
    cache = {}
    for r in reads:
        k = r["batches"]
        if k not in cache:
            set_stream_prefix(con, stream_files[:k])
            cache[k] = (metrics.pair_digest(con.execute(q03).fetchall()),
                        metrics.pair_digest(con.execute(sessions).fetchall()))
        read_ok.append(cache[k] == (r["funnel"], r["sessions"]))
    n = max(r["batches"] for r in reads)
    set_stream_prefix(con, stream_files[:n])
    want_funnel = _fetch(con, q03)
    want_sess = _fetch(con, q01)
    final = {}
    for name, want in (("store_funnel", want_funnel), ("stream_funnel", want_funnel),
                       ("store_sessions", want_sess)):
        try:
            final[name] = compare(read_rows(con, f"{check_dir}/{name}/*.parquet"), want)
        except Exception as e:
            final[name] = (False, f"{type(e).__name__}: {e}")
    return read_ok, final

