"""Output checks against independent references, run after the timed region.

* fold_eval, every pass (one fold each): the library's registered DuckDB
  oracle SQL for q16 (restricted to the cohort), q17 and q33
  (`SparkEntry.oracleSql`, dumped by the benchmark JVM), evaluated over the
  fold's training lineitems; held-out rating predictions (dense Pearson)
  against DuckDB SQL written here from the documented semantics;
  ranking metrics recomputed in Python from the fused list.
* corpus_dedup, last pass (the JVM checks that every pass matches it): the
  oracle SQL of q18, q20 and q105, and q50's clusters recomputed with
  union-find from the oracle's verified pairs.

Every check returns a list of mismatch messages (empty when all match).
"""
import json
import os

import duckdb

FLOAT_TOL = 1.5e-4


def connect(data_dir, threads):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    """DuckDB returns some sums as Decimal; compare them as floats."""
    if isinstance(v, (int, float, str)) or v is None:
        return v
    return float(v)


def _key(row):
    return tuple((v is None, round(v, 3) if isinstance(v, float) else v) for v in row)


def compare_rows(name, columns, got, want_cols, want):
    """Compare two row sets as multisets: non-float values exactly, floats
    within FLOAT_TOL (both sides round to 4 or 6 decimals)."""
    try:
        idx = [want_cols.index(c) for c in columns]
    except ValueError as e:
        return [f"{name}: column mismatch {columns} vs {want_cols} ({e})"]
    a = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    b = sorted((tuple(_norm(r[i]) for i in idx) for r in want), key=_key)
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows, reference has {len(b)}"]
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            same = (abs(x - y) <= FLOAT_TOL if isinstance(x, float) and isinstance(y, (int, float))
                    else x == y)
            if not same:
                return [f"{name}: first differing row {ra} vs reference {rb}"]
    return []


def reference(con, sql, memo=None):
    """(columns, rows) of `sql`; with a `memo` dict each query runs once."""
    if memo is not None and sql in memo:
        return memo[sql]
    cur = con.execute(sql)
    res = ([d[0] for d in cur.description], cur.fetchall())
    if memo is not None:
        memo[sql] = res
    return res


def check_sql(con, name, out, sql, memo=None):
    cols, rows = reference(con, sql, memo)
    return compare_rows(name, out["columns"], out["rows"], cols, rows)


def _ratings_sql(lineitem):
    return ("SELECT o_custkey AS user_id, l_partkey AS item_id, "
            "round(avg(l_quantity), 6) AS rating "
            f"FROM {lineitem} JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2")


def _hash(expr):
    return f"CAST(('0x' || substr(md5({expr}), 1, 7)) AS BIGINT)"


def r4(e):
    return f"floor(({e}) * 10000.0 + 0.5) / 10000.0"


def r6(e):
    return f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"


COHORT = "user_id % 20 = 0"


def fold_views(con, seed, fold, folds=5):
    """Point `lineitem` at the fold's training lineitems (a rating's fold is
    a hash of its user and item, so all lineitems of one rating share it)
    and build the `train` and cohort `test` tables."""
    in_fold = _hash(f"concat_ws(':', o.o_custkey, l.l_partkey, 'fold{seed}')") + f" % {folds}"
    con.execute(f"""CREATE OR REPLACE TEMP VIEW lineitem AS
        SELECT l.* FROM lineitem_all l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE {in_fold} <> {fold}""")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE base AS
        SELECT *, {_hash(f"concat_ws(':', user_id, item_id, 'fold{seed}')")} % {folds} AS fold
        FROM ({_ratings_sql("lineitem_all")})""")
    con.execute(f"CREATE OR REPLACE TEMP TABLE train AS "
                f"SELECT user_id, item_id, rating FROM base WHERE fold <> {fold}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE test AS SELECT user_id, item_id, rating "
                f"FROM base WHERE fold = {fold} AND {COHORT}")


PREDICT_SQL = """
WITH mom AS (SELECT user_id, avg(rating) AS umean, sum(rating) AS s,
                    sum(rating * rating) AS q FROM train GROUP BY 1),
bign AS (SELECT CAST(count(DISTINCT item_id) AS DOUBLE) AS n FROM train),
dots AS (SELECT a.user_id AS u, b.user_id AS v, sum(a.rating * b.rating) AS dot
         FROM train a JOIN train b ON a.item_id = b.item_id
         WHERE a.user_id <> b.user_id
           AND a.user_id IN (SELECT DISTINCT user_id FROM test)
         GROUP BY 1, 2),
cand AS (SELECT c.user_id AS u, c.item_id, c.rating AS actual,
                t.user_id AS v, t.rating AS r_vi
         FROM test c JOIN train t ON t.item_id = c.item_id AND t.user_id <> c.user_id),
pairs AS (SELECT DISTINCT u, v FROM cand),
sims AS (SELECT p.u, p.v, {sim} AS sim
         FROM pairs p LEFT JOIN dots d ON d.u = p.u AND d.v = p.v
         JOIN mom ma ON ma.user_id = p.u JOIN mom mb ON mb.user_id = p.v, bign),
top AS (SELECT * FROM (
          SELECT c.*, s.sim, mv.umean AS vmean, row_number() OVER (
            PARTITION BY c.u, c.item_id ORDER BY s.sim DESC, c.v ASC) AS nrk
          FROM cand c JOIN sims s ON s.u = c.u AND s.v = c.v
          JOIN mom mv ON mv.user_id = c.v)
        WHERE nrk <= 25),
agg AS (SELECT u, item_id, actual, sum(sim * (r_vi - vmean)) AS num, sum(sim) AS den
        FROM top GROUP BY 1, 2, 3)
SELECT u AS user_id, item_id, {actual} AS actual, {pred} AS predicted, {err} AS abs_err
FROM agg JOIN mom ON mom.user_id = agg.u WHERE den <> 0
"""

# the reference's whole-vector, zero-inclusive Pearson over the catalog of
# N train items; pairs that share no item have dot = 0
PEARSON = r6("(coalesce(d.dot, 0.0) - bign.n * (ma.s / bign.n) * (mb.s / bign.n)) / "
             "(sqrt(ma.q - bign.n * (ma.s / bign.n) * (ma.s / bign.n)) * "
             "sqrt(mb.q - bign.n * (mb.s / bign.n) * (mb.s / bign.n)))")
PREDICT_PEARSON_SQL = PREDICT_SQL.format(
    sim=PEARSON, actual=r4("actual"), pred=r4("umean + num / den"),
    err=r4("abs(actual - (umean + num / den))"))


def clusters(pairs):
    """Connected components of the pair graph (union-find), one row per
    component of two or more docs: (min id, size, sorted member list).
    The library's q50 oracle computes the same with a recursive CTE that
    is far slower in DuckDB."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    return [(min(m), len(m), ",".join(str(x) for x in sorted(m)))
            for m in comps.values() if len(m) > 1]


def ranking_metrics(recs, relevant, k):
    """Precision, recall and AP at k over the ranked list, averaged over the
    users that received recommendations (the reference formulas)."""
    rel = {}
    for u, i in relevant:
        rel.setdefault(u, set()).add(i)
    by_user = {}
    ci = {c: n for n, c in enumerate(recs["columns"])}
    for r in recs["rows"]:
        by_user.setdefault(r[ci["user_id"]], []).append((r[ci["rk"]], r[ci["item_id"]]))
    prec, recall, ap = [], [], []
    for u, lst in by_user.items():
        lst.sort()
        ru = rel.get(u, set())
        cum, s = 0, 0.0
        for rk, i in lst:
            cum += i in ru
            s += cum / rk
        prec.append(cum / k)
        ap.append(s / k)
        recall.append(cum / len(ru) if ru else 0.0)
    avg = lambda xs: sum(xs) / len(xs)
    return {f"avg_precision_at_{k}": avg(prec), f"avg_recall_at_{k}": avg(recall),
            f"map_at_{k}": avg(ap)}


def check_fold(con, outs, sql, seed, memos):
    """Checks one pass. `memos` keeps each fold's reference results, so
    passes over the same fold (the pairs of a traced run) share them."""
    fold = outs["fold"]["rows"][0][0]
    if fold not in memos:
        fold_views(con, seed, fold)
    memo = memos.setdefault(fold, {})
    k = 5
    bad = check_sql(con, "q16_user_knn_topk", outs["q16_user_knn_topk"],
                    f"SELECT * FROM ({sql['q16_user_knn_topk']}) WHERE {COHORT}", memo)
    for name in ("q17_item_knn_topk", "q33_hybrid_topk"):
        bad += check_sql(con, name, outs[name], sql[name], memo)
    bad += check_sql(con, "pred_pearson", outs["pred_pearson"], PREDICT_PEARSON_SQL, memo)
    _, relevant = reference(con, "SELECT user_id, item_id FROM test WHERE rating >= 30", memo)
    want = ranking_metrics(outs["q33_hybrid_topk"], relevant, k)
    got = dict(zip(outs["metrics"]["columns"], outs["metrics"]["rows"][0]))
    for key, v in want.items():
        if abs(got[key] - v) > FLOAT_TOL:
            bad.append(f"metrics: {key} = {got[key]}, reference {v:.6f}")
    return [f"fold {fold}: {m}" for m in bad]


def check(workload, data_dir, run_dir, result, seed, threads):
    """Returns (operations checked, operations with a mismatch, messages)."""
    with open(os.path.join(run_dir, "outputs.json")) as f:
        outs = json.load(f)
    sql = result["oracle_sql"]
    con = connect(data_dir, threads)
    try:
        if workload == "fold_eval":
            con.execute("ALTER VIEW lineitem RENAME TO lineitem_all")
            memos = {}
            msgs = [check_fold(con, o, sql, seed, memos) for _, o in sorted(outs.items())]
            return len(msgs), sum(1 for m in msgs if m), [x for m in msgs for x in m]
        bad = []
        for name in ("q18_exact_dedup", "q20_neardup_pairs", "q105_semantic_dedup"):
            bad += check_sql(con, name, outs[name], sql[name])
        pairs = con.execute(f"SELECT doc_a, doc_b FROM ({sql['q20_neardup_pairs']}) "
                            f"WHERE jaccard >= 0.5").fetchall()
        q50 = outs["q50_dedup_clusters"]
        bad += compare_rows("q50_dedup_clusters", q50["columns"], q50["rows"],
                            ["canonical_id", "n_docs", "member_csv"], clusters(pairs))
        return 1, 1 if bad else 0, bad
    finally:
        con.close()
