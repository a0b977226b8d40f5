"""Seeded input generator for the benchmark workloads.

Every table is written in the schema and value domains of the repository's
test data (one parquet file per table, TPC-H-like `orders`/`lineitem`,
`documents`, `embeddings`), so the library's `Tables` readers and the DuckDB
oracle SQL apply unchanged. Only the row counts and the key skew differ.
The same (workload, seed) always produces the same inputs.

`census()` measures the input properties the workloads depend on (rows,
sum of squared per-user and per-item counts, heavy-key shares, planted
duplicates); the runner records it next to every result.
"""
import functools
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# MovieLens-100k's shape: 943 users rate 1,682 items 100,000 times, each
# user at least 20 times (GroupLens ml-100k README); per user at most 737
# with median 65, per item 1 to 583 with median 27 (counts of its u.data).
# `fold_eval` draws a `user_share` sample of that user population; the
# items keep their popularity curve, so per-item counts scale with it.
ML100K = {"users": 943, "items": 1682, "ratings": 100_000,
          "per_user": (20, 65, 737), "per_item": (1, 27, 583)}

# Row counts per input.
SIZES = {
    "ratings": {"user_share": 0.35},
    "corpus": {"docs": 2500, "family_share": 0.25, "vectors": 1200},
}

VOCAB = ("key agg row scan slow fast table value part hash merge batch the "
         "a window data column join small line customer query order group "
         "sort stream filter big spark vector index shard page cache node "
         "edge graph token shingle band").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.45, 0.2, 0.12, 0.12, 0.11]
EMB_DIM = 64
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _rng(seed, salt):
    digest = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _orders_lineitem(rng, cust_of_line, part_of_line, qty_of_line, out):
    """Pack (customer, part, quantity) lines into orders of up to 7 lines
    and write `orders.parquet` and `lineitem.parquet`."""
    order = np.argsort(cust_of_line, kind="stable")
    cust = cust_of_line[order]
    part = part_of_line[order]
    qty = qty_of_line[order]
    n = len(cust)
    # a new order starts at every customer change and every 7 lines
    new_cust = np.r_[True, cust[1:] != cust[:-1]]
    run_start = np.maximum.accumulate(np.where(new_cust, np.arange(n), 0))
    pos_in_run = np.arange(n) - run_start
    starts = new_cust | (pos_in_run % 7 == 0)
    orderkey = np.cumsum(starts) - 1
    linenumber = (pos_in_run % 7 + 1).astype(np.int32)
    n_orders = int(orderkey[-1]) + 1
    o_cust = cust[starts]
    price = np.round(rng.uniform(900.0, 105_000.0, n), 2)
    li = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty.astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(0, 2500, n) * DAY_US,
                               pa.timestamp("us")),
    })
    od = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
                                 pa.float64()),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2400, n_orders) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    _write(li, os.path.join(out, "lineitem.parquet"))
    _write(od, os.path.join(out, "orders.parquet"))
    return n + n_orders


def _quantile_counts(n, lo, med, hi, mean):
    """n counts at evenly spaced quantiles q = 0..1 of a curve that runs
    from `lo` through `med` (q = 0.5) to `hi`: log-linear over the lower
    half, ln c = ln med + ln(hi / med) * (2q - 1) ** g over the upper half,
    with g found by bisection so the counts average `mean`."""
    q = np.arange(n) / (n - 1)
    lower = np.exp(np.log(lo) + np.log(med / lo) * 2 * q)

    def counts(g):
        upper = np.exp(np.log(med) + np.log(hi / med) * np.clip(2 * q - 1, 0, 1) ** g)
        return np.where(q < 0.5, lower, upper)

    a, b = 0.0, 6.0  # bisect on ln g; the mean falls as g grows
    for _ in range(60):
        m = (a + b) / 2
        a, b = (m, b) if counts(np.exp(m)).mean() > mean else (a, m)
    return counts(np.exp(a))


def _draw(rng, per_user, p):
    """Each user rates `per_user[u]` distinct items drawn with probability
    `p`; returns (user, item) arrays."""
    items = [rng.choice(len(p), n, replace=False, p=p) for n in per_user]
    return np.repeat(np.arange(len(per_user)), per_user), np.concatenate(items)


@functools.lru_cache(maxsize=None)
def _ml100k_shape():
    """Per-user counts and per-item draw weights with ML-100k's marginals.
    Drawing items without replacement flattens the head of the popularity
    curve (a user cannot rate an item twice), so the weights are corrected
    rank by rank until the drawn per-item counts follow the target curve.
    The result depends on no seed."""
    m = ML100K
    per_user = np.round(_quantile_counts(m["users"], *m["per_user"],
                                         m["ratings"] / m["users"])).astype(int)
    target = _quantile_counts(m["items"], *m["per_item"], m["ratings"] / m["items"])[::-1]
    w = target.copy()
    for k in range(10):
        _, items = _draw(np.random.default_rng(100 + k), per_user, w / w.sum())
        got = np.sort(np.bincount(items, minlength=len(w)))[::-1]
        w = np.sort(w * target / np.maximum(got, 0.5))[::-1]
    return per_user, w / w.sum()


def gen_ratings(seed, out):
    """A `user_share` sample of ML-100k-shaped users rating the 1,682
    items. Per-user counts are taken at fixed quantiles, so every seed has
    the same activity curve; the seed shuffles which customer and which
    part get which count and weight, and draws the rated items.

    The workloads score the cohort `customer % 20 = 0`. Each run of 20
    customer ids gets the counts of 20 adjacent quantiles, and its cohort
    member the middle one, so the cohort samples the curve evenly and
    every seed's cohort rates as many items."""
    rng = _rng(seed, "ratings")
    per_user, p = _ml100k_shape()
    n_users = int(len(per_user) * SIZES["ratings"]["user_share"]) // 20 * 20
    quantile = np.round(np.linspace(0, len(per_user) - 1, n_users)).astype(int)
    blocks = per_user[quantile].reshape(-1, 20)
    counts = np.concatenate([np.r_[b[10], rng.permutation(np.delete(b, 10))]
                             for b in rng.permutation(blocks)])
    cust, part = _draw(rng, counts, rng.permutation(p))
    qty = rng.integers(1, 51, len(cust))
    return _orders_lineitem(rng, cust, part, qty, out)


def _doc_text(rng, n_words):
    return " ".join(rng.choice(VOCAB, n_words))


def _perturb(rng, words, n_edits):
    words = list(words)
    for _ in range(n_edits):
        op = rng.integers(0, 3)
        i = int(rng.integers(0, len(words)))
        if op == 0:
            words[i] = VOCAB[rng.integers(0, len(VOCAB))]
        elif op == 1:
            words.insert(i, VOCAB[rng.integers(0, len(VOCAB))])
        elif len(words) > 10:
            del words[i]
    return words


def gen_corpus(seed, out):
    """Documents with planted exact and near-duplicate families, and
    clustered embeddings with planted near-duplicate vectors. Family
    members differ from the base text by at most two word edits, so every
    family is a clique in the verified near-dup graph and connected
    components converge in the same number of rounds for every seed."""
    p = SIZES["corpus"]
    rng = _rng(seed, "corpus")
    n = p["docs"]
    texts = [None] * n
    family = np.full(n, -1)
    ids = rng.permutation(n)
    i = 0
    fam = 0
    n_family_docs = int(n * p["family_share"])
    while i < n_family_docs:
        size = int(rng.integers(2, 5))
        base = rng.choice(VOCAB, int(rng.integers(40, 90))).tolist()
        for k in range(min(size, n_family_docs - i)):
            d = ids[i]
            if k == 0:
                words = base
            elif rng.random() < 0.3:  # exact copy, re-cased and re-spaced
                words = [w.upper() if rng.random() < 0.2 else w for w in base]
            else:
                words = _perturb(rng, base, int(rng.integers(1, 3)))
            sep = "  " if rng.random() < 0.1 else " "
            texts[d] = sep.join(words)
            family[d] = fam
            i += 1
        fam += 1
    for d in ids[n_family_docs:]:
        texts[d] = _doc_text(rng, int(rng.integers(20, 90)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(docs, os.path.join(out, "documents.parquet"))

    m = p["vectors"]
    centers = rng.normal(0.0, 0.12, (10, EMB_DIM))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] + rng.normal(0.0, 0.12, (m, EMB_DIM))
    dup = rng.random(m) < 0.1  # near-copies of another vector
    src = rng.integers(0, m, m)
    vecs[dup] = vecs[src[dup]] + rng.normal(0.0, 0.02, (int(dup.sum()), EMB_DIM))
    labels[dup] = labels[src[dup]]
    emb = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    _write(emb, os.path.join(out, "embeddings.parquet"))
    return n + m, int((family >= 0).sum())


INPUTS = {"fold_eval": "ratings", "corpus_dedup": "corpus"}


def generate(workload, seed, out):
    """Write the workload's input tables into `out`; return the number of
    generated rows and the planted-duplicate document count (0 for the
    ratings input)."""
    os.makedirs(out, exist_ok=True)
    if INPUTS[workload] == "ratings":
        return gen_ratings(seed, out), 0
    return gen_corpus(seed, out)


def census(con, workload, planted_docs):
    """Input properties measured with DuckDB over the generated files
    (views must already exist on `con`)."""
    if INPUTS[workload] == "corpus":
        n_docs, n_vec = con.execute(
            "SELECT (SELECT count(*) FROM documents), (SELECT count(*) FROM embeddings)"
        ).fetchone()
        return {"documents": n_docs, "embeddings": n_vec,
                "planted_dup_share": round(planted_docs / n_docs, 4)}
    li = con.execute("SELECT o_custkey, l_partkey FROM lineitem "
                     "JOIN orders ON l_orderkey = o_orderkey").fetchnumpy()
    out = {"lineitem_rows": len(li["o_custkey"])}
    out.update(degree_census(li["o_custkey"], li["l_partkey"]))
    out["planted_dup_share"] = 0.0
    return out


def degree_census(users, items):
    """Rows, per-user and per-item count statistics, the pair-join volumes
    sum(n_u^2) and sum(n_i^2), and the share of ratings held by the top 1%
    of items, over the distinct (user, item) pairs."""
    pairs = np.unique(np.stack([np.asarray(users), np.asarray(items)], 1), axis=0)
    nu = np.unique(pairs[:, 0], return_counts=True)[1]
    ni = np.sort(np.unique(pairs[:, 1], return_counts=True)[1])[::-1]
    return {"ratings": len(pairs), "users": len(nu), "items": len(ni),
            "sum_nu_sq": int((nu.astype(np.int64) ** 2).sum()),
            "sum_ni_sq": int((ni.astype(np.int64) ** 2).sum()),
            "min_items_per_user": int(nu.min()),
            "median_items_per_user": float(np.median(nu)),
            "max_items_per_user": int(nu.max()),
            "median_raters_per_item": float(np.median(ni)),
            "max_raters_per_item": int(ni[0]),
            "top1pct_item_share": round(float(ni[:max(1, len(ni) // 100)].sum()) / len(pairs), 4)}


def movielens_census(path):
    """`degree_census` of a MovieLens ratings file (user, item, rating,
    timestamp per line, tab- or comma-separated, header optional), to set
    beside the census of a generated input."""
    users, items = [], []
    with open(path) as f:
        for line in f:
            cols = line.replace(",", "\t").split()
            if len(cols) >= 2 and cols[0].isdigit() and cols[1].isdigit():
                users.append(int(cols[0]))
                items.append(int(cols[1]))
    return degree_census(users, items)


if __name__ == "__main__":
    import json
    import sys
    if len(sys.argv) != 3 or sys.argv[1] != "--census":
        sys.exit("usage: python3 perfbench/gen.py --census <MovieLens ratings file>")
    print(json.dumps(movielens_census(sys.argv[2]), sort_keys=True))
