"""Seeded TPC-H-like corpus for the analytic_keys workload.

Writes the ten tables `graft.SparkEntry.queries` reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one parquet file each. Every parameter -- row counts, value
sets and their shares, ranges, the document vocabulary and lengths --
is read from `sf01_profile.json`, a measurement of the repository's
sf0.1 test corpus made with `profile_corpus.py`. The recipes that turn
those parameters into columns follow what the measurement shows:

- low-cardinality columns (at most 64 distinct values) draw from the
  measured value shares;
- key columns are 0..rows-1; foreign keys (`o_custkey`, `l_orderkey`,
  `l_partkey`, `l_suppkey`, `user_id`) are uniform and independent over
  the measured key range (sf0.1's lines per order are the matching
  Poisson(4) counts, 1.8% of orders have no line);
- prices and balances are uniform on a cent grid over the measured
  range, dates uniform over the measured days, event times uniform in
  microseconds and sorted by `event_id`;
- event values are exponential with the measured mean (sf0.1's
  quartiles 14.6 / 34.8 / 68.9 are those of an exponential of mean 50);
- document words are drawn with the measured vocabulary shares, lengths
  uniform over the measured range, and the measured share of documents
  is another document's text with the word `dup` appended.

`python3 perfbench/profile_corpus.py --compare perfbench/sf01_profile.json
DIR` checks a generated corpus against the measurement, figure by
figure. Every value comes from one numpy generator seeded by the
workload seed, so one seed always gives identical tables.

    python3 perfbench/gen.py OUT_DIR SEED
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "sf01_profile.json")) as _f:
    PROFILE = json.load(_f)

ARROW = {"INTEGER": pa.int32(), "BIGINT": pa.int64(), "DOUBLE": pa.float64(),
         "VARCHAR": pa.string()}
PY = {"INTEGER": int, "BIGINT": int, "DOUBLE": float, "VARCHAR": str}


def rows(table):
    return PROFILE["tables"][table]["rows"]


def col(table, name):
    return PROFILE["tables"][table]["columns"][name]


def draw(rng, table, name, n=None):
    """n values with the measured shares of a low-cardinality column."""
    c = col(table, name)
    values = [PY[c["type"]](v) for v in c["shares"]]
    p = np.array(list(c["shares"].values()))
    picks = rng.choice(len(values), n or rows(table), p=p / p.sum())
    return pa.array([values[i] for i in picks], ARROW[c["type"]])


def keys(table, name):
    c = col(table, name)
    return np.arange(c["min"], c["min"] + rows(table), dtype=np.int64)


def ref(rng, table, name):
    """Uniform independent draws over the measured key range."""
    c = col(table, name)
    return rng.integers(c["min"], c["max"] + 1, rows(table))


def cents(rng, table, name):
    """Uniform on a cent grid over the measured range."""
    c = col(table, name)
    return rng.integers(round(c["min"] * 100), round(c["max"] * 100) + 1,
                        rows(table)) / 100.0


def days(rng, table, name):
    """Uniform midnight timestamps over the measured days."""
    c = col(table, name)
    first = np.datetime64(c["min"], "D")
    span = int((np.datetime64(c["max"], "D") - first).astype(int)) + 1
    return (first + rng.integers(0, span, rows(table))).astype(
        "datetime64[us]")


def tables(seed):
    """Every table as a pyarrow Table, by name."""
    rng = np.random.default_rng(seed)
    t = {}
    # the measured dimension tables: names in key order, nation i in
    # region i % 5
    t["region"] = pa.table({
        "r_regionkey": pa.array(keys("region", "r_regionkey"), pa.int32()),
        "r_name": sorted(col("region", "r_name")["shares"])})
    n_nation = rows("nation")
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(n_nation), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n_nation)],
        "n_regionkey": pa.array([i % rows("region") for i in range(n_nation)],
                                pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": keys("customer", "c_custkey"),
        "c_name": [f"Customer#{i:09d}" for i in range(rows("customer"))],
        "c_nationkey": draw(rng, "customer", "c_nationkey"),
        "c_acctbal": cents(rng, "customer", "c_acctbal"),
        "c_mktsegment": draw(rng, "customer", "c_mktsegment")})
    t["supplier"] = pa.table({
        "s_suppkey": keys("supplier", "s_suppkey"),
        "s_name": [f"Supplier#{i:09d}" for i in range(rows("supplier"))],
        "s_nationkey": draw(rng, "supplier", "s_nationkey"),
        "s_acctbal": cents(rng, "supplier", "s_acctbal")})
    price = col("part", "p_retailprice")
    t["part"] = pa.table({
        "p_partkey": keys("part", "p_partkey"),
        "p_name": draw(rng, "part", "p_name"),
        "p_brand": draw(rng, "part", "p_brand"),
        "p_type": draw(rng, "part", "p_type"),
        "p_size": draw(rng, "part", "p_size"),
        # a 0.1 step through the measured price range, repeating
        "p_retailprice": np.round(price["min"] + (np.arange(rows("part")) % (
            price["distinct"])) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": keys("orders", "o_orderkey"),
        "o_custkey": ref(rng, "orders", "o_custkey"),
        "o_orderstatus": draw(rng, "orders", "o_orderstatus"),
        "o_totalprice": cents(rng, "orders", "o_totalprice"),
        "o_orderdate": days(rng, "orders", "o_orderdate"),
        "o_orderpriority": draw(rng, "orders", "o_orderpriority")})
    t["lineitem"] = pa.table({
        "l_orderkey": ref(rng, "lineitem", "l_orderkey"),
        "l_partkey": ref(rng, "lineitem", "l_partkey"),
        "l_suppkey": ref(rng, "lineitem", "l_suppkey"),
        "l_linenumber": draw(rng, "lineitem", "l_linenumber"),
        "l_quantity": draw(rng, "lineitem", "l_quantity"),
        "l_extendedprice": cents(rng, "lineitem", "l_extendedprice"),
        "l_discount": draw(rng, "lineitem", "l_discount"),
        "l_tax": draw(rng, "lineitem", "l_tax"),
        "l_returnflag": draw(rng, "lineitem", "l_returnflag"),
        "l_linestatus": draw(rng, "lineitem", "l_linestatus"),
        "l_shipdate": days(rng, "lineitem", "l_shipdate")})
    t["events"] = _events(rng)
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _events(rng):
    n = rows("events")
    ts = col("events", "ts")
    lo = np.datetime64(ts["min"], "us")
    span = int((np.datetime64(ts["max"], "us") - lo).astype(np.int64))
    k = col("events", "props")
    return pa.table({
        "event_id": keys("events", "event_id"),
        "ts": pa.array(lo + np.sort(rng.integers(0, span + 1, n)).astype(
            "timedelta64[us]"), pa.timestamp("us")),
        "user_id": ref(rng, "events", "user_id"),
        "event_type": draw(rng, "events", "event_type"),
        "value": np.round(rng.exponential(col("events", "value")["mean"], n),
                          2),
        # `{"k": N}` for N uniform over the measured number of values
        "props": [f'{{"k": {v}}}' for v in
                  rng.integers(0, k["distinct"], n)]})


def _documents(rng):
    s = PROFILE["structure"]
    n = rows("documents")
    vocab = {w: p for w, p in s["documents_vocab_shares"].items()
             if w != "dup"}
    words = np.array(list(vocab), dtype=object)
    p = np.array(list(vocab.values()))
    lo, hi, _ = s["documents_words_per_doc"]
    texts = [" ".join(words[rng.choice(len(words), int(rng.integers(
        lo, hi + 1)), p=p / p.sum())]) for _ in range(n)]
    marked = rng.choice(n, round(s["documents_dup_marked_share"] * n),
                        replace=False)
    for i in marked:
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    return pa.table({
        "doc_id": keys("documents", "doc_id"),
        "text": texts,
        "lang": draw(rng, "documents", "lang"),
        "source": draw(rng, "documents", "source"),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def _embeddings(rng):
    """Unit-scale vectors around one centroid per label (no analytic key
    of the benchmark reads them; the table keeps its measured shape)."""
    n = rows("embeddings")
    dim = col("embeddings", "embedding")["len"][1]
    labels = draw(rng, "embeddings", "label").to_numpy()
    centroids = rng.normal(0, 0.1, (len(col("embeddings", "label")["shares"]),
                                    dim))
    vecs = (centroids[labels] + rng.normal(0, 0.08, (n, dim))
            ).astype(np.float32)
    return pa.table({
        "vec_id": keys("embeddings", "vec_id"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def write(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
