#!/usr/bin/env python3
"""Measure a TPC-H-like corpus with DuckDB, or compare two measurements.

    python3 perfbench/profile_corpus.py DIR > PROFILE.json
    python3 perfbench/profile_corpus.py --compare A B

The first form reads the ten parquet tables under DIR and prints one JSON
object: per table its row count and, per column, its type, distinct
count, min, max, mean and quartiles (numbers and timestamps), the share
of each value when a column has at most MAX_SHARES distinct values, and
a few structural figures the analytic keys depend on (lines per order,
orders without lines, words per document, the document vocabulary,
events per user). `perfbench/sf01_profile.json` is this measurement of
the repository's sf0.1 test corpus; `gen.py` takes its parameters from
it.

The second form compares two profiles (files, or corpus directories to
measure first) and prints every figure side by side with its relative
difference, so a generated corpus can be checked against the one it
imitates.
"""
import json
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MAX_SHARES = 64
NUMERIC = ("INTEGER", "BIGINT", "DOUBLE", "FLOAT")


def _num(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def column(con, rel, name, dtype):
    c = f'"{name}"'
    out = {"type": dtype}
    if dtype.endswith("[]"):
        out["len"] = con.sql(f"SELECT min(len({c})), max(len({c})) "
                             f"FROM {rel}").fetchone()
        return out
    out["distinct"] = con.sql(
        f"SELECT count(DISTINCT {c}) FROM {rel}").fetchone()[0]
    if dtype in NUMERIC or dtype.startswith("TIMESTAMP"):
        v = c if dtype in NUMERIC else f"epoch_us({c})"
        lo, hi, mean, q = con.sql(
            f"SELECT min({c}), max({c}), avg({v}), "
            f"quantile_cont({v}, [0.25, 0.5, 0.75]) FROM {rel}").fetchone()
        out.update(min=_num(lo), max=_num(hi), mean=mean, quartiles=q)
        if dtype.startswith("TIMESTAMP"):
            out["midnight_only"] = con.sql(
                f"SELECT bool_and({c} = date_trunc('day', {c})) "
                f"FROM {rel}").fetchone()[0]
    elif dtype == "VARCHAR":
        out["chars"] = con.sql(f"SELECT min(length({c})), max(length({c})) "
                               f"FROM {rel}").fetchone()
    if out["distinct"] <= MAX_SHARES:
        n = con.sql(f"SELECT count(*) FROM {rel}").fetchone()[0]
        out["shares"] = {str(_num(k)): cnt / n for k, cnt in con.sql(
            f"SELECT {c}, count(*) FROM {rel} GROUP BY 1 "
            f"ORDER BY 1").fetchall()}
    return out


def structure(con):
    """Figures no single column shows."""
    q = lambda s: con.sql(s).fetchall()
    per_order = dict(q("SELECT c, count(*) FROM (SELECT l_orderkey, "
                       "count(*) AS c FROM lineitem GROUP BY 1) GROUP BY 1 "
                       "ORDER BY 1"))
    texts = [t for (t,) in q("SELECT text FROM documents ORDER BY doc_id")]
    words = [t.split() for t in texts]
    vocab = {}
    for ws in words:
        for w in ws:
            vocab[w] = vocab.get(w, 0) + 1
    total = sum(vocab.values())
    marked = [ws for ws in words if ws and ws[-1] == "dup"]
    plain = [len(ws) for ws in words if not (ws and ws[-1] == "dup")]
    per_user = q("SELECT min(c), max(c) FROM (SELECT user_id, count(*) AS c "
                 "FROM events GROUP BY 1)")[0]
    return {
        "lineitem_lines_per_order": {str(k): v for k, v in per_order.items()},
        "orders_without_lines": q(
            "SELECT count(*) FROM orders WHERE o_orderkey NOT IN "
            "(SELECT l_orderkey FROM lineitem)")[0][0],
        "lineitem_orderkeys_in_orders": q(
            "SELECT count(*) FROM lineitem WHERE l_orderkey IN "
            "(SELECT o_orderkey FROM orders)")[0][0],
        "lineitem_duplicate_order_line_pairs": q(
            "SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM "
            "lineitem GROUP BY 1, 2 HAVING count(*) > 1)")[0][0],
        "documents_words_per_doc": [min(plain), max(plain),
                                    sum(plain) / len(plain)],
        # a marked document is an earlier or later document's text
        # with the word `dup` appended
        "documents_dup_marked_share": len(marked) / len(texts),
        "documents_dup_marked_copy_share": sum(
            1 for ws in marked if " ".join(ws[:-1]) in set(texts))
        / max(1, len(marked)),
        "documents_exact_duplicates": len(texts) - len(set(texts)),
        "documents_vocab_shares": {w: c / total for w, c in
                                   sorted(vocab.items())},
        "events_per_user": list(per_user),
        "events_ts_sorted_by_id": q(
            "SELECT count(*) = 0 FROM (SELECT ts < lag(ts) OVER "
            "(ORDER BY event_id) AS back FROM events) WHERE back")[0][0],
    }


def profile(corpus):
    import duckdb
    con = duckdb.connect()
    out = {"tables": {}}
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(corpus, t)}.parquet'")
        cols = con.sql(f"DESCRIBE {t}").fetchall()
        out["tables"][t] = {
            "rows": con.sql(f"SELECT count(*) FROM {t}").fetchone()[0],
            "columns": {n: column(con, t, n, ty) for n, ty, *_ in cols}}
    out["structure"] = structure(con)
    return out


def _flat(x, prefix=""):
    if isinstance(x, dict):
        for k, v in x.items():
            yield from _flat(v, f"{prefix}{k}." if prefix or k else k)
    elif isinstance(x, (list, tuple)):
        for i, v in enumerate(x):
            yield from _flat(v, f"{prefix}{i}.")
    else:
        yield prefix.rstrip("."), x


def compare(a, b):
    """Lines `figure  A  B  rel.diff` over every figure of either profile."""
    fa, fb = dict(_flat(a)), dict(_flat(b))
    lines = []
    for k in sorted(set(fa) | set(fb)):
        va, vb = fa.get(k), fb.get(k)
        d = ""
        if isinstance(va, (int, float)) and isinstance(vb, (int, float)) \
                and not isinstance(va, bool) and va:
            d = f"{(vb - va) / abs(va):+.3f}"
        lines.append(f"{k:70} {va!s:>26} {vb!s:>26} {d}")
    return lines


def _load(p):
    if os.path.isdir(p):
        return profile(p)
    with open(p) as f:
        return json.load(f)


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        print("\n".join(compare(_load(sys.argv[2]), _load(sys.argv[3]))))
    else:
        print(json.dumps(profile(sys.argv[1]), indent=1, sort_keys=True))
