"""Seeded input generators for the four workloads.

Every generator is a pure function of (seed, sizes): the same seed writes
byte-identical files, another seed writes different ones. Files go under
one directory per (workload, seed); the caller caches that directory.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- jq docs

KINDS = ["alpha", "beta", "gamma", "delta"]
SOURCES = ["web", "mail", "feed", "api", "log", "cli"]
TAGS = ["red", "green", "blue", "amber", "teal", "plum", "onyx", "sand",
        "jade", "rust", "mint", "gold"]
# escapes and non-ASCII text, including an astral-plane character
PIECES = ["plain", "café", "über", "straße", "中文",
          "→arrow", "quote\"d", "back\\slash", "tab\there",
          "line\nbreak", "emoji\U0001F600", "snow☃"]


def _float(rng, lo, hi):
    """A float that is never integral: jq 1.6 prints an integral double
    like an integer, which graft keeps as a distinct float type."""
    v = round(rng.uniform(lo, hi), 4)
    return v + 0.5 if v == int(v) else v


def _text(rng, n):
    return " ".join(rng.choices(PIECES, k=n))


def _nested(rng, depth):
    if depth == 0:
        return {"x": rng.randrange(1000), "w": _float(rng, 0, 10)}
    return {"d": _nested(rng, depth - 1), "lvl": depth}


def make_doc(rng, i, q):
    # q in [0, 1) is the document's size quantile; squaring it skews most
    # documents small and a few large, over roughly 0.2-8 KB
    s = q ** 2
    n_items = int(s * 50)
    depth = rng.randrange(2, 6)
    return {
        "id": i,
        "grp": rng.randrange(16),
        "kind": rng.choice(KINDS),
        "score": _float(rng, 0.0, 1.0),
        "qty": rng.randrange(100),
        "name": _text(rng, rng.randrange(1, 4)),
        "tags": rng.choices(TAGS, k=rng.randrange(0, 51) if s > 0.3 else rng.randrange(0, 6)),
        # ints and floats sit in separate arrays: graft does not unify the
        # two number types when comparing them, jq does
        "vals": rng.choices(range(100), k=int(s * 50)),
        "ratios": [_float(rng, 0, 100) for _ in range(int(s * 30))],
        "items": [{"sku": "sku-%05d" % rng.randrange(100000), "n": rng.randrange(10),
                   "price": _float(rng, 0.5, 500.0), "label": rng.choice(PIECES)}
                  for _ in range(n_items)],
        "meta": {"src": rng.choice(SOURCES), "depth": depth, "tree": _nested(rng, depth - 1)},
        "note": _text(rng, int(s * 400)),
    }


def doc_lines(seed, n):
    """n JSON texts; about 1% are malformed (truncated). Returns
    (lines, docs) where docs[i] is None for a malformed line."""
    rng = random.Random(seed)
    # stratified size quantiles: every seed draws the same spread of sizes
    # (one per n-th of the range, in a seeded order), so seeds change the
    # content and not the volume
    order = rng.sample(range(n), n)
    lines, docs = [], []
    for i in range(n):
        d = make_doc(rng, i, (order[i] + rng.random()) / n)
        text = json.dumps(d, ensure_ascii=rng.random() < 0.5)
        if rng.random() < 0.01:
            # dropping at least the closing brace always breaks an object
            lines.append(text[:rng.randrange(1, len(text))])
            docs.append(None)
        else:
            lines.append(text)
            docs.append(d)
    return lines, docs


STRUCT_TYPE = pa.struct([
    ("id", pa.int64()), ("grp", pa.int64()), ("kind", pa.string()),
    ("score", pa.float64()), ("qty", pa.int64()),
    ("meta", pa.struct([("src", pa.string()), ("depth", pa.int64())])),
])


def _struct_of(d):
    if d is None:
        return None
    return {"id": d["id"], "grp": d["grp"], "kind": d["kind"], "score": d["score"],
            "qty": d["qty"], "meta": {"src": d["meta"]["src"], "depth": d["meta"]["depth"]}}


def write_jq_inputs(out, seed, n, files):
    """docs.parquet/ (STRING column `doc`, `files` files of one row group
    each), docs_struct.parquet (typed STRUCT copy `d`), docs.jsonl."""
    lines, docs = doc_lines(seed, n)
    ddir = os.path.join(out, "docs.parquet")
    os.makedirs(ddir, exist_ok=True)
    per = (n + files - 1) // files
    for f in range(files):
        part = lines[f * per:(f + 1) * per]
        pq.write_table(pa.table({"doc": pa.array(part, pa.string())}),
                       os.path.join(ddir, "part-%05d.parquet" % f),
                       row_group_size=len(part) + 1)
    pq.write_table(pa.table({"d": pa.array([_struct_of(d) for d in docs], STRUCT_TYPE)}),
                   os.path.join(out, "docs_struct.parquet"), row_group_size=n + 1)
    with open(os.path.join(out, "docs.jsonl"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return lines, docs


# ----------------------------------------------------------- relational

DAY_US = 86400 * 1000000
EPOCH_1992 = 694224000 * 1000000  # 1992-01-01 in µs since the epoch
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_rel_inputs(out, seed, n_orders=150000, n_customers=15000):
    """TPC-H-shaped lineitem/orders/customer/nation (the sf0.1 schema),
    each one parquet file with ONE row group."""
    g = np.random.default_rng(seed)
    cust = pa.table({
        "c_custkey": np.arange(1, n_customers + 1, dtype=np.int64),
        "c_name": ["Customer#%09d" % k for k in range(1, n_customers + 1)],
        "c_nationkey": g.integers(0, 25, n_customers, dtype=np.int32),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, n_customers)],
    })
    okey = np.arange(1, n_orders + 1, dtype=np.int64) * 4
    odate_days = g.integers(0, 2405, n_orders)
    nlines = g.integers(1, 8, n_orders)
    l_okey = np.repeat(okey, nlines)
    l_odays = np.repeat(odate_days, nlines)
    n = len(l_okey)
    starts = np.cumsum(nlines) - nlines
    linenumber = (np.arange(n) - np.repeat(starts, nlines) + 1).astype(np.int32)
    qty = g.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * np.round(g.uniform(900.0, 2000.0, n), 2), 2)
    disc = g.integers(0, 11, n) / 100.0
    tax = g.integers(0, 9, n) / 100.0
    ship_days = l_odays + g.integers(1, 122, n)
    cutoff = 1263  # 1995-06-17: shipped before it is F(inished)
    linestatus = np.where(ship_days > cutoff, "O", "F")
    rf_draw = g.integers(0, 2, n)
    returnflag = np.where(ship_days > cutoff, "N", np.where(rf_draw == 0, "R", "A"))
    line = pa.table({
        "l_orderkey": l_okey,
        "l_partkey": g.integers(1, 20001, n, dtype=np.int64),
        "l_suppkey": g.integers(1, 1001, n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": returnflag,
        "l_linestatus": linestatus,
        "l_shipdate": pa.array(EPOCH_1992 + ship_days * DAY_US, pa.timestamp("us")),
    })
    # o_totalprice is the exact decimal sum of its lines' prices
    tot = np.zeros(n_orders)
    np.add.at(tot, np.repeat(np.arange(n_orders), nlines), price)
    orders = pa.table({
        "o_orderkey": okey,
        "o_custkey": g.integers(1, n_customers + 1, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[g.integers(0, 3, n_orders)],
        "o_totalprice": np.round(tot, 2),
        "o_orderdate": pa.array(EPOCH_1992 + odate_days * DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[g.integers(0, 5, n_orders)],
    })
    nation = pa.table({"n_nationkey": np.arange(25, dtype=np.int32),
                       "n_name": ["NATION_%02d" % k for k in range(25)]})
    tables = {"lineitem": line, "orders": orders, "customer": cust, "nation": nation}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, name + ".parquet"), row_group_size=t.num_rows + 1)
    return {name: t.num_rows for name, t in tables.items()}


def rel_params(seed):
    """The seed chooses the filter constants."""
    rng = random.Random(seed * 7919 + 17)
    # narrow ranges keep each query's selectivity, and so its cost, close
    # across seeds
    return {
        "cube_before_day": rng.randrange(1900, 2000),
        "pricing_before_day": rng.randrange(2350, 2400),
        "q3_segment": rng.choice(SEGMENTS),
        "q3_day": rng.randrange(1150, 1200),
        "q18_qty": rng.randrange(300, 306),
        "topk_min_disc": rng.choice([0.02, 0.03, 0.04, 0.05]),
        "topk_k": rng.randrange(3, 8),
    }


# ------------------------------------------------------------ corpus

STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "on", "for", "with",
             "as", "at", "by", "be", "this", "that", "it", "or", "are", "was", "from"]


def _vocab(rng, n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(3, 10))))
    return sorted(words)


def _english(rng, vocab, n):
    return [rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(vocab) for _ in range(n)]


def _mutate(rng, vocab, toks, k):
    toks = list(toks)
    for p in rng.sample(range(len(toks)), k):
        toks[p] = rng.choice(vocab)
    return toks


def corpus_docs(seed, n_docs):
    """(doc_id, text, group) rows. group is the planted near-dup group
    (None for a singleton). Planted: near-dup clusters (every member one
    or two substitutions from a base, Jaccard >= 0.9 on 3-shingles),
    chains (each link two substitutions from the last, so the ends fall
    below the 0.8 threshold and need several propagation rounds), exact
    copies, and documents the language / punctuation gates drop.
    Unrelated documents draw 180-260 words from a 4000-word vocabulary,
    which keeps their 3-shingle Jaccard near 0 (<= 0.3)."""
    rng = random.Random(seed * 1000003 + 5)
    vocab = _vocab(rng, 4000)
    rows = []  # (text, group)
    gid = 0
    # stratified draws, as in doc_lines: each seed plants the same mix
    order = rng.sample(range(n_docs), n_docs)
    while len(rows) < n_docs:
        r = (order[len(rows)] + rng.random()) / n_docs
        n = rng.randrange(180, 261)
        if r < 0.06:  # cluster of 2-5
            base = _english(rng, vocab, n)
            for _ in range(rng.randrange(2, 6)):
                rows.append((" ".join(_mutate(rng, vocab, base, rng.randrange(1, 3))), gid))
            gid += 1
        elif r < 0.09:  # chain of 4-7
            cur = _english(rng, vocab, n)
            for _ in range(rng.randrange(4, 8)):
                rows.append((" ".join(cur), gid))
                cur = _mutate(rng, vocab, cur, 2)
            gid += 1
        elif r < 0.12:  # exact copies
            t = " ".join(_english(rng, vocab, n))
            for _ in range(rng.randrange(2, 4)):
                rows.append((t, None))
        elif r < 0.16:  # no stopwords: langId says unknown
            rows.append((" ".join(rng.choice(vocab) for _ in range(n)), None))
        elif r < 0.19:  # punctuation-heavy
            rows.append((" ".join(w + "!?;,." for w in _english(rng, vocab, n)), None))
        else:
            rows.append((" ".join(_english(rng, vocab, n)), None))
    rows = rows[:n_docs]
    ids = rng.sample(range(1, 10 * n_docs), n_docs)
    return [(ids[i], t, g) for i, (t, g) in enumerate(rows)]


def citation_edges(seed, n_nodes, mean_out):
    """Power-law in-degree: targets drawn as floor(n * u^3), ids permuted.
    Distinct (src, dst) pairs, no self-loops."""
    g = np.random.default_rng(seed * 31 + 3)
    out_deg = g.integers(1, 2 * mean_out, n_nodes)
    src = np.repeat(np.arange(n_nodes), out_deg)
    dst = np.floor(n_nodes * g.random(len(src)) ** 3).astype(np.int64)
    perm = g.permutation(n_nodes).astype(np.int64)
    src, dst = perm[src], perm[dst]
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def write_corpus_inputs(out, seed, n_docs, n_nodes, mean_out):
    docs = corpus_docs(seed, n_docs)
    pq.write_table(pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
    }), os.path.join(out, "documents.parquet"), row_group_size=n_docs + 1)
    src, dst = citation_edges(seed, n_nodes, mean_out)
    pq.write_table(pa.table({"src": src, "dst": dst}),
                   os.path.join(out, "links.parquet"), row_group_size=len(src) + 1)
    return docs, (src, dst)


def write_near_pairs(out, pairs):
    """The (id_a, id_b) near-duplicate pairs the clustering query reads."""
    pq.write_table(pa.table({"id_a": pa.array([a for a, _ in pairs], pa.int64()),
                             "id_b": pa.array([b for _, b in pairs], pa.int64())}),
                   os.path.join(out, "near_pairs.parquet"))
