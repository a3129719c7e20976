"""Query batteries and their independent oracles.

Each workload has a `prepare(data_dir, seed, ...)` that writes its inputs
(gen.py), computes the expected answer of every query with an engine that
is not graft (/usr/bin/jq, DuckDB, plain Python/numpy), and returns a
plan: the query specs the JVM harness runs, the expected answers, the
input rows each query reads, and the probes of the traced run.
`check(expected, observed)` compares one observed result with its answer.
"""
import json
import os
import re
import subprocess
import zlib
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor

import duckdb
import numpy as np

import gen

JQ = "jq"
DOUBLE_REL_TOL = 1e-9

# ------------------------------------------------------------ canonical JSON


def rust_sci(x):
    """graft's canonical float text (Rust `{:e}`): shortest round-trip
    digits, one leading digit, exponent always present."""
    if x == 0:
        return "0e0"
    r = repr(abs(x))  # shortest round-trip digits: '123.45', '1e-05', '1.5e+16'
    mant, _, e = r.partition("e")
    ip, _, fp = mant.partition(".")
    fp = fp.rstrip("0")
    if ip.strip("0"):
        exp = len(ip) - 1 + int(e or 0)
        digits = ip + fp
    else:
        lead = len(fp) - len(fp.lstrip("0"))
        exp = -(lead + 1) + int(e or 0)
        digits = fp[lead:]
    digits = digits.rstrip("0") or "0"
    m = digits if len(digits) == 1 else digits[0] + "." + digits[1:]
    return ("-" if x < 0 else "") + m + "e" + str(exp)


# a float token of jq's output: generated strings never hold a digit run
# with a decimal point or an exponent, so no match falls inside a string
_FLOAT = re.compile(r"(?<![\w.])-?\d+(?:\.\d+(?:[eE][-+]?\d+)?|[eE][-+]?\d+)")


def canonical_stream(jq_sorted_output):
    """graft's canonical text of `jq -S -c` output. jq already writes
    sorted keys, no spaces, non-ASCII verbatim and graft's escapes; only
    its floats (17 significant digits) need rewriting to graft's shortest
    Rust `{:e}` form."""
    return _FLOAT.sub(lambda m: rust_sci(float(m.group())), jq_sorted_output)


def crc(s):
    return zlib.crc32(s.encode("utf-8"))


def run_jq(program, text):
    """Run /usr/bin/jq -c -S over a stream of JSON texts; returns its raw
    output, one value per line."""
    p = subprocess.run([JQ, "-c", "-S", program], input=text.encode("utf-8"),
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, check=False)
    if p.returncode != 0:
        raise RuntimeError("jq failed on %r: %s" % (program, p.stderr.decode()[:300]))
    return p.stdout.decode("utf-8")


# ------------------------------------------------------------ comparison


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= DOUBLE_REL_TOL * max(abs(a), abs(b)) + 1e-9
    return a == b


def _rows_match(exp, obs):
    """Unordered row multisets; float fields compare within a relative
    tolerance (sums of doubles depend on the order Spark adds them)."""
    if len(exp) != len(obs):
        return False

    def key(r):
        return json.dumps({k: v for k, v in r.items() if not isinstance(v, float)}, sort_keys=True)

    left = sorted(exp, key=key)
    right = sorted(obs, key=key)
    for a, b in zip(left, right):
        if set(a) != set(b) or not all(_close(a[k], b[k]) for k in a):
            return False
    return True


def check(expected, observed):
    """True when one observed result (a list of JSON texts from the
    harness) equals the expected answer."""
    kind = expected["check"]
    obs = [json.loads(r) for r in observed]
    if kind == "rows":
        return _rows_match(expected["rows"], obs)
    if kind == "exact":
        return len(obs) == 1 and obs[0] == expected["value"]
    if kind == "pagerank":
        if len(obs) != 1:
            return False
        o, e = obs[0], expected
        if o["n"] != e["n"] or abs(o["rank_sum"] - e["rank_sum"]) > e["sum_tol"]:
            return False
        got = {str(s["node"]): s["rank"] for s in map(json.loads, o["sample"])}
        if set(got) != set(e["sample"]):
            return False
        return all(abs(got[k] - r) <= e["abs_tol"] + e["rel_tol"] * r for k, r in e["sample"].items())
    raise ValueError(kind)


# ------------------------------------------------------------ jq workloads


def _typed(vals, kind):
    """graft's typed extraction of the first output (NULL on mismatch)."""
    if not vals:
        return None
    x = vals[0]
    if kind == "long":
        return x if isinstance(x, int) and not isinstance(x, bool) else None
    if kind == "double":
        return float(x) if isinstance(x, (int, float)) and not isinstance(x, bool) else None
    if kind == "bool":
        return x if isinstance(x, bool) else None
    if kind == "string":
        if x is None:
            return None
        return x if isinstance(x, str) else canonical_stream(
            json.dumps(x, ensure_ascii=False, sort_keys=True, separators=(",", ":")))
    raise ValueError(kind)


def _agg(keys, vals, kind, prefix):
    """Expected groupBy rows: n, <prefix>_n (non-null), <prefix>_sum."""
    groups = {}
    for k, v in zip(keys, vals):
        g = groups.setdefault(k, {"n": 0, "fields": {}})
        g["n"] += 1
        if v is not None:
            f = g["fields"].setdefault(prefix, [0, 0])
            f[0] += 1
            f[1] += crc(v) if kind == "string" else int(v) if kind == "bool" else v
    return groups


def _agg_rows(groups, fields):
    rows = []
    for k, g in groups.items():
        r = {"n": g["n"]}
        if k is not None:
            r["k"] = k
        for name, kind in fields:
            n, s = g["fields"].get(name, (0, None))
            r[name + "_n"] = n
            if s is not None:
                r[name + "_sum"] = float(s) if kind == "double" else s
        rows.append(r)
    return rows


# single-output programs: (id, table, column, key (prog, type), value (prog, type))
EXTRACT = [
    ("e01", ".grp", "long", ".score", "double"),
    ("e02", ".kind", "string", "[.vals | .[] | select(. > 50)] | length", "long"),
    ("e03", ".meta.src", "string", ".score * 2 - 1", "double"),
    ("e04", "if .qty > 50 then \"hi\" else \"lo\" end", "string", ".items | map(.n) | add", "long"),
    ("e05", ".meta.depth", "long", "[.. | numbers] | length", "long"),
    ("e06", ".kind", "string", "[.tags | .[] | select(. == \"red\")] | length > 0", "bool"),
    ("e07", ".grp", "long", ".items | .[0] | .price", "double"),
]
# a program over the typed STRUCT copy: its pure paths compile to native
# field access (JqPathCompile). The battery has an odd number of queries,
# so the median latency falls on one query rather than between two.
STRUCT = [
    ("s01", ".grp", "long", ".score", "double"),
]
MULTI = ("m01", [("grp", ".grp", "long"), ("qty", ".qty", "long"),
                 ("score", ".score", "double"), ("name", ".name", "string")], "grp")
EXTRACT_GENERATORS = [".items | .[]", ".tags | .[]"]

# graft's jq follows its reference where jq 1.6 differs: `.a[]` is not
# iteration (`.a | .[]` is) and `map(f)` errors when f yields nothing, so
# the programs keep to forms both engines read alike
TRANSFORM = [
    ("t01", ".items | .[]"),
    ("t02", ".meta | .."),
    ("t03", "{id: .id, tag: (.tags | .[])}"),
    ("t04", ".items |= [.[] | select(.n > 4)]"),
    ("t05", "reduce (.items | .[]) as $i (0; . + ($i | .n))"),
    ("t06", "to_entries | [.[] | select(.key | startswith(\"n\"))] | from_entries"),
]
TRANSFORM_SINGLE = {"t05", "t06"}


def _jq_batch(programs, valid_text, jobs):
    """Evaluate several programs over all valid docs with one jq pass per
    chunk; returns per program a list (one entry per doc) of output lists."""
    body = "[" + ", ".join("(try [%s] catch null)" % p for p in programs) + "]"
    docs = valid_text.splitlines()
    step = (len(docs) + jobs - 1) // jobs
    chunks = ["\n".join(docs[i:i + step]) + "\n" for i in range(0, len(docs), step)]
    with ThreadPoolExecutor(jobs) as ex:
        parts = list(ex.map(lambda c: run_jq(body, c), chunks))
    rows = [json.loads(line) for part in parts for line in part.splitlines()]
    assert len(rows) == len(docs), "jq dropped documents"
    return [[r[i] or [] for r in rows] for i in range(len(programs))]


def prepare_jq_extract(out, seed, n_docs, cores):
    lines, docs = gen.write_jq_inputs(out, seed, n_docs, max(4, cores))
    valid = "\n".join(l for l, d in zip(lines, docs) if d is not None) + "\n"
    progs = []
    for _, kp, _, vp, _ in EXTRACT + STRUCT:
        progs += [kp, vp]
    progs += [p for _, p, _ in MULTI[1]]
    uniq = sorted(set(progs))
    res = dict(zip(uniq, _jq_batch(uniq, valid, cores)))

    def per_doc(prog, kind):
        it = iter(res[prog])
        return [_typed(next(it), kind) if d is not None else None for d in docs]

    queries, expected = [], {}
    for (qid, kp, kt, vp, vt), table in [(q, "docs") for q in EXTRACT] + [(q, "docs_struct") for q in STRUCT]:
        column = "doc" if table == "docs" else "d"
        queries.append({"id": qid, "kind": "extract", "table": table, "column": column,
                        "key": {"prog": kp, "type": kt}, "val": {"prog": vp, "type": vt}})
        groups = _agg(per_doc(kp, kt), per_doc(vp, vt), vt, "v")
        expected[qid] = {"check": "rows", "rows": _agg_rows(groups, [("v", vt)])}
    qid, fields, key = MULTI
    queries.append({"id": qid, "kind": "multi", "table": "docs", "column": "doc",
                    "fields": [list(f) for f in fields], "key": key})
    keys = per_doc(dict((n, p) for n, p, _ in fields)[key], "long")
    groups = {}
    for name, prog, kind in fields:
        if name == key:
            continue
        for k, g in _agg(keys, per_doc(prog, kind), kind, name).items():
            tgt = groups.setdefault(k, {"n": g["n"], "fields": {}})
            tgt["fields"].update(g["fields"])
    expected[qid] = {"check": "rows", "rows": _agg_rows(
        groups, [(n, k) for n, _, k in fields if n != key])}

    micro = [(vp, "single") for _, _, _, vp, _ in EXTRACT] + [(p, "generator") for p in EXTRACT_GENERATORS]
    return {
        "queries": queries, "expected": expected,
        "rows": {q["id"]: n_docs for q in queries},
        "scan_sources": ["docs", "docs_struct"],
        "text_source": {"kind": "table", "name": "docs", "expr": "doc"},
        "jsonl_source": "docs.jsonl", "jsonl_lines": n_docs,
        "sample": lines[:1000], "micro_programs": micro,
    }


def _transform_answers(programs, docs_text):
    """(count, CRC-32 sum) of the canonical outputs of each program over
    one chunk of documents; each output is tagged with its program index."""
    body = ", ".join("(%s | [%d, .])" % (p, i) for i, p in enumerate(programs))
    out = [[0, 0] for _ in programs]
    for line in canonical_stream(run_jq(body, docs_text)).splitlines():
        i, _, doc = line[1:-1].partition(",")
        a = out[int(i)]
        a[0] += 1
        a[1] += crc(doc)
    return out


def prepare_jq_transform(out, seed, n_docs, cores):
    lines, docs = gen.write_jq_inputs(out, seed, n_docs, max(4, cores))
    valid_lines = [l for l, d in zip(lines, docs) if d is not None]
    valid = "\n".join(valid_lines) + "\n"

    # one jq pass per chunk of documents runs every program, in parallel
    # processes (the float rewrite is Python-bound)
    progs = TRANSFORM + [("c01", ".")]
    docs = valid.splitlines()
    step = (len(docs) + cores - 1) // cores
    chunks = ["\n".join(docs[i:i + step]) + "\n" for i in range(0, len(docs), step)]
    with ProcessPoolExecutor(cores) as ex:
        parts = list(ex.map(_transform_answers, [[p for _, p in progs]] * len(chunks), chunks))
    answers = {q: {"n": sum(p[i][0] for p in parts), "crc": sum(p[i][1] for p in parts)}
               for i, (q, _) in enumerate(progs)}
    queries = [{"id": q, "kind": "explode", "prog": p} for q, p in TRANSFORM]
    expected = {q: {"check": "exact", "value": answers[q]} for q, _ in TRANSFORM}
    queries.append({"id": "c01", "kind": "cbor"})
    expected["c01"] = {"check": "exact", "value": dict(answers["c01"], errors=len(lines) - len(valid_lines))}
    micro = [(p, "single" if q in TRANSFORM_SINGLE else "generator") for q, p in TRANSFORM]
    return {
        "queries": queries, "expected": expected,
        "rows": {q["id"]: n_docs for q in queries},
        "scan_sources": ["docs.jsonl"],
        "text_source": {"kind": "jsonl", "name": "docs.jsonl", "expr": "doc"},
        "jsonl_source": "docs.jsonl", "jsonl_lines": n_docs,
        "sample": lines[:1000], "micro_programs": micro,
    }


# ------------------------------------------------------------ relational

REL_SQL = {
    "cube": """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem WHERE l_shipdate < TIMESTAMP '{cube_before}'
      GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "rollup": """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_tax
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "pricing": """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS sum_disc,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             count(*) AS n
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '{pricing_before}'
      GROUP BY l_returnflag, l_linestatus""",
    "q3": """
      SELECT l_orderkey, revenue, epoch_us(o_orderdate) AS odate FROM (
        SELECT l_orderkey, o_orderdate,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = '{q3_segment}' AND o_orderdate < TIMESTAMP '{q3_date}'
          AND l_shipdate > TIMESTAMP '{q3_date}'
        GROUP BY l_orderkey, o_orderdate)
      ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q18": """
      SELECT c_name, c_custkey, o_orderkey, epoch_us(o_orderdate) AS odate, o_totalprice, sq
      FROM orders
      JOIN (SELECT l_orderkey, sum(l_quantity) AS sq FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > {q18_qty}) big ON o_orderkey = big.l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY o_totalprice DESC, odate, o_orderkey LIMIT 100""",
    "nation": """
      SELECT n_name, count(*) AS n_lines,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name""",
    "topk": """
      SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice, rnk FROM (
        SELECT *, row_number() OVER (PARTITION BY l_returnflag, l_linestatus
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
        FROM lineitem WHERE l_discount >= {topk_min_disc})
      WHERE rnk <= {topk_k}""",
}
REL_TABLES = {"cube": ["lineitem"], "rollup": ["lineitem"], "pricing": ["lineitem"],
              "q3": ["lineitem", "orders", "customer"], "q18": ["lineitem", "orders", "customer"],
              "nation": ["lineitem", "orders", "customer", "nation"], "topk": ["lineitem"]}


def _day(d):
    return str(np.datetime64("1992-01-01") + np.timedelta64(d, "D"))


def prepare_rel_lineitem(out, seed, n_orders, cores):
    counts = gen.write_rel_inputs(out, seed, n_orders, n_orders // 10)
    p = gen.rel_params(seed)
    fmt = dict(p, cube_before=_day(p["cube_before_day"]), pricing_before=_day(p["pricing_before_day"]),
               q3_date=_day(p["q3_day"]))
    con = duckdb.connect()
    con.execute("SET threads TO %d" % max(1, cores))
    for t in counts:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, os.path.join(out, t + ".parquet")))
    queries, expected, rows = [], {}, {}
    for name, sql in REL_SQL.items():
        cur = con.execute(sql.format(**fmt))
        cols = [d[0] for d in cur.description]
        res = [{c: v for c, v in zip(cols, r) if v is not None} for r in cur.fetchall()]
        qid = "r_" + name
        queries.append({"id": qid, "kind": "rel", "name": name, "params": p})
        expected[qid] = {"check": "rows", "rows": res}
        rows[qid] = sum(counts[t] for t in REL_TABLES[name])
    sample = [json.dumps(r) for r in con.execute(
        "SELECT * EXCLUDE (l_shipdate), epoch_us(l_shipdate) AS l_shipdate FROM lineitem LIMIT 50000"
    ).df().to_dict("records")]
    con.close()
    with open(os.path.join(out, "lineitem_sample.jsonl"), "w") as fh:
        fh.write("\n".join(sample) + "\n")
    micro = [(".l_quantity * .l_extendedprice", "single"),
             ("select(.l_discount > 0.05) | .l_orderkey", "single"),
             ("to_entries | .[] | .key", "generator"), (".[]", "generator")]
    return {
        "queries": queries, "expected": expected, "rows": rows,
        "scan_sources": ["lineitem", "orders", "customer", "nation"],
        "text_source": {"kind": "table", "name": "lineitem", "expr":
                        "concat_ws(' ', l_returnflag, l_linestatus, CAST(l_orderkey AS STRING), "
                        "CAST(l_quantity AS STRING), CAST(l_extendedprice AS STRING))"},
        "jsonl_source": "lineitem_sample.jsonl", "jsonl_lines": len(sample),
        "sample": sample[:2000], "micro_programs": micro,
    }


# ------------------------------------------------------------ corpus

PAGERANK_ITERS = 3
PAGERANK_SCALE = 1000000
PAGERANK_SAMPLE_MOD = 53


def _id_checks(ids):
    return {"n": len(ids), "id_sum": sum(ids), "id_hash": sum((i * 2654435761) % 1000003 for i in ids)}


def _shingles(text):
    t = text.split(" ")
    return {tuple(t[i:i + 3]) for i in range(len(t) - 2)}


def _gate(text):
    toks = text.split(" ")
    sw = sum(1 for t in toks if t in gen.STOPWORDS) / len(toks)
    punct = (len(text) - len(re.sub(r"[^a-z0-9 ]", "", text.lower()))) / len(text)
    return sw >= 0.05 and punct < 0.3


def corpus_answers(docs):
    """Expected ids after the gates and after exact dedup, the near-duplicate
    pairs among the exact-dedup survivors (planted pairs at exact 3-shingle
    Jaccard >= 0.8, as (id_a, id_b) with id_a < id_b), and the cluster
    representatives: the transitive closure of those pairs."""
    gated = [(i, t, g) for i, t, g in docs if _gate(t)]
    first = {}
    for i, t, g in gated:
        if t not in first or i < first[t][0]:
            first[t] = (i, g)
    exact = [(i, t, g) for t, (i, g) in first.items()]
    parent = {i: i for i, _, _ in exact}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_group = {}
    for i, t, g in exact:
        if g is not None:
            by_group.setdefault(g, []).append((i, _shingles(t)))
    pairs = []
    for members in by_group.values():
        for a in range(len(members)):
            for b in range(a + 1, len(members)):
                (ia, sa), (ib, sb) = members[a], members[b]
                if len(sa & sb) / len(sa | sb) >= 0.8:
                    pairs.append((min(ia, ib), max(ia, ib)))
                    ra, rb = find(ia), find(ib)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    reps = [i for i, _, _ in exact if find(i) == i]
    return [i for i, _, _ in gated], [i for i, _, _ in exact], sorted(pairs), reps


def pagerank_float(src, dst, iters, d=0.85):
    """Power iteration in floating point, dangling mass dropped (graft's
    Graph.pageRank recurrence without its integer truncation)."""
    nodes = np.unique(np.concatenate([src, dst]))
    idx = {n: k for k, n in enumerate(nodes)}
    s = np.array([idx[x] for x in src])
    t = np.array([idx[x] for x in dst])
    outdeg = np.bincount(s, minlength=len(nodes)).astype(np.float64)
    r = np.ones(len(nodes))
    for _ in range(iters):
        contrib = np.bincount(t, weights=r[s] / outdeg[s], minlength=len(nodes))
        r = (1 - d) + d * contrib
    return nodes, r


def prepare_corpus_dedup(out, seed, n_docs, n_nodes, mean_out, cores):
    docs, (src, dst) = gen.write_corpus_inputs(out, seed, n_docs, n_nodes, mean_out)
    gated, exact, pairs, reps = corpus_answers(docs)
    gen.write_near_pairs(out, pairs)
    nodes, r = pagerank_float(src, dst, PAGERANK_ITERS)
    scaled = r * PAGERANK_SCALE
    sample = {str(int(n)): float(x) for n, x in zip(nodes, scaled) if n % PAGERANK_SAMPLE_MOD == 0}
    all_nodes = np.unique(np.concatenate([src, dst]))
    out_deg = {}
    in_deg = {}
    for a, b in zip(src.tolist(), dst.tolist()):
        out_deg[a] = out_deg.get(a, 0) + 1
        in_deg[b] = in_deg.get(b, 0) + 1
    deg_hash = sum((int(n) * 2654435761 + in_deg.get(int(n), 0) * 40503 + out_deg.get(int(n), 0)) % 1000003
                   for n in all_nodes)
    n_edges = len(src)
    pagerank = {"iterations": PAGERANK_ITERS, "sample_mod": PAGERANK_SAMPLE_MOD}
    # the first query is the set-up's warm-up, so the cheapest goes first.
    # An odd number of queries puts the median on one query's latencies:
    # here the CPU-bound exact dedup, not a job-bound fixpoint.
    # d_clusters is pipeline_clean with its LSH stage's output supplied as
    # the exact near-duplicate pairs: minhashNearDups itself runs only in
    # the traced run's probe, which reports its recall of those pairs.
    queries = [
        {"id": "g_degrees", "kind": "corpus", "name": "degrees", "params": {}},
        {"id": "d_gates", "kind": "corpus", "name": "gates", "params": {}},
        {"id": "d_exact", "kind": "corpus", "name": "exact", "params": {}},
        {"id": "g_pagerank", "kind": "corpus", "name": "pagerank", "params": pagerank},
        {"id": "d_clusters", "kind": "corpus", "name": "clusters", "params": {}},
    ]
    # graft's ranks are integers: each round truncates every contribution
    # and every damped sum by under one micro-unit, so the total may fall
    # short of the float iteration by up to (edges + nodes) * iterations;
    # per node the tolerance is 1e-4 relative plus 50 micro-units a round
    expected = {
        "d_gates": {"check": "exact", "value": _id_checks(gated)},
        "d_exact": {"check": "exact", "value": _id_checks(exact)},
        "d_clusters": {"check": "exact", "value": _id_checks(reps)},
        "g_pagerank": {"check": "pagerank", "n": len(nodes), "sample": sample,
                       "rank_sum": float(scaled.sum()),
                       "sum_tol": float((n_edges + len(nodes)) * PAGERANK_ITERS),
                       "abs_tol": 50.0 * PAGERANK_ITERS, "rel_tol": 1e-4},
        "g_degrees": {"check": "exact", "value": {
            "n": len(all_nodes), "out_sum": n_edges, "in_sum": n_edges,
            "in_max": max(in_deg.values()), "hash": deg_hash}},
    }
    rows = {"d_gates": n_docs, "d_exact": n_docs, "d_clusters": n_docs,
            "g_pagerank": n_edges, "g_degrees": n_edges}
    doc_json = [json.dumps({"doc_id": i, "text": t}) for i, t, _ in docs]
    with open(os.path.join(out, "documents.jsonl"), "w") as fh:
        fh.write("\n".join(doc_json) + "\n")
    micro = [(".text | split(\" \") | length", "single"), (".doc_id % 7", "single"),
             (".text | split(\" \") | .[]", "generator"), ("to_entries | .[]", "generator")]
    return {
        "queries": queries, "expected": expected, "rows": rows,
        "scan_sources": ["documents", "links"],
        "text_source": {"kind": "table", "name": "documents", "expr": "text"},
        "jsonl_source": "documents.jsonl", "jsonl_lines": len(doc_json),
        "sample": doc_json[:500], "micro_programs": micro,
    }
