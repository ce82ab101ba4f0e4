"""Inputs and correctness checks of the gate-battery workload.

`generate` writes the tables the `SparkEntry.queries` gates read, as
parquet files with the column types the program declares for them, from a
seed. `check` compares the gates' warm-up outputs with each gate's oracle
SQL run in DuckDB over the same tables: sorted column names, rows sorted
on every column, exact values (NaN equals NaN). The oracle's answers are
cached next to the tables, so that only a run with a new seed pays for
them.
"""
import datetime
import glob
import hashlib
import json
import math
import os
import pickle
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# rows per table (region and nation are fixed)
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}

WORDS = ("a the row query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part merge "
         "window order column join vector").split()
LANGS = (("en", 44), ("es", 14), ("zh", 15), ("de", 14), ("fr", 13))
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DAY0 = datetime.datetime(1995, 1, 1)


def _cents(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def _table(cols):
    return pa.table({name: pa.array(values, type=t) for name, t, values in cols})


def tables(seed):
    """Every table, as a name -> pyarrow table map, from the seed."""
    r = random.Random(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}
    out["region"] = _table([
        ("r_regionkey", i32, list(range(5))),
        ("r_name", s, ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])])
    out["nation"] = _table([
        ("n_nationkey", i32, list(range(25))),
        ("n_name", s, ["NATION_%d" % i for i in range(25)]),
        ("n_regionkey", i32, [i % 5 for i in range(25)])])
    n = ROWS["customer"]
    out["customer"] = _table([
        ("c_custkey", i64, list(range(n))),
        ("c_name", s, ["Customer#%09d" % i for i in range(n)]),
        ("c_nationkey", i32, [r.randrange(25) for _ in range(n)]),
        ("c_acctbal", f64, [_cents(r, -999.99, 9999.99) for _ in range(n)]),
        ("c_mktsegment", s, [r.choice(SEGMENTS) for _ in range(n)])])
    n = ROWS["supplier"]
    out["supplier"] = _table([
        ("s_suppkey", i64, list(range(n))),
        ("s_name", s, ["Supplier#%09d" % i for i in range(n)]),
        ("s_nationkey", i32, [r.randrange(25) for _ in range(n)]),
        ("s_acctbal", f64, [_cents(r, -999.99, 9999.99) for _ in range(n)])])
    n = ROWS["part"]
    adj = ("small", "red", "blue", "hot", "cold", "old", "new", "large")
    noun = ("widget", "plate", "ring", "rod", "bolt", "gear", "anvil", "gizmo")
    out["part"] = _table([
        ("p_partkey", i64, list(range(n))),
        ("p_name", s, ["%s %s" % (r.choice(adj), r.choice(noun)) for _ in range(n)]),
        ("p_brand", s, ["Brand#%d" % r.randint(1, 25) for _ in range(n)]),
        ("p_type", s, [r.choice(PART_TYPES) for _ in range(n)]),
        ("p_size", i32, [r.randint(1, 50) for _ in range(n)]),
        ("p_retailprice", f64, [round(900 + (i % 1000) / 10, 2) for i in range(n)])])
    n = ROWS["orders"]
    days = (datetime.datetime(2001, 8, 1) - DAY0).days
    out["orders"] = _table([
        ("o_orderkey", i64, list(range(n))),
        ("o_custkey", i64, [r.randrange(ROWS["customer"]) for _ in range(n)]),
        ("o_orderstatus", s, [r.choice("FOP") for _ in range(n)]),
        ("o_totalprice", f64, [_cents(r, 1000, 500000) for _ in range(n)]),
        ("o_orderdate", ts, [DAY0 + datetime.timedelta(days=r.randint(0, days))
                             for _ in range(n)]),
        ("o_orderpriority", s, [r.choice(PRIORITIES) for _ in range(n)])])
    n = ROWS["lineitem"]
    out["lineitem"] = _table([
        ("l_orderkey", i64, [r.randrange(ROWS["orders"]) for _ in range(n)]),
        ("l_partkey", i64, [r.randrange(ROWS["part"]) for _ in range(n)]),
        ("l_suppkey", i64, [r.randrange(ROWS["supplier"]) for _ in range(n)]),
        ("l_linenumber", i32, [r.randint(1, 7) for _ in range(n)]),
        ("l_quantity", f64, [float(r.randint(1, 50)) for _ in range(n)]),
        ("l_extendedprice", f64, [_cents(r, 900, 105000) for _ in range(n)]),
        ("l_discount", f64, [r.randint(0, 10) / 100 for _ in range(n)]),
        ("l_tax", f64, [r.randint(0, 8) / 100 for _ in range(n)]),
        ("l_returnflag", s, [r.choice("ANR") for _ in range(n)]),
        ("l_linestatus", s, [r.choice("FO") for _ in range(n)]),
        ("l_shipdate", ts, [DAY0 + datetime.timedelta(days=r.randint(1, days + 95))
                            for _ in range(n)])])
    n = ROWS["events"]
    t, stamps = datetime.datetime(2024, 1, 1), []
    for _ in range(n):
        # mean gap 259 s: 10,000 events over 30 days
        t += datetime.timedelta(microseconds=r.randint(1, 518_000_000))
        stamps.append(t)
    out["events"] = _table([
        ("event_id", i64, list(range(n))),
        ("ts", ts, stamps),
        ("user_id", i64, [r.randrange(150) for _ in range(n)]),
        ("event_type", s, [r.choice(EVENT_TYPES) for _ in range(n)]),
        ("value", f64, [max(0.01, round(r.expovariate(1 / 50), 2)) for _ in range(n)]),
        ("props", s, ['{"k": %d}' % r.randrange(100) for _ in range(n)])])
    n = ROWS["documents"]
    langs = [l for l, w in LANGS for _ in range(w)]
    # 10 to 100 words a document, the same lengths for every seed in a
    # seeded order, so that the seed changes the text but not its volume
    lengths = [10 + 90 * i // (n - 1) for i in range(n)]
    r.shuffle(lengths)
    texts = [" ".join(r.choice(WORDS) for _ in range(k)) for k in lengths]
    out["documents"] = _table([
        ("doc_id", i64, list(range(n))),
        ("text", s, texts),
        ("lang", s, [r.choice(langs) for _ in range(n)]),
        ("source", s, ["src%d" % (i % 20) for i in range(n)]),
        ("n_chars", i64, [len(x) for x in texts])])
    n = ROWS["embeddings"]
    centres = [[r.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    labels, vecs = [], []
    for _ in range(n):
        lab = r.randrange(10)
        v = [c + r.gauss(0, 1.5) for c in centres[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(lab)
        vecs.append([x / norm for x in v])
    out["embeddings"] = _table([
        ("vec_id", i64, list(range(n))),
        ("embedding", pa.list_(pa.float32()), vecs),
        ("label", i32, labels)])
    return out


def generate(dir_, seed):
    """Write every table as <dir_>/<name>.parquet."""
    os.makedirs(dir_, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(dir_, name + ".parquet"))


def _connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(tables_dir, t + ".parquet")))
    return con


def _sorted_rows(con, rel):
    """(sorted column names, rows ordered on every column), or raise."""
    desc = con.execute("DESCRIBE SELECT * FROM %s" % rel).fetchall()
    cols = sorted(d[0] for d in desc)
    sel = ", ".join('"%s"' % c for c in cols)
    by = ", ".join('"%s" NULLS FIRST' % c for c in cols)
    return cols, con.execute("SELECT %s FROM %s ORDER BY %s" % (sel, rel, by)).fetchall()


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def expected(tables_dir, oracles, cache):
    """The oracle's answer to every gate: name -> (columns, rows), or
    name -> error text. Cached in `cache` per oracle SQL text."""
    memo = {}
    if os.path.exists(cache):
        with open(cache, "rb") as f:
            memo = pickle.load(f)
    con = None
    out = {}
    for name, sql in sorted(oracles.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in memo:
            con = con or _connect(tables_dir)
            try:
                memo[key] = _sorted_rows(con, "(%s)" % sql)
            except Exception as e:  # an oracle that fails fails its gate
                memo[key] = "oracle error: %s" % e
        out[name] = memo[key]
    with open(cache + ".tmp", "wb") as f:
        pickle.dump(memo, f)
    os.replace(cache + ".tmp", cache)
    return out


def check(tables_dir, outputs_dir, cache):
    """Compare every gate output under `outputs_dir` (one parquet directory
    per gate, plus oracle_sql.json) with its oracle. Returns one message
    per wrong gate."""
    with open(os.path.join(outputs_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    if not oracles:
        return ["no gate outputs to check"]
    want = expected(tables_dir, oracles, cache)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    wrong = []
    for name in sorted(oracles):
        files = glob.glob(os.path.join(outputs_dir, name, "*.parquet"))
        if isinstance(want[name], str):
            wrong.append("%s: %s" % (name, want[name]))
            continue
        if not files:
            wrong.append("%s: no output" % name)
            continue
        cols, rows = want[name]
        try:
            got_cols, got = _sorted_rows(
                con, "read_parquet('%s')" % os.path.join(outputs_dir, name, "*.parquet"))
        except Exception as e:
            wrong.append("%s: unreadable output: %s" % (name, e))
            continue
        if got_cols != cols:
            wrong.append("%s: columns %s, expected %s" % (name, got_cols, cols))
        elif len(got) != len(rows):
            wrong.append("%s: %d rows, expected %d" % (name, len(got), len(rows)))
        else:
            bad = next((i for i, (a, b) in enumerate(zip(got, rows))
                        if len(a) != len(b) or not all(map(_same, a, b))), None)
            if bad is not None:
                wrong.append("%s: sorted row %d is %s, expected %s"
                             % (name, bad, got[bad], rows[bad]))
    return wrong
