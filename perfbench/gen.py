"""Seeded input generators for the two benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same parquet tables and the same op sequences.

* `write_tables` writes the TPC-H-like star schema plus `events`,
  `documents` and `embeddings` that `SparkEntry.queries(name)` reads,
  with the row counts and value distributions of the sf0.1 test tables.
* `tail_queries` picks one query per cost stratum (see query_strata.json).
* `catalog_sql_spec` builds the statement sequence the harness
  executes; check.py folds the same sequence independently.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# row counts at sf 1.0 (the tables scale linearly; region/nation are fixed)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000,
             "events": 1_000_000, "documents": 50_000,
             "embeddings": 20_000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
DAY_US = 86_400_000_000


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype(
        "timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def _labels(prefix, keys, width):
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys], pa.string())


def _build_tables(seed, sf):
    """name -> thunk building that table from its own random stream."""
    n = {k: max(1, int(round(v * sf))) for k, v in BASE_ROWS.items()}
    c, s, p, o = n["customer"], n["supplier"], n["part"], n["orders"]
    i32, i64, f32, f64 = pa.int32(), pa.int64(), pa.float32(), pa.float64()

    def region(rng):
        return {"r_regionkey": pa.array(range(5), i32),
                "r_name": pa.array(REGIONS, pa.string())}

    def nation(rng):
        return {"n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}

    def customer(rng):
        return {"c_custkey": pa.array(np.arange(c), i64),
                "c_name": _labels("Customer#", range(c), 9),
                "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), f64),
                "c_mktsegment": _pick(rng, SEGMENTS, c)}

    def supplier(rng):
        return {"s_suppkey": pa.array(np.arange(s), i64),
                "s_name": _labels("Supplier#", range(s), 9),
                "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s), f64)}

    def part(rng):
        names = [f"{a} {b}" for a in ADJ for b in NOUN]
        return {"p_partkey": pa.array(np.arange(p), i64),
                "p_name": _pick(rng, names, p),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
                "p_type": _pick(rng, PTYPES, p),
                "p_size": pa.array(rng.integers(1, 51, p), i32),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1), f64)}

    def orders(rng):
        return {"o_orderkey": pa.array(np.arange(o), i64),
                "o_custkey": pa.array(rng.integers(0, c, o), i64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o), f64),
                "o_orderdate": _ts("1995-01-01",
                                   rng.integers(0, 2405, o) * DAY_US),
                "o_orderpriority": _pick(rng, PRIORITIES, o)}

    def lineitem(rng):
        li = n["lineitem"]
        return {"l_orderkey": pa.array(rng.integers(0, o, li), i64),
                "l_partkey": pa.array(rng.integers(0, p, li), i64),
                "l_suppkey": pa.array(rng.integers(0, s, li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
                "l_quantity": pa.array(
                    rng.integers(1, 51, li).astype(np.float64), f64),
                "l_extendedprice": pa.array(
                    _money(rng, 900.0, 105000.0, li), f64),
                "l_discount": pa.array(
                    np.round(rng.uniform(0, 0.1, li), 2), f64),
                "l_tax": pa.array(np.round(rng.uniform(0, 0.08, li), 2), f64),
                "l_returnflag": _pick(rng, ["A", "N", "R"], li),
                "l_linestatus": _pick(rng, ["F", "O"], li),
                "l_shipdate": _ts("1995-01-02",
                                  rng.integers(0, 2499, li) * DAY_US)}

    def events(rng):
        e = n["events"]
        return {"event_id": pa.array(np.arange(e), i64),
                "ts": _ts("2024-01-01",
                          np.sort(rng.integers(0, 30 * DAY_US, e))),
                "user_id": pa.array(rng.integers(0, 1500, e), i64),
                "event_type": _pick(rng, EVENT_TYPES, e),
                "value": pa.array(np.round(rng.exponential(50.0, e), 2), f64),
                "props": pa.array([f'{{"k": {k}}}'
                                   for k in rng.integers(0, 100, e)])}

    def documents(rng):
        d = n["documents"]
        vocab = np.asarray(VOCAB, dtype=object)
        texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)])
                 for k in rng.integers(10, 101, d)]
        # 5% near-duplicates: another doc's text plus one token
        for i in rng.choice(d, d // 20, replace=False):
            texts[i] = texts[rng.integers(0, d)] + " dup"
        return {"doc_id": pa.array(np.arange(d), i64),
                "text": pa.array(texts, pa.string()),
                "lang": _pick(rng, LANGS, d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
                "source": pa.array([f"src{i % 20}" for i in range(d)]),
                "n_chars": pa.array([len(t) for t in texts], i64)}

    def embeddings(rng):
        m = n["embeddings"]
        labels = rng.integers(0, 10, m)
        centers = rng.normal(0.0, 1.0, (10, 64))
        vecs = centers[labels] + rng.normal(0.0, 1.5, (m, 64))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
            np.float32)
        return {"vec_id": pa.array(np.arange(m), i64),
                "embedding": pa.array(list(vecs), pa.list_(f32)),
                "label": pa.array(labels, i32)}

    builders = [region, nation, customer, supplier, part, orders, lineitem,
                events, documents, embeddings]
    return {f.__name__: (lambda f=f, i=i: pa.table(
        f(np.random.default_rng([seed, i]))))
        for i, f in enumerate(builders)}


def write_tables(out_dir, seed, sf=0.1, only=None):
    """Write the parquet tables for `seed` into `out_dir` (all ten, or
    the names in `only`); return their row counts. Each table draws
    from its own stream, so a subset equals the same tables of a full
    set."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, build in _build_tables(seed, sf).items():
        if only is None or name in only:
            tbl = build()
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = tbl.num_rows
    return rows


def tail_queries(k):
    """The `k` queries of the tail workload: the median query of each of
    `k` equal-count strata of the pool ordered by reference cost. The
    set is fixed, not seeded: a seeded pick inside each stratum moves
    the median latency of k <= 10 queries by 10-15% from seed to seed
    before any machine noise, more than a bound can absorb."""
    with open(os.path.join(HERE, "query_strata.json")) as f:
        ranked = json.load(f)["ranked"]
    n = len(ranked)
    return [ranked[(2 * i + 1) * n // (2 * k)] for i in range(k)]


def catalog_sql_spec(seed, inserts, n_docs):
    """SQL statements of one catalog pass over the `documents` table:
    CREATE, one INSERT ... SELECT of a seeded quarter of the documents,
    then `inserts` small literal INSERTs each followed by a predicate
    SELECT, a CALL compact after pair `inserts // 2 + 1` and the
    maintenance CALLs at the end; and the warm-up statements, one of
    each kind. There is no closing SELECT of the whole table (the final
    contents are checked anyway), so the count stays even and the
    median statement latency averages the two middle statements rather
    than landing on whichever of a SELECT or an INSERT is slower, a
    20-30% step from run to run.
    Every statement carries what check.py needs to fold it."""
    rng = random.Random(seed)
    quarter = rng.randrange(4)
    ops = [{"kind": "create"},
           {"kind": "insert_select", "mod": 4, "rem": quarter}]
    next_id = n_docs
    for i in range(inserts):
        rows = []
        for _ in range(rng.randrange(2, 7)):
            rows.append([next_id, rng.randrange(40, 600),
                         f"src{rng.randrange(20)}"])
            next_id += 1
        ops.append({"kind": "insert_values", "rows": rows})
        lo = rng.randrange(0, next_id - 1000)
        ops.append({"kind": "select", "lo": lo, "hi": lo + 1000,
                    "min_chars": rng.randrange(40, 400)})
        if i == inserts // 2:
            ops.append({"kind": "call", "proc": "compact"})
    for proc in ("rewrite_zorder", "expire_snapshots", "vacuum"):
        ops.append({"kind": "call", "proc": proc})
    # the untimed warm-up pass runs one statement of each kind: enough to
    # load and compile every code path at half the cost of a full pass
    firsts = {}
    for o in ops:
        firsts.setdefault((o["kind"], o.get("proc")), o)
    return {"ops": ops, "warmup_ops": list(firsts.values())}
