"""Correctness of a run, judged outside the timed window.

* query_tail: each drawn query's result (the parquet its timed op
  wrote) against its `SparkEntry.oracleSql` text run by DuckDB on the
  same generated tables; an op that throws fails, and a query whose
  result differs fails every op that ran it.
* catalog_sql: every SELECT result and the final table contents of
  every timed pass against a DuckDB fold of the generated statements —
  never against the program's own table code.

`check` returns {"attempted", "failed", "messages"}.
"""
import statistics

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"parquet_scan('{data_dir}/{t}.parquet')")
    return con


def _same_frame(mine, ref):
    """The strict compare of the repo's oracle check: columns sorted by
    name, equal dtypes, equal values as strings, same row order."""
    mine = mine.reindex(sorted(mine.columns), axis=1)
    ref = ref.reindex(sorted(ref.columns), axis=1)
    if list(mine.columns) != list(ref.columns):
        return "columns differ"
    if list(map(str, mine.dtypes)) != list(map(str, ref.dtypes)):
        return "dtypes differ"
    if len(mine) != len(ref):
        return f"rows {len(mine)} != {len(ref)}"
    if not mine.astype(str).equals(ref.astype(str)):
        return "values differ"
    return None


def _query_tail(spec, out):
    con = _connect(spec["data_dir"], TABLES)
    threw = {o["name"] for o in out["ops"] if "error" in o}
    bad = {}
    for name in dict.fromkeys(o["name"] for o in out["ops"]):
        if name in threw:
            continue
        sql = out["oracle"].get(name)
        if sql is None:
            bad[name] = "no oracle SQL"
            continue
        try:
            mine = con.execute(
                "SELECT * FROM parquet_scan("
                f"'{spec['results_dir']}/{name}/*.parquet')").df()
            why = _same_frame(mine, con.execute(sql).df())
        except Exception as e:  # a broken oracle compare is a failure too
            why = f"compare error {type(e).__name__}: {e}"
        if why:
            bad[name] = why
    failed, msgs = 0, [f"{n}: {w}" for n, w in sorted(bad.items())]
    for o in out["ops"]:
        if "error" in o:
            msgs.append(f"{o['id']} {o['name']}: {o['error'][:200]}")
            failed += 1
        elif o["name"] in bad:
            failed += 1
    return len(out["ops"]), failed, msgs


def _bucket_rows(con, table, buckets, str_cols):
    cols = ", ".join(
        ["count(*)", "sum(doc_id)", "sum(n_chars)", "sum(n_mod)"] +
        [f"sum(CAST(substr({c}, {k + 1}) AS BIGINT))" for c, k in str_cols])
    return [[int(v) for v in r] for r in con.execute(
        f"SELECT doc_id % {buckets} AS b, {cols} FROM {table} "
        "GROUP BY 1 ORDER BY 1").fetchall()]


def _count_sum(con, where):
    c, s = con.execute(
        f"SELECT count(*), sum(n_chars) FROM t WHERE {where}").fetchone()
    return {"count": int(c), "sum": None if s is None else int(s)}


def _fold_catalog(spec):
    con = _connect(spec["data_dir"], ["documents"])
    expect = []
    for o in spec["ops"]:
        k = o["kind"]
        e = None
        if k == "create":
            con.execute("CREATE TABLE t (doc_id BIGINT, n_chars BIGINT, "
                        "n_mod BIGINT, source VARCHAR)")
        elif k == "insert_select":
            con.execute("INSERT INTO t SELECT doc_id, n_chars, doc_id % 97, "
                        f"source FROM documents WHERE doc_id % {o['mod']} = "
                        f"{o['rem']}")
        elif k == "insert_values":
            con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)",
                            [[i, n, i % 97, s] for i, n, s in o["rows"]])
        elif k == "select":
            e = _count_sum(con, f"doc_id BETWEEN {o['lo']} AND {o['hi']} "
                                f"AND n_chars >= {o['min_chars']}")
        expect.append(e)
    return expect, _bucket_rows(con, "t", 16, [("source", 3)])


def _catalog_sql(spec, out):
    expect, final = _fold_catalog(spec)
    failed, msgs = 0, []
    for o in out["ops"]:
        want = expect[o["index"]]
        if "error" in o:
            why = "threw: " + o["error"][:200]
        elif want is not None and o.get("result") != want:
            why = f"got {o.get('result')} want {want}"
        else:
            continue
        failed += 1
        msgs.append(f"{o['id']} {o['name']}: {why}")
    for f in out["final"]:
        if f["buckets"] != final:
            failed += 1
            msgs.append(f"pass {f['pass']}: final table contents differ")
    return len(out["ops"]) + len(out["final"]), failed, msgs


def check(workload, spec, out):
    if workload == "query_tail":
        attempted, failed, msgs = _query_tail(spec, out)
    else:
        attempted, failed, msgs = _catalog_sql(spec, out)
    return {"attempted": max(attempted, 1), "failed": failed,
            "messages": msgs}


def table_figures(workload, out):
    """User-visible table figure that is not a BENCHMARK.json metric
    because query_tail has no table: bytes on disk per live row after
    the statements (median over passes)."""
    if workload == "query_tail":
        return {}
    per_row = [f["stored_bytes"] / max(sum(b[1] for b in f["buckets"]), 1)
               for f in out["final"]]
    return {"stored_bytes_per_row": statistics.median(per_row)}
