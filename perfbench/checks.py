"""Correctness gate, run after the timed window and never timed.

Each check returns a dict mapping the name of a wrong output to a
one-line reason. The caller counts every operation that produced a wrong
output as failed.
"""
import glob
import importlib.util
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _selfcheck(root):
    """The repository's own normalise-and-hash compare (tools/selfcheck.py),
    loaded as a module so the two gates can never drift apart."""
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(root, "tools", "selfcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_results(root, data_dir, results_dir, oracle):
    """Compare each query's result with its DuckDB twin over the same
    tables, exactly as ``tools/selfcheck.py`` does."""
    sc = _selfcheck(root)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        if not sql:
            bad[name] = "no oracle SQL"
            continue
        if not glob.glob(f"{results_dir}/{name}/_SUCCESS"):
            bad[name] = "no result written"
            continue
        try:
            s_cols, s_rows = sc.sorted_rows(
                pq.read_table(f"{results_dir}/{name}").to_pandas())
            d_cols, d_rows = sc.sorted_rows(con.execute(sql).df())
        except Exception as e:  # an unreadable result or a failing twin
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        if s_cols != d_cols:
            bad[name] = f"columns {s_cols} != {d_cols}"
        elif len(s_rows) != len(d_rows):
            bad[name] = f"{len(s_rows)} rows != {len(d_rows)}"
        elif sc.table_hash(s_cols, s_rows) != sc.table_hash(d_cols, d_rows):
            bad[name] = f"hash mismatch over {len(s_rows)} rows"
    return bad


LINE_COLS = ["lkey", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
             "l_returnflag", "l_linestatus", "l_shipdate"]


def table_snapshots(data_dir, ops, records, check):
    """The final and one time-travelled snapshot against a model of the
    operation sequence that was actually run: the latest write of each key
    up to that point, minus the keys removed after it."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    cols = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if c == "l_shipdate" else c
                     for c in LINE_COLS)
    writes = [f"SELECT -1 AS seq, {cols} FROM read_parquet('{data_dir}/base.parquet')"]
    removals = ["SELECT NULL::INT AS seq, NULL::BIGINT AS lkey WHERE false"]
    done = [r for r in records if r["error"] is None]
    for r in done:
        op = ops[r["op"]]
        if op[0] in ("append", "merge"):
            writes.append(f"SELECT {r['op']} AS seq, {cols} FROM "
                          f"read_parquet('{data_dir}/{op[1]}')")
        if op[0] in ("merge", "delete"):
            removals.append(f"SELECT {r['op']} AS seq, lkey FROM "
                            f"read_parquet('{data_dir}/{op[-1]}')")
    con.execute("CREATE TABLE w AS " + " UNION ALL ".join(writes))
    con.execute("CREATE TABLE rm AS " + " UNION ALL ".join(removals))

    def expected(upto):
        return f"""
          WITH latest AS (
            SELECT * FROM (SELECT *, row_number() OVER
              (PARTITION BY lkey ORDER BY seq DESC) AS rn
              FROM w WHERE seq <= {upto}) WHERE rn = 1),
          gone AS (SELECT lkey, max(seq) AS rseq FROM rm
                   WHERE seq <= {upto} GROUP BY lkey)
          SELECT {", ".join(LINE_COLS)} FROM latest LEFT JOIN gone USING (lkey)
          WHERE gone.rseq IS NULL OR gone.rseq < latest.seq"""

    # the newest operation that committed each version; versions committed
    # before the stream (the seed overwrite) map to the base table
    upto_of = {}
    for r in done:
        upto_of[r["version"]] = r["op"]
    bad = {}
    last = done[-1]["op"] if done else -1
    for name, path, upto in [
            ("final", check["final"], last),
            ("time_travel", check["tt"], upto_of.get(check["tt_version"], -1))]:
        got = f"SELECT {cols} FROM read_parquet('{path}/*.parquet')"
        want = expected(upto)
        n = con.execute(f"""SELECT
            (SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))),
            (SELECT count(*) FROM (({want}) EXCEPT ALL ({got})))""").fetchone()
        if n != (0, 0):
            bad[name] = f"{n[0]} unexpected rows, {n[1]} missing rows"
    return bad
