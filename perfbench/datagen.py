"""Seeded inputs for the workloads.

Everything the program reads during a run is generated here from the
workload seed: the same seed gives byte-identical inputs. The engine
only ever sees the files written by these functions.

- ``tables``: the ten TPC-H-ish tables the SparkEntry queries read
  (region .. lineitem, events, documents, embeddings), with the value
  domains of the fixture tables the engine was developed against.
- ``lifecycle``: a seeded stream of manifest-table operations plus the
  parquet batches the writes commit.
"""
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def tables(out_dir, seed, sf):
    """Write the ten query tables at scale factor ``sf`` into ``out_dir``.
    Returns the number of tokens in the documents under the reference's
    tokenizer (maximal ASCII alnum runs), the map input of the MapReduce
    word count."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(100, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        f"{out_dir}/supplier.parquet")
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)}),
        f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out_dir}/orders.parquet")
    _write(lineitem(rng, n_ord, n_part, n_supp), f"{out_dir}/lineitem.parquet")

    # events: 30 days of microsecond timestamps in arrival order
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")

    # documents: uniform words over a 30-word vocabulary; ~3% are
    # near-duplicates of an earlier doc so the dedup family has work
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.03:
            w = texts[int(rng.integers(0, i))].split()
            w.insert(int(rng.integers(0, len(w) + 1)), "dup")
            texts.append(" ".join(w))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(DOC_WORDS, k)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")

    # embeddings: unit vectors around 10 labelled centres
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = centres[labels] + rng.normal(scale=0.12, size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}), f"{out_dir}/embeddings.parquet")
    return sum(len(re.findall(r"[A-Za-z0-9]+", t)) for t in texts)


def lineitem(rng, n_ord, n_part, n_supp):
    """1..7 lines per order, so (l_orderkey, l_linenumber) is unique."""
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    starts = np.cumsum(per) - per
    lnum = np.arange(len(okey)) - np.repeat(starts, per) + 1
    return lines(rng, okey, lnum, n_part, n_supp)


def lines(rng, okey, lnum, n_part, n_supp):
    """Lineitem rows for the given (order key, line number) pairs."""
    n = len(okey)
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n)})


# ------------------------------------------------------------ lifecycle

# one deck = 20 operations in fixed proportions (40% pruned reads,
# 10% full and time-travel reads, 20% appends, 15% merges, 10% deletes, 5%
# optimize + vacuum), in one fixed order: a read's cost depends on the
# deletes outstanding before it, so a seeded order would make the mix of
# read costs depend on the seed. The deck ends with the optimize, which
# applies the deletes, so every deck starts from a compacted table.
DECK = ["read_pruned", "append", "read_pruned", "merge", "read_pruned",
        "delete", "read_pruned", "read_full", "append", "read_pruned",
        "merge", "read_pruned", "append", "read_at", "read_pruned", "delete",
        "append", "read_pruned", "merge", "optimize"]


def lifecycle(out_dir, seed, sf, n_decks, batch_rows):
    """Seed table plus ``n_decks`` decks of operations; the seed sets the
    data, the keys and the key ranges.

    Writes ``base.parquet`` (lineitem with a unique ``lkey``), one parquet
    batch per write, and ``ops.tsv``: one operation per line,
    ``kind<TAB>arg<TAB>arg``. Appends always use fresh keys and merges and
    deletes touch only live keys, so no operation resurrects a deleted key.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_ord = max(1500, int(1_500_000 * sf))
    n_part, n_supp = max(200, int(200_000 * sf)), max(10, int(10_000 * sf))
    base = lineitem(rng, n_ord, n_part, n_supp)
    okey = base.column("l_orderkey").to_numpy()
    lnum = base.column("l_linenumber").to_numpy()
    keys = okey * 8 + lnum
    base = base.add_column(0, "lkey", pa.array(keys, pa.int64()))
    _write(base, f"{out_dir}/base.parquet")
    live = set(keys.tolist())
    next_order = n_ord
    key_hi = int(keys.max())
    ops = []

    def new_rows(fresh, reuse):
        """``fresh`` rows under new order keys plus new values for the
        live keys in ``reuse``; ``lkey = l_orderkey * 8 + l_linenumber``."""
        nonlocal next_order
        reuse = np.array(reuse, dtype=np.int64)
        okey = np.concatenate([np.arange(next_order, next_order + fresh),
                               reuse // 8])
        lnum = np.concatenate([np.ones(fresh, np.int64), reuse % 8])
        next_order += fresh
        t = lines(rng, okey, lnum, n_part, n_supp)
        return t.add_column(0, "lkey", pa.array(okey * 8 + lnum, pa.int64()))

    def pick_live(n, clustered=False):
        arr = np.array(sorted(live), dtype=np.int64)
        if clustered:  # a contiguous run of live keys, as upserts of recent data
            start = int(rng.integers(0, len(arr) - n))
            return rng.permutation(arr[start:start + n]).tolist()
        return rng.choice(arr, n, replace=False).tolist()

    i = 0
    for _ in range(n_decks):
        for kind in DECK:
            if kind == "read_pruned":
                width = max(1, key_hi // 100)
                lo = int(rng.integers(0, key_hi))
                ops.append([kind, lo, lo + width])
            elif kind == "read_full":
                ops.append([kind])
            elif kind == "read_at":
                ops.append([kind, int(rng.integers(1, 6))])
            elif kind == "append":
                t = new_rows(batch_rows, [])
                _write(t, f"{out_dir}/op{i:04d}.parquet")
                live.update(t.column("lkey").to_pylist())
                key_hi = max(key_hi, int(t.column("lkey").to_numpy().max()))
                ops.append([kind, f"op{i:04d}.parquet"])
            elif kind == "merge":
                # remove some live keys, update others, insert fresh ones
                chosen = pick_live(batch_rows, clustered=True)
                n_rm = batch_rows // 4
                rm, upd = chosen[:n_rm], chosen[n_rm:]
                t = new_rows(batch_rows // 2, upd)
                _write(t, f"{out_dir}/op{i:04d}.parquet")
                _write(pa.table({"lkey": pa.array(rm, pa.int64())}),
                       f"{out_dir}/op{i:04d}.rm.parquet")
                live.difference_update(rm)
                live.update(t.column("lkey").to_pylist())
                key_hi = max(key_hi, int(t.column("lkey").to_numpy().max()))
                ops.append([kind, f"op{i:04d}.parquet", f"op{i:04d}.rm.parquet"])
            elif kind == "delete":
                rm = pick_live(batch_rows // 2)
                _write(pa.table({"lkey": pa.array(rm, pa.int64())}),
                       f"{out_dir}/op{i:04d}.rm.parquet")
                live.difference_update(rm)
                ops.append([kind, f"op{i:04d}.rm.parquet"])
            else:
                ops.append([kind])
            i += 1
    with open(f"{out_dir}/ops.tsv", "w") as fh:
        for op in ops:
            fh.write("\t".join(str(x) for x in op) + "\n")
