"""Seeded input generator: every table, statement and probe the engine
sees is made here from the run's seed (same seed, same inputs).

Tables are written with pyarrow in the schemas of the repo's TPC-H-ish
test tier (µs timestamps, float[] embeddings), so the engine's basket
queries and `graft.tools.MakeBenchTier` read them unchanged.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# DuckDB's row-group size, the reference's partitioning unit: the 200k
# and 500k tables land in 2 and 5 row groups, like the reference's
# NATURAL_PARTITION and ROW_GROUP_PARTITION shapes.
ROW_GROUP = 122_880
REF_SIZES = {"t1k": 1_000, "t200k": 200_000, "t500k": 500_000}
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()


def _write(table: pa.Table, path: str, row_group: int = ROW_GROUP) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"),
                   row_group_size=row_group)


def ref_tables(rng, out):
    """The reference's benchmark shape: (id, category, value, amount).
    amount is a multiple of 0.25, so sums and updates stay exact."""
    for name, n in REF_SIZES.items():
        _write(pa.table({
            "id": pa.array(np.arange(n, dtype=np.int64)),
            "category": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
            "value": pa.array(rng.integers(0, 1000, n, dtype=np.int64)),
            "amount": pa.array(rng.integers(0, 40_000, n) / 4.0),
        }), os.path.join(out, name))


def _ts(days_from, days_span, n, rng, base="1995-01-01"):
    start = np.datetime64(base, "us")
    day = np.int64(86_400_000_000)
    return (start + (days_from + rng.integers(0, days_span, n)) * day
            ).astype("datetime64[us]")


def tpch(rng, out, sf):
    """TPC-H-ish star schema in the test tier's column set and value
    domains (lineitem ≈ 6M·sf rows)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(1_000 * sf)), \
        int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    os.makedirs(out, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": regions}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    adj = np.array(["small", "red", "blue", "hot", "old", "new"])
    noun = np.array(["bolt", "gear", "ring", "widget", "anvil", "rod"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    names = np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                        noun[rng.integers(0, 6, n_part)])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)}),
        f"{out}/part.parquet")
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(_ts(0, 2_400, n_ord, rng)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines)
            + 1).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flags = np.array(["A", "N", "R"])
    _write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": flags[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_ts(1, 2_500, n_li, rng))}),
        f"{out}/lineitem.parquet")
    return {"orders": n_ord, "customer": n_cust, "lineitem": n_li}


def _doc_texts(rng, n):
    """Whitespace-joined words from the test tier's 31-word vocabulary
    (Zipf-ish), with near-duplicate pairs planted: every 8th document
    copies an earlier one with two words swapped out."""
    p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    p /= p.sum()
    texts = []
    for i in range(n):
        if i % 8 == 7 and i > 8:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
        else:
            words = list(np.array(VOCAB)[rng.choice(
                len(VOCAB), int(rng.integers(8, 100)), p=p)])
        texts.append(" ".join(words))
    return texts


def documents(rng, path, n):
    texts = _doc_texts(rng, n)
    langs = np.array(["de", "en", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": langs[rng.choice(5, n, p=[.15, .45, .15, .1, .15])],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64))}), path)
    return texts


def _vectors(rng, n, dim):
    """Clustered unit-scale vectors; every 10th is a near-copy of an
    earlier one, so near-duplicate and top-k queries have true hits."""
    centers = rng.normal(0, 1, (16, dim))
    v = centers[rng.integers(0, 16, n)] + rng.normal(0, 0.8, (n, dim))
    for i in range(10, n, 10):
        v[i] = v[int(rng.integers(0, i))] + rng.normal(0, 0.02, dim)
    return (v / np.linalg.norm(v, axis=1, keepdims=True) * 0.9).astype(
        np.float32)


def embeddings(rng, path, n, dim=64):
    v = _vectors(rng, n, dim)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32))}), path)
    return v


def events(rng, path, n):
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
        0, 30 * 86_400_000_000, n).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, n)),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}), path)


def _tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


# --- sql_read -------------------------------------------------------------
def read_round(rng, li):
    """One round of read statements: a fixed multiset of shapes (so every
    round costs the same), seeded constants, seeded order. 16 of the 26
    are DELEGATED-class reads of the 1k table; the round's mean read
    latency, the gated figure, still takes most of its mass from the 10
    reads of the 200k, 500k and TPC-H tables."""
    c = lambda a, b: int(rng.integers(a, b))  # noqa: E731
    day = np.datetime64("1995-01-01") + c(0, 2_400)
    k = c(0, li["orders"] - 300)
    small = [
        "SELECT * FROM t1k", "SELECT * FROM t1k",
        "SELECT * FROM t1k WHERE id > 2", "SELECT * FROM t1k WHERE id > 2",
        "SELECT COUNT(*), MAX(id) FROM t1k",
        "SELECT COUNT(*), MAX(id) FROM t1k",
        "SELECT COUNT(*), SUM(value), AVG(amount) FROM t1k",
        "SELECT COUNT(*), SUM(value), AVG(amount) FROM t1k",
        *[f"SELECT id, category, value, amount FROM t1k WHERE id = {c(0, 1000)}"
          for _ in range(4)],
        "SELECT category, COUNT(*), SUM(value) FROM t1k GROUP BY category",
        "SELECT category, COUNT(*), SUM(value) FROM t1k GROUP BY category",
        *[f"SELECT id, value FROM t1k WHERE category = {c(0, 10)} "
          f"AND value > {c(0, 900)}" for _ in range(2)]]
    other = [
        ("medium", "SELECT category, COUNT(*), SUM(value), AVG(amount) "
                   "FROM t200k GROUP BY category"),
        ("medium", "SELECT category, COUNT(*), SUM(value), AVG(amount) "
                   "FROM t200k GROUP BY category"),
        ("medium", "SELECT id, category, value, amount FROM t200k "
                   f"WHERE id = {c(0, 200_000)}"),
        ("large", "SELECT category, COUNT(*) AS cnt, SUM(value) AS "
                  "total_value FROM t500k GROUP BY category"),
        ("large", "SELECT category, COUNT(*) AS cnt, SUM(value) AS "
                  "total_value FROM t500k GROUP BY category"),
        ("large", "SELECT COUNT(*), SUM(amount) FROM t500k WHERE id "
                  f"BETWEEN {(s := c(0, 499_000))} AND {s + 999}"),
        ("tpch", "SELECT l_orderkey, l_linenumber, l_quantity, "
                 f"l_extendedprice FROM lineitem WHERE l_orderkey = {k}"),
        ("tpch", "SELECT o_orderkey, o_totalprice, o_orderdate FROM orders "
                 f"WHERE o_custkey = {c(0, li['customer'])}"),
        ("tpch", "SELECT l_returnflag, l_linestatus, COUNT(*), "
                 "SUM(l_quantity) FROM lineitem WHERE l_shipdate >= "
                 f"TIMESTAMP '{day}' AND l_shipdate < TIMESTAMP "
                 f"'{day + 7}' GROUP BY l_returnflag, l_linestatus"),
        ("tpch", "SELECT c_mktsegment, COUNT(*) FROM orders JOIN customer "
                 f"ON o_custkey = c_custkey WHERE o_orderkey BETWEEN {k} "
                 f"AND {k + 200} GROUP BY c_mktsegment")]
    stmts = [("small", s) for s in small] + other
    return [stmts[i] for i in rng.permutation(len(stmts))]


# --- sql_write ------------------------------------------------------------
def write_cycle(rng, cyc):
    """One write cycle, in a fixed order: 20 statements, 8 of them
    writes (40 %), three UPDATEs of t1k among them. Every write matches
    at least one row, so every write is one new table version."""
    c = lambda a, b: int(rng.integers(a, b))  # noqa: E731
    base = 1_000_000 + cyc * 100

    def values(n, first):
        return ", ".join(f"({first + j}, {c(0, 10)}, {c(0, 1000)}, "
                         f"{c(0, 40_000) / 4})" for j in range(n))
    g1 = "SELECT category, COUNT(*), SUM(value) FROM t1k GROUP BY category"
    agg1 = "SELECT COUNT(*), SUM(value), AVG(amount) FROM t1k"
    lo = c(0, 199_990)
    return [
        ("read", g1),
        ("update", f"UPDATE t1k SET value = value + {c(1, 50)} "
                   f"WHERE category = {c(0, 10)}"),
        ("read", agg1),
        ("insert", f"INSERT INTO t1k VALUES {values(3, base)}"),
        ("read", "SELECT category, COUNT(*), SUM(value), AVG(amount) "
                 "FROM t200k GROUP BY category"),
        ("delete", f"DELETE FROM t200k WHERE id % 97 = {c(0, 97)}"),
        ("read", "SELECT id, category, value, amount FROM t1k "
                 f"WHERE id = {c(0, 1000)}"),
        ("update", f"UPDATE t1k SET amount = amount + 0.25 "
                   f"WHERE id % 5 = {c(0, 5)}"),
        ("read", "SELECT category, COUNT(*) AS cnt, SUM(value) AS "
                 "total_value FROM t500k GROUP BY category"),
        ("insert_select", f"INSERT INTO t1k SELECT id + 3000000, category, "
                          f"value, amount FROM t200k WHERE id BETWEEN {lo} "
                          f"AND {lo + 9}"),
        ("read", "SELECT COUNT(*), SUM(value) FROM t200k"),
        ("delete", f"DELETE FROM t1k WHERE id % 11 = {c(0, 11)}"),
        ("read", g1),
        ("update", f"UPDATE t1k SET value = value - {c(1, 50)} "
                   f"WHERE value > {c(850, 950)}"),
        ("read", agg1),
        ("insert", f"INSERT INTO t200k VALUES {values(3, base + 50)}"),
        # time travel to, and the change feed of, the first UPDATE's
        # commit (a snapshot diff): fixed, so every cycle does the same
        # work whatever the seed
        ("as_of", "SELECT category, COUNT(*), SUM(value) FROM t1k "
                  "VERSION AS OF 1 GROUP BY category"),
        ("changes", "SELECT _change_type, COUNT(*), SUM(value) FROM "
                    "table_changes('t1k', 1, 1) GROUP BY _change_type"),
        ("read", f"SELECT id, value FROM t1k WHERE category = {c(0, 10)} "
                 "ORDER BY id LIMIT 20"),
        ("read", "SELECT category, COUNT(*), SUM(value) FROM t200k "
                 f"WHERE id < {c(1_000, 200_000)} GROUP BY category"),
    ]


# --- serving --------------------------------------------------------------
def serving_inputs(rng, out, n_docs, n_vecs, rounds):
    os.makedirs(out, exist_ok=True)
    documents(rng, f"{out}/docs", n_docs)
    vecs = embeddings(rng, f"{out}/emb", n_vecs)
    # append batches: new documents, ids after the corpus
    batches = []
    for b in range(rounds):
        texts = _doc_texts(rng, 10)
        batches += [(b, n_docs + 10 * b + j, t) for j, t in enumerate(texts)]
    _tsv(f"{out}/append.tsv", batches)
    # probes, 12 per round (a fixed half of each kind, seeded order):
    # 3-term BM25 sets of distinct words, and perturbed corpus vectors
    # as ANN queries
    probes = []
    for _ in range(rounds + 1):
        for kind in rng.permutation(["bm25"] * 6 + ["ann"] * 6):
            if kind == "bm25":
                probes.append(("bm25", " ".join(
                    rng.choice(VOCAB, 3, replace=False))))
            else:
                q = vecs[int(rng.integers(0, n_vecs))] + rng.normal(
                    0, 0.05, vecs.shape[1]).astype(np.float32)
                probes.append(("ann", ",".join(f"{x:.6f}" for x in q)))
    _tsv(f"{out}/probes.tsv", probes)


def generate(workload, seed, out, rounds=60):
    """Write the inputs of one workload under `out`; returns a summary."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    if workload == "sql_read":
        ref_tables(rng, out)
        li = tpch(rng, f"{out}/tpch", 0.1)
        _tsv(f"{out}/statements.tsv",
             [(r, cls, s) for r in range(rounds)
              for cls, s in read_round(rng, li)])
    elif workload == "sql_write":
        ref_tables(rng, out)
        _tsv(f"{out}/statements.tsv",
             [(cyc, kind, s) for cyc in range(rounds)
              for kind, s in write_cycle(rng, cyc)])
    elif workload == "serving":
        serving_inputs(rng, out, n_docs=2_000, n_vecs=2_000, rounds=rounds)
    elif workload == "pipeline":
        # the test tier's sf0.001 sizes, one directory per table
        tier = f"{out}/tier"
        tpch(rng, tier, 0.001)
        events(rng, f"{tier}/events.parquet", 1_000)
        documents(rng, f"{tier}/documents.parquet", 500)
        embeddings(rng, f"{tier}/embeddings.parquet", 500)
    else:
        raise ValueError(workload)
    with open(f"{out}/seed.json", "w") as f:
        json.dump({"workload": workload, "seed": seed}, f)
