"""Correctness checks of one run's engine outputs, computed apart from
the engine: DuckDB over the same files (sql_read, the pipeline's oracle
SQL), a DuckDB replay of the statement log (sql_write), and plain
numpy/python for BM25, cosine top-k and Jaccard properties.

check(workload, in_dir, out_dir) -> (problems, n_checked)
"""
import datetime
import decimal
import glob
import json
import math
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

EPOCH = datetime.datetime(1970, 1, 1)


def _cell(v):
    if isinstance(v, datetime.datetime):
        d = v.replace(tzinfo=None) - EPOCH
        return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return [_cell(x) for x in v.values()]
    return v


def _nullish(x):
    return x is None or (isinstance(x, float) and math.isnan(x))


def _decimals(x):
    r = repr(float(x))
    return 0 if "e" in r else len(r.split(".")[1].rstrip("0"))


def _same(a, b):
    if _nullish(a) or _nullish(b):
        return _nullish(a) and _nullish(b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and \
            not isinstance(a, bool) and not isinstance(b, bool):
        if abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b)):
            return True
        # a value both engines round to d decimals may land one unit
        # apart when their float sums (summed in different orders) sit
        # on a rounding boundary
        d = max(_decimals(a), _decimals(b))
        return isinstance(a, float) and isinstance(b, float) and \
            0 < d <= 6 and abs(a - b) <= 1.000001 * 10.0 ** -d and \
            max(abs(a), abs(b)) >= 10.0 ** (6 - d)
    return a == b


def _key(row):
    """Sort key for rows of mixed cells: numbers, then text, then nulls."""
    return tuple((2, 0) if _nullish(x) else (0, x) if isinstance(
        x, (int, float)) else (1, str(x)) for x in row)


def same_rows(got, exp, ordered=False):
    """Row lists equal, cell by cell (floats to 1e-9 relative); unordered
    unless `ordered`."""
    got = [list(map(_cell, r)) for r in got]
    exp = [list(map(_cell, r)) for r in exp]
    if len(got) != len(exp):
        return f"{len(got)} rows, expected {len(exp)}"
    if not ordered:
        got, exp = sorted(got, key=_key), sorted(exp, key=_key)
    for i, (g, e) in enumerate(zip(got, exp)):
        if len(g) != len(e) or not all(_same(x, y) for x, y in zip(g, e)):
            return f"row {i}: {g} != expected {e}"
    return None


def _results(out):
    with open(f"{out}/results.jsonl") as f:
        return [json.loads(line) for line in f]


# ---- sql_read ----------------------------------------------------------------
def check_sql_read(inp, out):
    con = duckdb.connect()
    for t in ("t1k", "t200k", "t500k"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inp}/{t}/*.parquet')")
    for t in ("lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inp}/tpch/{t}.parquet/*.parquet')")
    expected, problems, n = {}, [], 0
    for r in _results(out):
        sql = r["sql"]
        if sql not in expected:
            expected[sql] = con.execute(sql).fetchall()
        bad = same_rows(r["rows"], expected[sql])
        n += 1
        if bad:
            problems.append(f"{sql}: {bad}")
    return problems, n


# ---- sql_write ---------------------------------------------------------------
_AS_OF = re.compile(r"(\w+) VERSION AS OF (\d+)")
_CHANGES = re.compile(r"table_changes\('(\w+)', (\d+), (\d+)\)")


def check_sql_write(inp, out):
    """Replay every executed cycle in DuckDB: tables reloaded from the
    files at cycle start (as the engine re-registers them), one snapshot
    table per version for VERSION AS OF, and table_changes as the
    multiset differences of adjacent snapshots (EXCEPT ALL both ways)."""
    stmts = {}
    with open(f"{inp}/statements.tsv") as f:
        for line in f:
            cyc, kind, sql = line.rstrip("\n").split("\t", 2)
            stmts.setdefault(int(cyc), []).append((kind, sql))
    by_cycle = {}
    for r in _results(out):
        by_cycle.setdefault(r["round"], {})[r["pos"]] = r
    problems, n = [], 0
    con = duckdb.connect()
    for cyc in sorted(by_cycle):
        version = {}
        for t in ("t1k", "t200k", "t500k"):
            con.execute(f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM "
                        f"read_parquet('{inp}/{t}/*.parquet')")
            con.execute(f"CREATE OR REPLACE TABLE {t}__v0 AS SELECT * FROM {t}")
            version[t] = 0
        for pos, (kind, sql) in enumerate(stmts[cyc]):
            got = by_cycle[cyc].get(pos)
            if kind in ("read", "as_of", "changes"):
                q = _AS_OF.sub(lambda m: f"{m.group(1)}__v{m.group(2)}", sql)
                q = _CHANGES.sub(lambda m: _changes_sql(*m.groups()), q)
                exp = con.execute(q).fetchall()
                if got is not None:
                    n += 1
                    bad = same_rows(got["rows"], exp, ordered="ORDER BY" in sql)
                    if bad:
                        problems.append(f"cycle {cyc} #{pos} {sql}: {bad}")
            else:
                con.execute(sql)
                t = re.search(r"(?:UPDATE|INTO|FROM)\s+(\w+)", sql).group(1)
                version[t] += 1
                con.execute(f"CREATE OR REPLACE TABLE {t}__v{version[t]} AS "
                            f"SELECT * FROM {t}")
                if got is not None:
                    n += 1
                    if got["version"] != version[t]:
                        problems.append(
                            f"cycle {cyc} #{pos} {sql}: engine at version "
                            f"{got['version']}, model at {version[t]}")
    return problems, n


def _changes_sql(t, a, b):
    """table_changes' SQL form takes Delta's inclusive start: commits
    a..b, and start 0 includes the creation snapshot as inserts."""
    a, b = int(a), int(b)
    parts = [f"SELECT *, 'insert' AS _change_type FROM {t}__v0"] if a == 0 \
        else []
    for c in range(max(a, 1), b + 1):
        parts.append(f"SELECT *, 'insert' AS _change_type FROM "
                     f"(SELECT * FROM {t}__v{c} EXCEPT ALL "
                     f"SELECT * FROM {t}__v{c - 1})")
        parts.append(f"SELECT *, 'delete' AS _change_type FROM "
                     f"(SELECT * FROM {t}__v{c - 1} EXCEPT ALL "
                     f"SELECT * FROM {t}__v{c})")
    return "(" + " UNION ALL ".join(parts) + ")"


# ---- exact retrieval helpers ------------------------------------------------
def bm25_scores(texts, ids, terms, k1=1.2, b=0.75):
    """q165's whitespace-split BM25 of every document (doc_id -> score
    rounded to 4 dp), per-term addends summed in term order."""
    toks = [t.split(" ") for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    df = {w: sum(1 for t in toks if w in t) for w in terms}
    out = {}
    for doc_id, t in zip(ids, toks):
        s = 0.0
        for w in terms:
            tf = t.count(w)
            if tf:
                s += (math.log(1 + (n - df[w] + 0.5) / (df[w] + 0.5)) * tf
                      * (k1 + 1) / (tf + (1 - b + b * len(t) / avgdl) * k1))
        out[doc_id] = round(s, 4)
    return out


def top_k(scores, k):
    """Top-k (id, score) by score, ties by id; zero scores pad in id
    order, as the engine's full pass does."""
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def ranked_match(got, scores, k, tol=2e-4):
    """A served top-k agrees with the exact one: same length, scores
    equal rank by rank (to rounding), and each returned id's own exact
    score equals the score it was served with."""
    exp = top_k(scores, k)
    if len(got) != len(exp):
        return f"{len(got)} results, expected {len(exp)}"
    for i, ((gd, gs), (_, es)) in enumerate(zip(got, exp)):
        if abs(gs - es) > tol:
            return f"rank {i}: score {gs}, exact {es}"
        if abs(scores[gd] - gs) > tol:
            return f"rank {i}: id {gd} served {gs}, exact {scores[gd]}"
    return None


def cosine_matrix(a, b):
    a = a / np.linalg.norm(a, axis=1, keepdims=True)
    b = b / np.linalg.norm(b, axis=1, keepdims=True)
    return a @ b.T


# ---- serving -----------------------------------------------------------------
ANN_RECALL_FLOOR = 0.5  # mean recall@10 of the IVF-PQ probes (nprobe 4)


def check_serving(inp, out):
    docs = pq.read_table(f"{inp}/docs").to_pandas()
    texts, ids = list(docs["text"]), list(docs["doc_id"])
    appended = {}
    with open(f"{inp}/append.tsv") as f:
        for line in f:
            b, doc_id, text = line.rstrip("\n").split("\t")
            appended.setdefault(int(b), []).append((int(doc_id), text))
    emb = pq.read_table(f"{inp}/emb").to_pandas()
    vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    vec_ids = emb["vec_id"].to_numpy()
    problems, n, recalls = [], 0, []
    corpus_at = {}
    for r in _results(out):
        n += 1
        if r["kind"] == "bm25":
            nb = r["batches"]
            if nb not in corpus_at:
                extra = [d for b in range(nb) for d in appended[b]]
                corpus_at[nb] = (texts + [t for _, t in extra],
                                 ids + [i for i, _ in extra])
            t_all, i_all = corpus_at[nb]
            terms = r["arg"].split(" ")
            got = [(int(d), float(s)) for d, s in r["rows"]]
            bad = ranked_match(got, bm25_scores(t_all, i_all, terms), 10)
            if bad:
                problems.append(f"bm25 {terms} after {nb} batches: {bad}")
        else:
            q = np.array([float(x) for x in r["arg"].split(",")])[None, :]
            cos = cosine_matrix(q, vecs)[0]
            exact = [int(vec_ids[j]) for j in np.argsort(-cos)[:10]]
            got = [int(row[0]) for row in r["rows"]]
            recalls.append(len(set(got) & set(exact)) / 10)
            cos_of = dict(zip(vec_ids.tolist(), cos))
            for vid, cs in r["rows"]:
                if abs(cos_of[int(vid)] - cs) > 2e-4:
                    problems.append(f"ann probe {r['i']}: vec {vid} served "
                                    f"cos {cs}, exact {cos_of[int(vid)]:.6f}")
                    break
    if recalls and sum(recalls) / len(recalls) < ANN_RECALL_FLOOR:
        problems.append(f"ann recall@10 {sum(recalls) / len(recalls):.3f} "
                        f"below floor {ANN_RECALL_FLOOR}")
    return problems, n


# ---- pipeline ----------------------------------------------------------------
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# recall floor for the LSH one-NN rows (q46, q171): share of vectors
# whose reported neighbour is among its exact 10 nearest
LSH_RECALL_FLOOR = 0.5


def _tier(inp, t):
    return pq.read_table(glob.glob(f"{inp}/tier/{t}.parquet/*.parquet"))


def check_pipeline(inp, out):
    problems, n = [], 0
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{inp}/tier/{t}.parquet/*.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    expected = {}
    results = [r for r in _results(out) if r["checked"]]
    for r in results:
        q = r["q"]
        if q not in oracle:
            continue
        n += 1
        try:
            if q not in expected:
                cur = con.execute(oracle[q])
                expected[q] = ([d[0] for d in cur.description],
                               cur.fetchall())
            ecols, exp = expected[q]
        except Exception as e:  # a failing oracle is a failed check
            problems.append(f"{q}: {e}")
            continue
        cols, got = r["columns"], r["rows"]
        if sorted(cols) != sorted(ecols):
            problems.append(f"{q}: columns {cols} vs {ecols}")
            continue
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        eorder = sorted(range(len(ecols)), key=lambda i: ecols[i])
        bad = same_rows([[row[i] for i in order] for row in got],
                        [[row[i] for i in eorder] for row in exp])
        if bad:
            problems.append(f"{q}: {bad}")
    docs = _tier(inp, "documents").to_pydict()
    emb = _tier(inp, "embeddings").to_pydict()
    vecs = np.array(emb["embedding"], dtype=np.float64)
    vid = {v: i for i, v in enumerate(emb["vec_id"])}
    checks = {"q42_dedup_minhash_lsh": _q42, "q46_ann_lsh": _one_nn,
              "q171_dedup_then_ann": _one_nn, "q189_hybrid_served": _q189}
    for r in results:
        fn = checks.get(r["q"])
        if fn is None:
            continue
        n += 1
        rows = r["rows"]
        cols = dict(zip(r["columns"], zip(*rows))) if rows else \
            {c: () for c in r["columns"]}
        try:
            bad = fn(cols, docs, vecs, vid)
        except Exception as e:
            bad = str(e)
        if bad:
            problems.append(f"{r['q']}: {bad}")
    return problems, n


def _shingles(text):
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def _q42(res, docs, vecs, vid):
    """Every reported pair's exact Jaccard of 3-word shingle sets is at
    least 0.5 and equals the reported value (3 dp)."""
    text = dict(zip(docs["doc_id"], docs["text"]))
    if not res["id_a"]:
        return "no pairs reported (the tier plants near-duplicates)"
    for a, b, j in zip(res["id_a"], res["id_b"], res["jaccard"]):
        sa, sb = _shingles(text[a]), _shingles(text[b])
        exact = len(sa & sb) / len(sa | sb)
        if exact < 0.5 or abs(round(exact, 3) - j) > 1.5e-3:
            return f"pair ({a}, {b}): reported {j}, exact {exact:.4f}"
    return None


def _one_nn(res, docs, vecs, vid):
    """Reported similarities are exact cosines (4 dp) and never beat the
    exact nearest neighbour within the searched set (q46: every vector;
    q171: the representatives it reports); recall of the reported
    neighbour in the exact top-10 meets the floor."""
    ids = list(res["vec_id"])
    if not ids:
        return "no rows"
    sub = vecs[[vid[i] for i in ids]]
    cos = cosine_matrix(sub, sub)
    np.fill_diagonal(cos, -np.inf)
    best = np.round(cos.max(axis=1), 4)
    pos = {v: k for k, v in enumerate(ids)}
    hits = 0
    for k, (nn, cs) in enumerate(zip(res["nn"], res["cos_sim"])):
        if nn not in pos:
            return f"vector {ids[k]}: neighbour {nn} outside the searched set"
        exact = round(float(cos[k, pos[nn]]), 4)
        if abs(exact - cs) > 2e-4 or cs > best[k] + 2e-4:
            return (f"vector {ids[k]}: reported cos {cs}, exact {exact}, "
                    f"best {best[k]}")
        hits += int((cos[k] > cos[k, pos[nn]] + 1e-12).sum()) < 10
    recall = hits / len(ids)
    if recall < LSH_RECALL_FLOOR:
        return f"recall@10 {recall:.3f} below floor {LSH_RECALL_FLOOR}"
    return None


def _q189(res, docs, vecs, vid):
    """RRF over the served lexical top-20 (exact BM25 of q165's terms)
    and the served dense top-20 (doc 1's embedding, self excluded):
    lexical ranks equal the exact ranks, dense hits lie in the exact
    cosine top-40, and each fused score is the RRF of its ranks."""
    scores = bm25_scores(docs["text"], docs["doc_id"],
                         ["join", "vector", "stream"])
    lex_rank = {d: i + 1 for i, (d, _) in enumerate(top_k(scores, 20))}
    cos = cosine_matrix(vecs[[vid[1]]], vecs)[0]
    ids = np.array(list(vid))
    dense = [int(i) for i in ids[np.argsort(-cos)] if i != 1][:40]
    for d, rl, rv, rrf in zip(res["doc_id"], res["r_lex"], res["r_vec"],
                              res["rrf"]):
        if rl and lex_rank.get(d) != rl:
            return f"doc {d}: lexical rank {rl}, exact {lex_rank.get(d)}"
        if rv and d not in dense:
            return f"doc {d}: dense rank {rv} but outside exact top-40"
        exp = round((1 / (60 + rl) if rl else 0) + (1 / (60 + rv) if rv
                                                      else 0), 6)
        if abs(exp - rrf) > 2e-6:
            return f"doc {d}: rrf {rrf}, expected {exp}"
    return None


def check(workload, inp, out):
    return {"sql_read": check_sql_read, "sql_write": check_sql_write,
            "pipeline": check_pipeline, "serving": check_serving}[workload](
        inp, out)
