"""The four workloads: what each run executes, and how each answer is checked.

`prepare()` writes a workload's inputs under a data directory and returns its
plan (the rounds of operations the harness runs in order). `check()` takes
the answers the engine returned and recomputes each one independently: with
DuckDB over the same generated inputs, or with numpy for the exact vector
top-k, or with Python sets for the exact Jaccard pairs. It returns, per
operation key, None when the answer is right or a one-line reason.
"""
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

def zipf(n):
    """Weights 1/rank over n items."""
    w = 1.0 / np.arange(1, n + 1)
    return w / w.sum()


# Query terms are drawn with a Zipf skew over the vocabulary, so some
# statement texts repeat within a run.
TERMS = gen.VOCAB + ["dup"]
TERM_P = zipf(len(TERMS))

SIZES = {  # normal run / smoke run
    "search": {"docs": (2000, 300), "vecs": (1000, 200)},
    "analytics": {"sf": (0.01, 0.001)},
    "ingest": {"docs": (500, 200), "vecs": (250, 100)},
    "dedup": {"docs": (1000, 200)},
}
# Nominal seconds per round on 4 cores: a run executes seconds / ROUND_S
# whole rounds (at least one), so every run of a workload does the same work.
ROUND_S = {"search": 10, "analytics": 15, "ingest": 12, "dedup": 2.5}
# Untimed rounds in set-up. Only dedup has one: nothing else in its set-up
# warms the JVM, and its first run takes about 3.5 times a warm one.
WARMUP_ROUNDS = {"search": 0, "analytics": 0, "ingest": 0, "dedup": 1}


def size(workload, key, smoke):
    return SIZES[workload][key][1 if smoke else 0]


def terms(rng, k):
    return [TERMS[i] for i in rng.choice(len(TERMS), size=k, replace=False, p=TERM_P)]


def vec_literal(v):
    return "CAST(array(" + ", ".join(repr(float(x)) for x in v) + ") AS ARRAY<FLOAT>)"


def op(key, kind, sql=None, claimable=False, **spec):
    return {"key": key, "kind": kind, "sql": sql, "claimable": claimable, "spec": spec}


# ---- statement shapes over a documents view and an embeddings view --------

def match_sql(view, expr, min_chars=None):
    where = expr + (f" AND n_chars > {min_chars}" if min_chars else "")
    return f"SELECT doc_id FROM {view} WHERE {where}"


def ts(q):
    return f"ts_match(text, '{q}', 'whitespace')"


def topk_sql(view, scorer, qterms, k, min_chars=None):
    where = f"WHERE n_chars > {min_chars} " if min_chars else ""
    return (f"SELECT doc_id FROM {view} {where}ORDER BY {scorer}(text, "
            f"'{' '.join(qterms)}', 'whitespace') DESC LIMIT {k}")


def cte_sql(view, qterms, pair):
    return (f"WITH lex AS (SELECT doc_id, bm25(text, '{' '.join(qterms)}', 'whitespace') AS s "
            f"FROM {view} ORDER BY s DESC LIMIT 10), "
            f"c AS (SELECT doc_id FROM {view} WHERE {ts(' '.join(pair))}) "
            "SELECT 'norm' AS leg, doc_id, "
            "CAST(round(s / nullif((SELECT max(s) FROM lex), 0) * 10000) AS BIGINT) AS v FROM lex "
            "UNION ALL SELECT 'dup' AS leg, doc_id, CAST(count(*) AS BIGINT) AS v "
            "FROM (SELECT doc_id FROM c UNION ALL SELECT doc_id FROM c) GROUP BY doc_id")


def ann_sql(view, q, k=10):
    return f"SELECT vec_id FROM {view} ORDER BY ann_l2(embedding, {vec_literal(q)}) LIMIT {k}"


def search_round(rng, docs, emb, queries):
    """One round: every claimed statement shape the search workload covers."""
    x = lambda: int(rng.choice([100, 200, 300, 400]))
    a, b = terms(rng, 2)
    c, d = terms(rng, 2)
    p = terms(rng, 2)
    specs = [
        ("match", {"must": [a]}, match_sql(docs, ts(a))),
        ("match_and_filter", {"must": [a, b], "min_chars": (m := x())},
         match_sql(docs, ts(f"{a} {b}"), m)),
        ("match_not", {"must": [c], "not": [d]},
         match_sql(docs, f"{ts(c)} AND NOT {ts(d)}")),
        ("match_or_filter", {"any": [a, d], "min_chars": (m2 := x())},
         match_sql(docs, f"({ts(a)} OR {ts(d)})", m2)),
        ("phrase", {"phrase": p},
         match_sql(docs, f"ts_match(text, ts_phrase('{' '.join(p)}'), 'whitespace')")),
    ]
    for scorer, k, filt in [("bm25", 10, False), ("bm25", 100, True), ("bm25", 1000, False),
                            ("tfidf", 10, True), ("tfidf", 100, False), ("tfidf", 1000, True)]:
        qt = terms(rng, int(rng.integers(2, 4)))
        m = x() if filt else None
        specs.append((f"{scorer}_top{k}" + ("_filter" if filt else ""),
                      {"scorer": scorer, "terms": qt, "k": k, "min_chars": m},
                      topk_sql(docs, scorer, qt, k, m)))
    qt = terms(rng, 3)
    specs.append(("cte_multiref", {"terms": qt, "pair": p}, cte_sql(docs, qt, p)))
    qv = queries[int(rng.choice(len(queries), p=zipf(len(queries))))]
    specs.append(("ann_top10", {"query": [float(v) for v in qv]}, ann_sql(emb, qv)))
    return [op(sql, kind, sql, claimable=True, **spec) for kind, spec, sql in specs]


# ---- workloads -----------------------------------------------------------

def prepare(workload, seed, data, seconds, smoke):
    """Write the inputs; return the plan the harness runs and the context the
    checks need (the ingest workload's corpus as of each batch)."""
    rng = np.random.default_rng(seed)
    os.makedirs(data, exist_ok=True)
    n = max(1, round(seconds / ROUND_S[workload]))
    plan = {"name": workload, "data": data,
            "warmup_rounds": 0 if smoke else WARMUP_ROUNDS[workload]}
    ctx = None
    if workload == "search":
        gen.write(gen.documents(rng, size("search", "docs", smoke)), f"{data}/docs.parquet")
        gen.write(gen.embeddings(rng, size("search", "vecs", smoke)), f"{data}/emb.parquet")
        _, queries = gen.embedding_values(rng, 16)
        plan["rounds"] = [{"moves": [], "ops": search_round(rng, "search_docs", "search_emb", queries)}
                          for _ in range(n)]
    elif workload == "analytics":
        for name, table in gen.tpch(rng, size("analytics", "sf", smoke)).items():
            gen.write(table, f"{data}/{name}.parquet")
        # Tables.registerAll loads the corpus tables too
        gen.write(gen.documents(rng, 20), f"{data}/documents.parquet")
        gen.write(gen.embeddings(rng, 20), f"{data}/embeddings.parquet")
        names = [f"tpch_q{i:02d}" for i in range(1, 23)]
        plan["rounds"] = [{"moves": [], "ops": [op(q, q) for q in rng.permutation(names)]}
                          for _ in range(n)]
    elif workload == "ingest":
        ctx = Ingest(rng, data, smoke)
        plan["rounds"] = ctx.rounds(n)
    elif workload == "dedup":
        gen.write(gen.documents(rng, size("dedup", "docs", smoke)), f"{data}/docs.parquet")
        plan["rounds"] = [{"moves": [], "ops": [op("dedup", "dedup")]} for _ in range(n)]
    return plan, ctx


class Ingest:
    """A base corpus in chunk files, then seeded batches. Each batch adds
    documents in a new file, rewrites one chunk file with some documents
    changed and some deleted, and appends vectors in a new file. New and
    changed documents carry the batch's marker token `w<b>`."""
    CHUNKS, NEW, CHANGED, DELETED, NEW_VECS = 4, 20, 5, 5, 10

    def __init__(self, rng, data, smoke):
        self.rng, self.data = rng, data
        n_docs, n_vecs = size("ingest", "docs", smoke), size("ingest", "vecs", smoke)
        base = gen.documents(rng, n_docs)
        bounds = np.linspace(0, n_docs, self.CHUNKS + 1).astype(int)
        self.chunks = {f"chunk-{k}": base.slice(bounds[k], bounds[k + 1] - bounds[k])
                       for k in range(self.CHUNKS)}
        for name, t in self.chunks.items():
            gen.write(t, f"{data}/src_docs/{name}.parquet")
        gen.write(gen.embeddings(rng, n_vecs), f"{data}/src_emb/base.parquet")
        self.next_doc, self.next_vec = n_docs, n_vecs
        self.snapshots = []  # the live documents after each batch

    def rounds(self, n):
        out = []
        for b in range(1, n + 1):
            rng, d = self.rng, self.data
            marker = f"w{b}"
            name = f"chunk-{(b - 1) % self.CHUNKS}"
            chunk = self.chunks[name]
            ids = chunk.column("doc_id").to_numpy()
            picked = rng.choice(len(ids), size=self.CHANGED + self.DELETED, replace=False)
            deleted = set(ids[picked[self.DELETED:]].tolist())
            changed = ids[picked[:self.CHANGED]].tolist()
            fresh = gen.documents(rng, self.CHANGED, marker=marker)
            keep = chunk.filter(pa.array([i not in deleted and i not in set(changed) for i in ids]))
            fresh = fresh.set_column(0, "doc_id", pa.array(changed, pa.int64()))
            fresh = fresh.set_column(3, "source", pa.array([f"src{i % 20}" for i in changed]))
            self.chunks[name] = pa.concat_tables([keep, fresh])
            new = gen.documents(rng, self.NEW, first_id=self.next_doc, marker=marker)
            self.next_doc += self.NEW
            vecs = gen.embeddings(rng, self.NEW_VECS, first_id=self.next_vec)
            self.next_vec += self.NEW_VECS
            self.chunks[f"b{b:03d}"] = new
            stage = f"{d}/stage/b{b:03d}"
            gen.write(self.chunks[name], f"{stage}/{name}.parquet")
            gen.write(new, f"{stage}/new.parquet")
            gen.write(vecs, f"{stage}/emb.parquet")
            moves = [[f"{stage}/{name}.parquet", f"{d}/src_docs/{name}.parquet"],
                     [f"{stage}/new.parquet", f"{d}/src_docs/b{b:03d}.parquet"],
                     [f"{stage}/emb.parquet", f"{d}/src_emb/b{b:03d}.parquet"]]
            a, c = terms(rng, 2)
            qv = vecs.column("embedding")[int(rng.integers(0, self.NEW_VECS))].as_py()
            qv = (np.array(qv, np.float32) + rng.normal(0, 0.01, gen.DIM)).astype(np.float32)
            k = f"b{b}:"
            docs, emb = "ingest_docs", "ingest_emb"
            out.append({"moves": moves, "ops": [
                op(k + "refresh_text", "refresh_text", "REFRESH SEARCH INDEX ingest_text",
                   batch=b, added=self.NEW + self.CHANGED),
                op(k + "refresh_vec", "refresh_vec", "REFRESH SEARCH INDEX ingest_vec",
                   batch=b, added=self.NEW_VECS),
                op(k + "marker", "match", match_sql(docs, ts(marker)), True,
                   batch=b, must=[marker]),
                op(k + "bm25", "bm25_top10", topk_sql(docs, "bm25", [a, marker], 10), True,
                   batch=b, scorer="bm25", terms=[a, marker], k=10, min_chars=None),
                op(k + "not", "match_not", match_sql(docs, f"{ts(a)} AND NOT {ts(c)}"), True,
                   batch=b, must=[a], **{"not": [c]}),
                op(k + "ann", "ann_top10", ann_sql(emb, qv), True,
                   batch=b, query=[float(v) for v in qv]),
            ]})
            self.snapshots.append(pa.concat_tables(list(self.chunks.values())))
        return out


# ---- checks ---------------------------------------------------------------

def _tokens_table(con, docs):
    con.register("docs_in", docs)
    con.execute("CREATE OR REPLACE TABLE d AS SELECT doc_id, n_chars, "
                "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ts FROM docs_in")
    con.unregister("docs_in")


def _where(spec):
    parts = [f"list_contains(ts, '{t}')" for t in spec.get("must", [])]
    parts += [f"NOT list_contains(ts, '{t}')" for t in spec.get("not", [])]
    if spec.get("any"):
        parts.append("(" + " OR ".join(f"list_contains(ts, '{t}')" for t in spec["any"]) + ")")
    if spec.get("phrase"):
        parts.append(f"' ' || array_to_string(ts, ' ') || ' ' LIKE '% {' '.join(spec['phrase'])} %'")
    if spec.get("min_chars"):
        parts.append(f"n_chars > {spec['min_chars']}")
    return " AND ".join(parts)


def _scores(con, scorer, qterms):
    """(doc_id -> score) for every document with a positive score, the
    engine's BM25 (k1 1.2, b 0.75) and TF-IDF formulas from raw tokens."""
    tf = ", ".join(f"CAST(len(list_filter(ts, t -> t = '{t}')) AS DOUBLE) AS tf{i}"
                   for i, t in enumerate(qterms))
    df = ", ".join(f"greatest(CAST(count(*) FILTER (WHERE tf{i} > 0) AS DOUBLE), 1.0) AS df{i}"
                   for i in range(len(qterms)))
    if scorer == "bm25":
        score = " + ".join(
            f"ln(1.0 + (nd - df{i} + 0.5) / (df{i} + 0.5)) * tf{i} * (1.2 + 1.0) / "
            f"(tf{i} + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dlen AS DOUBLE) / avgdl))"
            for i in range(len(qterms)))
    else:
        score = " + ".join(f"sqrt(tf{i}) * ln(1.0 + (nd + 1.0) / (df{i} + 1.0))"
                           for i in range(len(qterms)))
    rows = con.execute(
        f"WITH tfs AS (SELECT doc_id, n_chars, len(ts) AS dlen, {tf} FROM d), "
        "st AS (SELECT CAST(count(*) AS DOUBLE) AS nd, "
        "CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl FROM tfs), "
        f"dfs AS (SELECT {df} FROM tfs) "
        f"SELECT doc_id, n_chars, {score} AS score FROM tfs, st, dfs").fetchall()
    return {r[0]: (r[2], r[1]) for r in rows if r[2] > 0}


def _close(a, b):
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def check_topk(got, scores, k, min_chars):
    """The engine's ids must be a top-k by score: the same length and the same
    score sequence as the exact ranking (ties broken by doc_id), each id
    passing the filter. Ties at the cut may be broken either way."""
    cand = [(s, i) for i, (s, n) in scores.items() if not min_chars or n > min_chars]
    want = [i for s, i in sorted(cand, key=lambda t: (-t[0], t[1]))[:k]]
    if got == want:
        return None
    if len(got) != len(want) or len(set(got)) != len(got):
        return f"top-{k}: {len(got)} rows, expected {len(want)}"
    for g, w in zip(got, want):
        if g not in scores or (min_chars and scores[g][1] <= min_chars):
            return f"top-{k}: doc {g} does not qualify"
        if not _close(scores[g][0], scores[w][0]):
            return f"top-{k}: doc {g} scores {scores[g][0]}, rank holds {scores[w][0]}"
    return None


def check_ann(got, vec_ids, vecs, query, k=10):
    """Exact top-k by squared L2 over float32 inputs (ties by vec_id): the
    probe is adaptive-exact, so it must return these vectors."""
    q = np.array(query, np.float32).astype(np.float64)
    dist = ((vecs.astype(np.float64) - q) ** 2).sum(axis=1)
    order = np.lexsort((vec_ids, dist))[:k]
    want = vec_ids[order].tolist()
    if sorted(got) == sorted(want):
        return None
    by_id = dict(zip(vec_ids.tolist(), dist.tolist()))
    gd = sorted(by_id.get(g, math.inf) for g in got)
    if len(got) == len(want) and all(_close(a, b) for a, b in zip(gd, sorted(dist[order]))):
        return None
    return f"ann top-{k}: got {sorted(got)}, exact {sorted(want)}"


def _round_half_up(x):
    """Spark's round() of a double: half up on the shortest decimal form."""
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def check_search_op(con, spec, kind, rows, emb_ids, emb_vecs):
    if kind.startswith(("match", "phrase")):
        want = [r[0] for r in con.execute(
            f"SELECT doc_id FROM d WHERE {_where(spec)} ORDER BY doc_id").fetchall()]
        got = sorted(r[0] for r in rows)
        return None if got == want else f"{len(got)} rows, expected {len(want)}"
    if kind.startswith(("bm25", "tfidf")):
        return check_topk([r[0] for r in rows], _scores(con, spec["scorer"], spec["terms"]),
                          spec["k"], spec["min_chars"])
    if kind == "cte_multiref":
        sc = _scores(con, "bm25", spec["terms"])
        lex = sorted(((s, i) for i, (s, _) in sc.items()), key=lambda t: (-t[0], t[1]))[:10]
        top = max((s for s, _ in lex), default=0.0)
        want = [("norm", i, _round_half_up(s / top * 10000)) for s, i in lex] if top else \
            [("norm", i, None) for _, i in lex]
        want += [("dup", r[0], 2) for r in con.execute(
            f"SELECT doc_id FROM d WHERE {_where({'must': spec['pair']})}").fetchall()]
        got = sorted(tuple(r) for r in rows)
        return None if got == sorted(want) else "cte rows differ"
    if kind == "ann_top10":
        return check_ann([r[0] for r in rows], emb_ids, emb_vecs, spec["query"])
    return f"no check for {kind}"


def _emb(table):
    return (table.column("vec_id").to_numpy(),
            np.array(table.column("embedding").to_pylist(), np.float32))


def check(plan, ctx, result):
    """Verdict per operation key: None when right, else the reason."""
    name, data = plan["name"], plan["data"]
    specs = {o["key"]: o for r in plan["rounds"] for o in r["ops"]}
    answers = result["answers"]
    verdict = {}
    con = duckdb.connect()
    if name == "search":
        _tokens_table(con, pq.read_table(f"{data}/docs.parquet"))
        ids, vecs = _emb(pq.read_table(f"{data}/emb.parquet"))
        for key, rows in answers.items():
            o = specs[key]
            verdict[key] = check_search_op(con, o["spec"], o["kind"], rows, ids, vecs)
    elif name == "analytics":
        for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for key, rows in answers.items():
            want = con.execute(result["oracles"][key]).fetchall()
            verdict[key] = _same_rows(rows, want)
    elif name == "ingest":
        by_batch = {}
        for key in answers:
            by_batch.setdefault(specs[key]["spec"]["batch"], []).append(key)
        for b, keys in sorted(by_batch.items()):
            _tokens_table(con, ctx.snapshots[b - 1])
            embs = [pq.read_table(f"{data}/src_emb/base.parquet")]
            embs += [pq.read_table(f"{data}/src_emb/b{i:03d}.parquet") for i in range(1, b + 1)]
            ids, vecs = _emb(pa.concat_tables(embs))
            for key in keys:
                o = specs[key]
                rows = answers[key]
                if o["kind"] == "refresh_text":
                    m = re.search(r"\(\+(\d+) docs\)", str(rows))
                    verdict[key] = None if m and int(m.group(1)) == o["spec"]["added"] \
                        else f"refresh said {rows}, expected +{o['spec']['added']} docs"
                elif o["kind"] == "refresh_vec":
                    m = re.search(r"\(\+(\d+) vectors\)", str(rows))
                    verdict[key] = None if m and int(m.group(1)) == o["spec"]["added"] \
                        else f"refresh said {rows}, expected +{o['spec']['added']} vectors"
                else:
                    verdict[key] = check_search_op(con, o["spec"], o["kind"], rows, ids, vecs)
    elif name == "dedup":
        want = exact_jaccard_pairs(pq.read_table(f"{data}/docs.parquet"), 0.9)
        for key, rows in answers.items():
            got = sorted(tuple(r) for r in rows)
            verdict[key] = None if got == want else \
                f"{len(got)} pairs, expected {len(want)} exact Jaccard >= 0.9 pairs"
    con.close()
    return verdict


def _same_rows(got, want):
    key = lambda row: tuple((v is None, str(type(v)), v if v is not None else 0) for v in row)
    norm = lambda row: tuple(float(v) if isinstance(v, (int, float, Decimal))
                             and not isinstance(v, bool) else v for v in row)
    g = sorted((norm(r) for r in got), key=key)
    w = sorted((norm(tuple(r)) for r in want), key=key)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for a, b in zip(g, w):
        if len(a) != len(b) or any(
                not (x == y or (isinstance(x, float) and isinstance(y, float) and _close(x, y)))
                for x, y in zip(a, b)):
            return f"row differs: got {a}, expected {b}"
    return None


def exact_jaccard_pairs(docs, min_j):
    """All (ida, idb, round(J * 10000)) with ida < idb and exact Jaccard of the
    documents' word 3-shingle sets at least min_j."""
    sets = {}
    for i, text in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
        toks = [t for t in re.split(r"\s+", text.lower()) if t]
        sets[i] = {" ".join(toks[j:j + 3]) for j in range(max(len(toks) - 2, 1))}
    post = {}
    for i, s in sets.items():
        for sh in s:
            post.setdefault(sh, []).append(i)
    common = {}
    for ids in post.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                p = (min(ids[x], ids[y]), max(ids[x], ids[y]))
                common[p] = common.get(p, 0) + 1
    out = []
    for (a, b), c in common.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= min_j:
            out.append((a, b, _round_half_up(j * 10000)))
    return sorted(out)
