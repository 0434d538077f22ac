"""Output checks for the perfbench workloads (untimed).

Each check function returns a list of (name, ok, detail). run.py counts
every failed check into `failed` and `error_rate`.

  news_elt           the warehouse tables against the same oracle chain
                     (NewsPipeline's staging -> transformed -> marts CTEs)
                     with raw_news replaced by the deduplicated landing
                     files; the dashboard read-backs against DuckDB on the
                     written warehouse files
  corpus_curation    invariants recomputed in Python from the generated
                     inputs: exact groups, Jaccard of every verified pair,
                     min-id components equal to the union-find partition,
                     SimHash fingerprints, a from-scratch BPE replay, and
                     IVF top-k membership and order; every registry query
                     result against the engine's own DuckDB oracle SQL
                     (graft.SparkEntry.oracleSql) on the same tables
"""
import hashlib
import math
import re
import struct
from decimal import Decimal
from fractions import Fraction

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _con():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _columns(con, sql):
    return [(r[0], r[1]) for r in con.execute(
        f"DESCRIBE SELECT * FROM ({sql})").fetchall()]


def _norm(name, typ):
    # Spark writes timestamps as UTC instants; the oracle's are local
    # (session zone UTC), so both sides compare as plain TIMESTAMP
    q = f'"{name}"'
    return f"CAST({q} AS TIMESTAMP)" if typ.startswith("TIMESTAMP") else q


def relation_diff(con, name, exp_sql, got_sql):
    """Multiset equality of two relations on the expected columns."""
    try:
        ecols = _columns(con, exp_sql)
        gcols = dict(_columns(con, got_sql))
        names = [c for c, _ in ecols]
        missing = [c for c in names if c not in gcols]
        if missing:
            return (name, False, f"missing columns {missing}")
        etypes = dict(ecols)
        e = ", ".join(_norm(c, etypes[c]) for c in names)
        g = ", ".join(_norm(c, gcols[c]) for c in names)
        n_exp = con.execute(f"SELECT count(*) FROM ({exp_sql})").fetchone()[0]
        n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT {e} FROM ({exp_sql}) EXCEPT ALL "
            f"SELECT {g} FROM ({got_sql})) UNION ALL (SELECT {g} FROM "
            f"({got_sql}) EXCEPT ALL SELECT {e} FROM ({exp_sql})))"
        ).fetchone()[0]
        ok = diff == 0 and n_exp == n_got
        return (name, ok, f"{n_got} rows, expected {n_exp}, {diff} differ")
    except Exception as ex:  # a check that cannot run is a failed check
        return (name, False, f"{type(ex).__name__}: {ex}".splitlines()[0])


_ARROW = {"bigint": pa.int64(), "int": pa.int32(), "smallint": pa.int16(),
          "tinyint": pa.int8(), "string": pa.string(), "boolean": pa.bool_()}


def result_table(res):
    """A collected result (graftbench.Results.encode) as an Arrow table."""
    names = [n for n, _ in res["schema"]]
    cols = list(zip(*res["rows"])) if res["rows"] else [()] * len(names)
    arrays = []
    for (_, t), col in zip(res["schema"], cols):
        col = list(col)
        if t in ("double", "float"):
            arrays.append(pa.array(
                [None if v is None else
                 struct.unpack("<d", struct.pack("<q", v))[0] for v in col],
                pa.float64()))
        elif t == "date":
            arrays.append(pa.array(col, pa.int32()).cast(pa.date32()))
        elif t.startswith("timestamp"):
            arrays.append(pa.array(col, pa.int64()).cast(pa.timestamp("us")))
        elif t.startswith("decimal("):
            p, s = (int(x) for x in t[8:-1].split(","))
            arrays.append(pa.array([None if v is None else Decimal(v)
                                    for v in col], pa.decimal128(p, s)))
        else:
            arrays.append(pa.array(col, _ARROW.get(t, pa.string())))
    return pa.Table.from_arrays(arrays, names=names)


def _parquet(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def check_registry(data, outputs, tables):
    """Each registry query's first result against its DuckDB oracle."""
    con = _con()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/tables/{t}.parquet')")
    res = []
    for prefix, sql in sorted(outputs["oracles"].items()):
        if sql is None:
            res.append((prefix, True, "no oracle SQL; not compared"))
            continue
        con.register(f"got_{prefix}", result_table(outputs["results"][prefix]))
        res.append(relation_diff(con, prefix, sql,
                                 f"SELECT * FROM got_{prefix}"))
    return res


# -------------------------------------------------------------- news_elt

def _dedup_key():
    """NewsStream.dedupedIngest's article_key."""
    return ("md5(concat_ws('-', title, source_name, url, "
            "coalesce(article_content, '')))")


def news_raw_cte(landing):
    """raw_news as the streaming ingest defines it: the landing rows, one
    per dedup key, the first micro-batch's copy winning."""
    return (
        "raw_news AS (SELECT * EXCLUDE (rn, filename, publishedat, "
        "ingest_ts), CAST(publishedat AS TIMESTAMP) AS publishedat, "
        "CAST(ingest_ts AS TIMESTAMP) AS ingest_ts FROM (SELECT *, "
        f"row_number() OVER (PARTITION BY {_dedup_key()} ORDER BY filename)"
        f" AS rn FROM read_parquet('{landing}/*.parquet', filename = true))"
        " WHERE rn = 1)")


def with_raw(oracle_sql, landing):
    """Swap the oracle chain's first CTE (raw_news derived from the
    testdata tables) for the landing-file form."""
    head, sep, tail = oracle_sql.partition("stg AS (")
    if not sep or not head.lstrip().upper().startswith("WITH RAW_NEWS"):
        raise ValueError("oracle SQL does not start with the raw_news CTE")
    return f"WITH {news_raw_cte(landing)},\n{sep}{tail}"


def _chain_select(oracles, landing, select):
    """The oracle CTE chain (through `articles`) ending in `select`."""
    chain = with_raw(oracles["q34_news_articles_mart"], landing)
    return chain[:chain.rindex("SELECT ARTICLE_ID, TITLE")] + select


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def check_news(data, outputs):
    con = _con()
    landing = f"{data}/landing"
    wh = outputs["warehouse"]
    orc = outputs["news_oracles"]
    res = []
    cols = ("id, source_name, source_country, category, author, author_email,"
            " author_page_url, title, description, url, publishedat, "
            "article_content, bias, language, ingest_ts")
    res.append(relation_diff(
        con, "raw_news_stream",
        f"WITH {news_raw_cte(landing)} SELECT {cols}, {_dedup_key()} AS "
        "article_key FROM raw_news",
        f"SELECT * FROM read_parquet('{wh}/raw_news_stream/*.parquet')"))
    res.append(relation_diff(con, "articles",
                             with_raw(orc["q34_news_articles_mart"], landing),
                             f"SELECT * FROM {_parquet(wh + '/articles')}"))
    res.append(relation_diff(con, "authors",
                             with_raw(orc["q35_news_authors_dim"], landing),
                             f"SELECT * FROM {_parquet(wh + '/authors')}"))
    res.append(relation_diff(
        con, "sources",
        _chain_select(orc, landing, "SELECT DISTINCT SOURCE_ID, "
                      "NEWS_SOURCE_NAME, BIAS FROM transformed"),
        f"SELECT * FROM {_parquet(wh + '/sources')}"))
    res.append(relation_diff(
        con, "bridge",
        _chain_select(orc, landing, "SELECT DISTINCT ARTICLE_AUTHOR_ID, "
                      "ARTICLE_ID, AUTHOR_ID FROM transformed"),
        f"SELECT * FROM {_parquet(wh + '/bridge')}"))
    res.append(relation_diff(con, "raw_news_en",
                             with_raw(orc["q37_news_translate"], landing),
                             f"SELECT * FROM {_parquet(wh + '/raw_news_en')}"))
    res.append(relation_diff(
        con, "sentiment",
        "SELECT article_id, sentiment_mark, sentiment_poilievre FROM ("
        + with_raw(orc["q39_news_sentiment_roundtrip"], landing) + ")",
        f"SELECT * FROM {_parquet(wh + '/sentiment')}"))
    # the incremental mart transforms each micro-batch on its own, so only
    # its totals are batch-independent: one row per article id, and the
    # versions it counts are exactly the transformed rows
    try:
        n_tr = con.execute(_chain_select(
            orc, landing, "SELECT count(*) FROM transformed")).fetchone()[0]
        n, n_ids, versions = con.execute(
            "SELECT count(*), count(DISTINCT ARTICLE_ID), sum(n_versions) "
            f"FROM {_parquet(wh + '/articles_mart')}").fetchone()
        res.append(("articles_mart", n == n_ids and versions == n_tr,
                    f"{n} rows, {n_ids} ids, {versions} versions, "
                    f"expected {n_tr}"))
    except Exception as ex:
        res.append(("articles_mart", False, str(ex).splitlines()[0]))
    # read-backs: the same SQL on the same files, in DuckDB
    for t in ["articles", "authors", "bridge", "sentiment"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {_parquet(wh + '/' + t)}")
    for label, sql in sorted(outputs["readback_sql"].items()):
        try:
            exp = con.execute(sql).fetchall()
            got = result_table(outputs["readback"][label]).to_pylist()
            got = [tuple(r.values()) for r in got]
            ok = len(exp) == len(got) and all(
                len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
                for a, b in zip(sorted(exp, key=repr), sorted(got, key=repr)))
            res.append((f"readback {label}", ok,
                        f"{len(got)} rows, expected {len(exp)}"))
        except Exception as ex:
            res.append((f"readback {label}", False, str(ex).splitlines()[0]))
    return res


# ------------------------------------------------------- corpus_curation

def tokens(text):
    return [w for w in re.split("[^a-z]+", text.lower()) if w]


def shingles(toks, n):
    m = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i:i + n]) for i in range(m)}


def round_half_up(fr, digits):
    scaled = fr * 10 ** digits
    return math.floor(scaled + Fraction(1, 2)) / 10 ** digits


def hash60(s):
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def bpe_train(word_counts, rounds):
    """Greedy BPE as graft.functions.Bpe documents it: argmax pair by
    weight desc then pair asc; merge left to right, non-overlapping."""
    syms = {w: " ".join(w) for w in word_counts}
    merges = []
    for r in range(rounds):
        weights = {}
        for w, s in syms.items():
            parts = s.split(" ")
            for a, b in zip(parts, parts[1:]):
                weights[f"{a} {b}"] = weights.get(f"{a} {b}", 0) + word_counts[w]
        if not weights:
            break
        pair = min(weights, key=lambda p: (-weights[p], p))
        a, b = pair.split(" ")
        merges.append([r, a, b, a + b])
        pat = re.compile(f" {re.escape(a)} {re.escape(b)}(?= )")
        syms = {w: pat.sub(f" {a}{b}", f" {s} ").strip()
                for w, s in syms.items()}
    return merges, syms


def check_corpus(data, outputs):
    res = []
    p = outputs["params"]
    docs = pq.read_table(f"{data}/tables/documents.parquet",
                         columns=["doc_id", "text"]).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    toks = {d: tokens(t) for d, t in text.items()}

    groups = {}
    for d, t in text.items():
        groups.setdefault(hashlib.md5(t.encode()).hexdigest(), []).append(d)
    exp = sorted([min(v), len(v)] for v in groups.values() if len(v) > 1)
    got = sorted([int(a), int(b)] for a, b in outputs["exact_groups"])
    res.append(("exact groups", exp == got,
                f"{len(got)} groups, expected {len(exp)}"))

    sh = {}
    bad = 0
    for a, b, j in outputs["verified"]:
        for d in (a, b):
            if d not in sh:
                sh[d] = shingles(toks[d], p["shingle_n"])
        inter = len(sh[a] & sh[b])
        exact = round_half_up(Fraction(inter, len(sh[a] | sh[b])), 6)
        if not (a < b and abs(exact - j) < 1e-12 and j >= p["threshold"]):
            bad += 1
    n_ver, n_cand = len(outputs["verified"]), outputs["lsh_candidates"]
    res.append(("verified pairs", bad == 0 and n_ver <= n_cand,
                f"{n_ver} pairs of {n_cand} candidates, {bad} wrong"))

    parent = {d: d for d in text}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, _ in outputs["verified"]:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for d in text:
        members.setdefault(find(d), []).append(d)
    exp_label = {d: min(m) for m in members.values() for d in m}
    got_label = {int(i): int(c) for i, c in outputs["labels"]}
    min_ok = all(c == min(ms) for c, ms in _by_component(got_label).items())
    res.append(("components", got_label == exp_label and min_ok,
                f"{len(set(got_label.values()))} components, expected "
                f"{len(members)}; ids are member minima: {min_ok}"))

    vocab = sorted({w for ts in toks.values() for w in ts})
    index = {w: i for i, w in enumerate(vocab)}
    bits = np.array([[(hash60(w) >> b) & 1 for b in range(p["simhash_bits"])]
                     for w in vocab], dtype=np.int64) * 2 - 1

    def fingerprint(d):
        ids, cnt = np.unique([index[w] for w in toks[d]], return_counts=True)
        votes = (bits[ids] * cnt[:, None]).sum(axis=0)
        return sum(1 << b for b in range(p["simhash_bits"]) if votes[b] > 0)
    fps, bad = {}, 0
    for a, b, fa, fb, ham in outputs["simhash_pairs"]:
        for d, f in ((a, fa), (b, fb)):
            if d not in fps:
                fps[d] = fingerprint(d)
            bad += fps[d] != f
        bad += not (a < b and ham == bin(fa ^ fb).count("1")
                    and ham <= p["simhash_radius"])
    res.append(("simhash pairs", bad == 0,
                f"{len(outputs['simhash_pairs'])} pairs, {bad} wrong"))

    counts = {}
    for ts in toks.values():
        for w in ts:
            counts[w] = counts.get(w, 0) + 1
    merges, syms = bpe_train(counts, p["bpe_rounds"])
    got_merges = [[int(r), a, b, m] for r, a, b, m in outputs["bpe_merges"]]
    got_syms = dict(outputs["bpe_vocab"])
    res.append(("bpe merges", got_merges == merges and got_syms == syms,
                f"{len(got_merges)} merges, {len(got_syms)} words"))
    pieces = {w: len(s.split(" ")) for w, s in syms.items()}
    exp_enc = {d: (len(ts), sum(pieces[w] for w in ts))
               for d, ts in toks.items() if ts}
    got_enc = {int(d): (int(n), int(k)) for d, n, k in outputs["bpe_encoded"]}
    res.append(("bpe encode", got_enc == exp_enc,
                f"{len(got_enc)} docs, expected {len(exp_enc)}"))

    res.append(_check_ann(data, outputs, p))
    return res + check_registry(data, outputs, ["documents", "embeddings"])


def _by_component(label):
    out = {}
    for d, c in label.items():
        out.setdefault(c, []).append(d)
    return out


def _check_ann(data, outputs, p):
    t = pq.read_table(f"{data}/tables/embeddings.parquet",
                      columns=["vec_id", "embedding"]).to_pydict()
    ids = np.array(t["vec_id"])
    emb = np.array(t["embedding"], dtype=np.float32).astype(np.float64)
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    cells, k = p["ann_cells"], p["ann_k"]
    cent = unit[np.argsort(ids)][:cells]
    sims = unit @ cent.T
    order = np.sort(sims, axis=1)
    cell = np.argmax(sims, axis=1)
    # assignments within rounding of a tie may go either way
    ambiguous = (order[:, -1] - order[:, -2]) < 1e-9
    pos = {int(v): i for i, v in enumerate(ids)}
    bad = 0
    for q, rows in outputs["ann"]:
        qi = pos[int(q)]
        cos = unit @ unit[qi]
        got = [(int(v), c) for v, c in rows]
        in_cell = (cell == cell[qi]) | ambiguous
        bad += any(abs(cos[pos[v]] - c) > 1e-9 or not in_cell[pos[v]]
                   for v, c in got)
        bad += any(a[1] < b[1] for a, b in zip(got, got[1:]))
        if got:
            kth = got[-1][1]
            rest = set(np.flatnonzero(in_cell & ~ambiguous)) - \
                {pos[v] for v, _ in got}
            bad += len(got) < k and len(rest) > 0
            bad += any(cos[i] > kth + 1e-9 for i in rest)
    return ("ann top-k", bad == 0, f"{len(outputs['ann'])} queries, {bad} wrong")


CHECKS = {"news_elt": check_news, "corpus_curation": check_corpus}


def run_checks(workload, data, outputs):
    try:
        return CHECKS[workload](data, outputs)
    except Exception as ex:
        return [("checks", False, f"{type(ex).__name__}: {ex}")]
